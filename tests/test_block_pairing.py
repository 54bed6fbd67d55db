"""Spark-free property tests of the block triple pass's pairing
(``whole_groups`` + ``pair_mentions``) against the loop oracle
``assemble_triples_pandas``: turns copied into blocks by the halo rule,
rows shuffled within each block, batches cut at arbitrary points."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

TRIPLE_COLS = ["conv_id", "window_start", "subj", "pred", "obj"]
ROLES = ["user", "assistant", "tool", "system", "", None]
TOOLS = ["", None, "search", "python"]


@st.composite
def corpora(draw):
    """(turns, mentions, block, window_turns, cuts, seed): up to three
    conversations of up to ~6 blocks, null/empty roles and tools,
    several mentions per turn over a small entity domain (same-turn
    pairs, ``subj == obj``, duplicate and null-canonical mentions)."""
    block = draw(st.integers(1, 5))
    window = draw(st.integers(0, 4))
    turns, mentions = [], []
    for ci in range(draw(st.integers(1, 3))):
        conv = f"c{ci}"
        n = draw(st.integers(1, 6 * block + window))
        # gaps in turn_idx, as after a filter upstream, and negative
        # turns, whose blocks floor below zero
        for t in sorted(draw(st.sets(st.integers(-3, n), min_size=1, max_size=n))):
            turns.append((conv, t, draw(st.sampled_from(ROLES)), draw(st.sampled_from(TOOLS))))
            for _ in range(draw(st.integers(0, 3))):
                c = draw(st.integers(0, 4))
                canon = draw(st.sampled_from(["A", "B", "C", None]))
                mentions.append((conv, t, c, canon))
    cuts = draw(st.lists(st.integers(0, 200), max_size=6))
    return (
        pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role", "tool"]),
        pd.DataFrame(
            mentions, columns=["conv_id", "turn_idx", "begin_char", "canonical"]
        ).astype({"turn_idx": "int64", "begin_char": "int64"}),
        block,
        window,
        cuts,
        draw(st.integers(0, 2**16)),
    )


def _block_rows(turns, mentions, block, window, seed):
    """The mentions, with their turn's role and tool, in ``_halo_copies``'
    block layout."""
    return _halo_copies(mentions.merge(turns, on=["conv_id", "turn_idx"]), block, window, seed)


def _halo_copies(rows, block, window, seed):
    """Each row once per block of its turn (halo rule), with ``own`` on
    its own block's copy; grouped by (conv_id, blk) in order, rows in
    random order within a group — the order the sorted exchange gives."""
    t = rows["turn_idx"].to_numpy()
    first, home = (t - window) // block, t // block
    reps = home - first + 1
    out = rows.loc[rows.index.repeat(reps)].reset_index(drop=True)
    out["blk"] = np.repeat(first, reps) + (
        np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    )
    out["own"] = out["blk"].to_numpy() == np.repeat(home, reps)
    rng = np.random.default_rng(seed)
    out = out.iloc[rng.permutation(len(out))]
    return out.sort_values(["conv_id", "blk"], kind="stable").reset_index(drop=True)


def _batches(rows, cuts):
    edges = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    return [rows.iloc[a:b] for a, b in zip(edges, edges[1:])]


def _run_blocks(rows, window, cuts):
    from reach_banner_spark.operators.triples import pair_mentions, whole_groups

    outs = [pair_mentions(chunk, window) for chunk in whole_groups(iter(_batches(rows, cuts)))]
    got = pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(columns=TRIPLE_COLS)
    return [tuple(r) for r in got[TRIPLE_COLS].itertuples(index=False, name=None)]


def _oracle(mentions, turns, window):
    from reach_banner_spark.operators.triples import assemble_triples_pandas

    want = assemble_triples_pandas(mentions, turns, window_turns=window)
    return {tuple(r) for r in want[TRIPLE_COLS].itertuples(index=False, name=None)}


@settings(max_examples=150, deadline=None)
@given(corpora())
def test_block_pairing_equals_loop_oracle(corpus):
    from reach_banner_spark.operators.triples import whole_groups

    turns, mentions, block, window, cuts, seed = corpus
    rows = _block_rows(turns, mentions, block, window, seed)
    got = _run_blocks(rows, window, cuts)
    # each triple from exactly one block: no distinct across blocks needed
    assert len(got) == len(set(got))
    assert set(got) == _oracle(mentions, turns, window)
    # chunks are cut at group edges only, at most one per input batch, and
    # a partition that arrives as one batch is one chunk
    batches = _batches(rows, cuts)
    chunks = list(whole_groups(iter(batches)))
    assert len(chunks) <= len(batches)
    assert len(list(whole_groups(iter([rows])))) == int(len(rows) > 0)
    if chunks:
        pd.testing.assert_frame_equal(
            pd.concat(chunks, ignore_index=True), rows.reset_index(drop=True)
        )
    groups = [set(zip(c["conv_id"], c["blk"])) for c in chunks]
    assert sum(map(len, groups)) == len(set().union(*groups))


@settings(max_examples=100, deadline=None)
@given(corpora(), st.integers(0, 30))
def test_block_pairing_new_objects_complete_the_stream(corpus, split):
    """The stream's per-batch contract: pairs whose object turn is new
    (turn_idx >= split), with subjects from tail and new turns, add
    exactly what the old turns' triples lack."""
    turns, mentions, block, window, cuts, seed = corpus
    rows = _block_rows(turns, mentions, block, window, seed)
    rows["new"] = rows["turn_idx"] >= split
    got = set(_run_blocks(rows, window, cuts))
    old = _oracle(mentions[mentions["turn_idx"] < split], turns, window)
    assert got | old == _oracle(mentions, turns, window)
    # every emitted window reaches a new turn
    assert all(t[1] + window >= split for t in got)


def test_chunk_triples_skips_groups_that_own_no_turn(lexicon_pdf, monkeypatch):
    """``chunk_triples`` (the per-chunk body of ``block_triples``) never
    hands a (conv_id, blk) group without an owned row to ``link_rows``,
    and its triples are the same with those groups in the input or
    removed beforehand, and equal the loop oracle. Turn indices start at
    0, below 0 and after gaps, so ownerless groups arise from the block
    below a conversation's first turn and from halo-only blocks across a
    gap."""
    from reach_banner_spark.fixtures import ensure_model, make_turns
    from reach_banner_spark.operators import mentions as mentions_mod
    from reach_banner_spark.operators.crf import CrfModel
    from reach_banner_spark.operators.linking import canonical_reps_pandas, lexicon_index
    from reach_banner_spark.operators.triples import chunk_triples, whole_groups

    model = CrfModel.load_npz(ensure_model())
    index = lexicon_index(lexicon_pdf).with_reps(canonical_reps_pandas(lexicon_pdf))
    turns, _ = make_turns(n_convs=8, skew_conv_turns=30, seed=3, lexicon=lexicon_pdf)
    rng = np.random.default_rng(0)
    turns = turns[rng.random(len(turns)) > 0.3].reset_index(drop=True)  # gaps
    # every other conversation starts at turn -7
    convs = sorted(set(turns["conv_id"]))
    turns["turn_idx"] += turns["conv_id"].map({c: -7 * (i % 2) for i, c in enumerate(convs)})
    turns = turns[["conv_id", "turn_idx", "text", "role", "tool"]]
    block, window = 4, 2
    rows = _halo_copies(turns, block, window, seed=1)
    owning = rows.groupby(["conv_id", "blk"])["own"].transform("any").to_numpy()
    assert (~owning).any()

    real = mentions_mod.link_rows
    seen = []

    def spy(texts, model, index):
        seen.append(texts.index.to_numpy())
        return real(texts, model, index)

    monkeypatch.setattr(mentions_mod, "link_rows", spy)

    def run(frame, cuts):
        edges = sorted({min(c, len(frame)) for c in cuts} | {0, len(frame)})
        batches = [frame.iloc[a:b] for a, b in zip(edges, edges[1:])]
        outs, linked = [], 0
        for chunk in whole_groups(iter(batches)):
            seen.clear()
            outs.append(chunk_triples(chunk, model, index, window))
            reached = np.concatenate(seen)
            owns = chunk.groupby(["conv_id", "blk"])["own"].transform("any")
            assert owns.loc[reached].all()
            linked += len(reached)
        got = pd.concat(outs, ignore_index=True)[TRIPLE_COLS]
        return [tuple(r) for r in got.itertuples(index=False, name=None)], linked

    with_all, linked = run(rows, [17, 40, 41, 300])
    assert linked == owning.sum()
    without, _ = run(rows[owning].reset_index(drop=True), [5, 90])
    assert len(with_all) == len(set(with_all)) and with_all
    assert set(with_all) == set(without)

    men = real(turns["text"], model, index)
    row = men["row"].to_numpy()
    mentions = pd.DataFrame(
        {
            "conv_id": turns["conv_id"].to_numpy()[row],
            "turn_idx": turns["turn_idx"].to_numpy()[row],
            "begin_char": men["begin_char"].to_numpy(),
            "canonical": men["canonical"].to_numpy(dtype=object),
        }
    )
    assert set(with_all) == _oracle(mentions, turns, window)
