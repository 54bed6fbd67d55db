#!/usr/bin/env python
"""Single-process CPU profile of the block pass's per-batch core.

Builds the seeded perfbench-shaped corpus (``make_turns(n_convs=1000,
skew_conv_turns=3000)``), copies each turn into its (conv_id, blk) blocks
as ``triples.block_triples`` does, hash-partitions the groups, sorts each
partition by (conv_id, blk), cuts it into Arrow-size batches of 10,000
rows and re-cuts those with ``whole_groups``. Each chunk then runs the
shipped ``triples.chunk_triples``, with the steps it calls timed in CPU
seconds (``time.process_time``):

  tokenize  tokenizer.tokenize_flat
  emission  features.emission_flat
  viterbi   mentions.viterbi_labels
  assembly  mentions.assemble_mentions
  link      mentions.link_recognized (parenthesis filter + LexiconIndex.link)
  pair      triples.pair_mentions
  other     the rest of chunk_triples (ownerless-group drop, row gathers)

Usage:
  python scripts/core_bench.py [--seed 1] [--repeat 3] [--partitions 4]

Prints one line per step, the median over ``--repeat`` passes, then the
chunk total. Spark is not started.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import defaultdict

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STEPS = (
    ("tokenize", "mentions", "tokenize_flat"),
    ("emission", "mentions", "emission_flat"),
    ("viterbi", "mentions", "viterbi_labels"),
    ("assembly", "mentions", "assemble_mentions"),
    ("link", "mentions", "link_recognized"),
    ("pair", "triples", "pair_mentions"),
)
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch (session.py)


def block_chunks(turns: pd.DataFrame, window_turns: int, partitions: int) -> list[pd.DataFrame]:
    """The chunks ``block_triples``' mapInPandas would see."""
    from reach_banner_spark.operators.triples import BLOCK, whole_groups

    t = turns["turn_idx"].to_numpy(dtype=np.int64)
    home, first = t // BLOCK, (t - window_turns) // BLOCK
    reps = home - first + 1
    rows = turns.loc[turns.index.repeat(reps)].reset_index(drop=True)
    rows["blk"] = np.repeat(first, reps) + (
        np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    )
    rows["own"] = rows["blk"].to_numpy() == np.repeat(home, reps)
    part = pd.util.hash_pandas_object(rows[["conv_id", "blk"]], index=False).to_numpy() % partitions
    chunks = []
    for p in range(partitions):
        mine = rows[part == p].sort_values(["conv_id", "blk"], kind="stable")
        batches = (mine.iloc[lo : lo + ARROW_BATCH] for lo in range(0, len(mine), ARROW_BATCH))
        chunks.extend(whole_groups(batches))
    return chunks


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=4)
    ap.add_argument("--window-turns", type=int, default=2)
    args = ap.parse_args()

    from reach_banner_spark.fixtures import ensure_model, make_lexicon, make_turns
    from reach_banner_spark.operators import mentions, triples
    from reach_banner_spark.operators.crf import CrfModel
    from reach_banner_spark.operators.linking import canonical_reps_pandas, lexicon_index

    lex = make_lexicon()
    turns, _ = make_turns(n_convs=1000, skew_conv_turns=3000, seed=args.seed, lexicon=lex)
    turns = turns[["conv_id", "turn_idx", "text", "role", "tool"]]
    model = CrfModel.load_npz(ensure_model())
    index = lexicon_index(lex).with_reps(canonical_reps_pandas(lex))
    chunks = block_chunks(turns, args.window_turns, args.partitions)

    spent: dict[str, float] = defaultdict(float)

    def timed(name, fn):
        def wrapper(*a, **k):
            t0 = time.process_time()
            try:
                return fn(*a, **k)
            finally:
                spent[name] += time.process_time() - t0

        return wrapper

    modules = {"mentions": mentions, "triples": triples}
    for name, mod, attr in STEPS:
        setattr(modules[mod], attr, timed(name, getattr(modules[mod], attr)))

    runs = []
    for _ in range(args.repeat):
        spent.clear()
        t0 = time.process_time()
        n_triples = sum(
            len(triples.chunk_triples(c, model, index, args.window_turns)) for c in chunks
        )
        total = time.process_time() - t0
        # the timed steps never call one another, so they do not overlap
        runs.append(dict(spent, other=total - sum(spent.values()), total=total))
    print(
        f"# seed {args.seed}: {len(turns)} turns, {sum(map(len, chunks))} block rows, "
        f"{len(chunks)} chunks, {n_triples} triples; CPU s, median of {args.repeat}"
    )
    for name in [s for s, _, _ in STEPS] + ["other", "total"]:
        print(f"{name:9s} {np.median([r[name] for r in runs]):.3f}")


if __name__ == "__main__":
    main()
