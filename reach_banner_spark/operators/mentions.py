"""Fused mention-detection stage + mention assembly + post-processing.

Reference lifecycle being re-created (SURVEY.md §3.1 E1 [P banner.*]):
``Sentence`` -> ``Tokenizer.tokenize`` -> MALLET feature pipes ->
``CRF.transduce`` Viterbi -> contiguous-tag ``Mention`` assembly ->
``ParenthesisPostProcessor`` / ``LocalAbbreviationPostProcessor``.

Engine re-expression: ALL of tokenize -> featurize -> Viterbi -> assemble ->
abbreviation-expand run inside ONE ``mapInPandas`` generator
(``detect_mentions``): one Arrow round-trip per batch instead of five
chained UDF nodes (SURVEY.md §4.3). The parenthesis filter is a pure column
expression (no Python at all). The exact same batch core
(``recognize_batch``) is invoked single-process by fixtures.py to produce
golden mentions, giving BANNER-style exact-span agreement by construction.

``link_rows`` extends the same batch core through entity linking and
canonicalization (``linking.LexiconIndex``): turn to canonical entity in
one Arrow pass. The block triple pass (``triples.block_triples``), which
``run_pipeline`` and ``stream_kg`` run below the lexicon gate, calls it
per (conv_id, turn block) group before pairing mentions into triples.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas
from .crf import CrfModel, viterbi2_batch, viterbi_batch
from .features import emission_flat
from .tagformat import labels_to_spans
from .tokenizer import tokenize_flat

_ABBREV_RE = re.compile(r"^ ?\(([A-Za-z0-9-]{1,10})\)")

# module-level model cache: one deserialization per Python worker process,
# not per task (SURVEY.md §4.3 "broadcast of model weights"). Weights travel
# as ONE SparkContext.broadcast of the raw .npz bytes — a driver filesystem
# path would not exist on real executors.
_MODEL_CACHE: dict[tuple[int, int], CrfModel] = {}


def _load_model_bytes(blob: bytes) -> CrfModel:
    import io
    import zlib

    key = (len(blob), zlib.crc32(blob))
    m = _MODEL_CACHE.get(key)
    if m is None:
        import numpy as _np

        d = _np.load(io.BytesIO(blob))
        from ..functions.hashing import FEATURE_SPACE

        fmt = str(d["fmt"]) if "fmt" in d else "IOB"
        if "transition2" in d:  # order-2 model (PSB-2008 best config)
            from .crf import Crf2Model

            t2 = d["transition2"].astype(_np.float32)
            emission = _np.zeros((FEATURE_SPACE, t2.shape[2]), dtype=_np.float32)
            emission[d["idx"], d["lab"]] = d["w"]
            m = Crf2Model(emission, t2, fmt)
        else:
            trans = d["transition"].astype(_np.float32)
            emission = _np.zeros(
                (FEATURE_SPACE, trans.shape[1]), dtype=_np.float32
            )
            emission[d["idx"], d["lab"]] = d["w"]
            m = CrfModel(emission, trans, fmt)
        _MODEL_CACHE[key] = m
    return m


def recognize_rows(
    texts: pd.Series, model: CrfModel, entity_type: str = "GENE"
) -> pd.DataFrame:
    """Batch core: turn texts -> mention rows, each keyed by ``row``, the
    position of its turn in ``texts`` (MENTIONS columns otherwise, minus
    conv_id and turn_idx).

    Pure pandas/numpy — runs identically inside the Spark worker (via
    ``detect_mentions`` and the block triple pass) and single-process
    (reference recognizer). Keying by position rather than by
    (conv_id, turn_idx) lets a batch hold one turn twice (the block pass's
    halo copies) and map each mention back to its own row.

    Its kernels grow with the batch's tokens, not with its longest turn:
    ``tokenize_flat`` (one ``findall``, numpy offsets), ``emission_flat``
    (family scores gathered per unique token), the unpadded
    ``viterbi_batch`` / ``viterbi2_batch``, then ``assemble_mentions``.
    """
    toks, starts, ends, seq_ids, seq_lens = tokenize_flat(texts, fine=True)
    if len(toks) == 0:
        return pd.DataFrame(
            {
                "row": pd.Series([], dtype="int64"),
                "begin_tok": pd.Series([], dtype="int32"),
                "end_tok": pd.Series([], dtype="int32"),
                "begin_char": pd.Series([], dtype="int32"),
                "end_char": pd.Series([], dtype="int32"),
                "entity_type": pd.Series([], dtype="string"),
                "surface": pd.Series([], dtype="string"),
                "score": pd.Series([], dtype="float64"),
            }
        )
    # one emission pass feeds both the Viterbi decode and the span margins
    emit = emission_flat(toks, seq_ids, model.emission)
    labels = viterbi_labels(model, emit, seq_lens)
    return assemble_mentions(
        texts, model.fmt, starts, ends, seq_ids, seq_lens, emit, labels, entity_type
    )


def viterbi_labels(model, emit: np.ndarray, seq_lens: np.ndarray) -> np.ndarray:
    """Flat labels of the model's order: ``viterbi2_batch`` for an order-2
    model (PSB-2008 best config), else ``viterbi_batch``."""
    if hasattr(model, "transition2"):
        return viterbi2_batch(emit, seq_lens, model.transition2)
    return viterbi_batch(emit, seq_lens, model.transition)


def assemble_mentions(
    texts: pd.Series,
    fmt: str,
    flat_starts: np.ndarray,
    flat_ends: np.ndarray,
    seq_ids: np.ndarray,
    seq_lens: np.ndarray,
    emit: np.ndarray,
    labels: np.ndarray,
    entity_type: str = "GENE",
) -> pd.DataFrame:
    """Labelled tokens of a non-empty flat batch -> ``recognize_rows``'
    mention rows: contiguous-tag spans, their mean margin ``score``, and
    the local abbreviation spans."""
    n = len(labels)
    nonempty = seq_lens > 0
    # --- mention assembly (P11): scheme-aware contiguous-run grouping ---
    lab = labels.astype(np.int8)
    is_seq_start = np.zeros(n, dtype=bool)
    offs = np.concatenate(([0], np.cumsum(seq_lens[nonempty])[:-1]))
    is_seq_start[offs] = True
    is_seq_end = np.zeros(n, dtype=bool)
    last = np.cumsum(seq_lens[nonempty]) - 1
    is_seq_end[last] = True
    s_idx, e_pos = labels_to_spans(fmt, lab, is_seq_start, is_seq_end)

    sent_of = seq_ids[s_idx]
    sent_base = np.concatenate(([0], np.cumsum(seq_lens)[:-1]))
    begin_tok = (s_idx - sent_base[sent_of]).astype(np.int32)
    end_tok = (e_pos - sent_base[sent_of] + 1).astype(np.int32)
    begin_char = flat_starts[s_idx].astype(np.int32)
    end_char = flat_ends[e_pos].astype(np.int32)
    # score: mean Viterbi margin over the span (entity score vs O).
    # Summed PER SPAN (not via a batch-global cumsum): prefix-sum low bits
    # would depend on every preceding token in the Arrow batch, making the
    # score sensitive to batch composition — caught by the streaming==batch
    # equality test.
    margin = (emit[:, 1:].max(axis=1) - emit[:, 0]).astype(np.float64)
    span_len = (e_pos - s_idx + 1).astype(np.float64)
    if len(s_idx):
        # segment sums via reduceat on interleaved (start, end+1) boundaries
        # (vectorized; a per-span Python loop here costs ~25s/job at bench
        # scale). Pad one zero so a span ending at the last token is legal.
        mpad = np.concatenate((margin, [0.0]))
        bounds = np.empty(2 * len(s_idx), dtype=np.int64)
        bounds[0::2] = s_idx
        bounds[1::2] = e_pos + 1
        score = np.add.reduceat(mpad, bounds)[0::2] / span_len
    else:
        score = np.empty(0, dtype=np.float64)

    texts_np = texts.to_numpy()
    rows = {
        "row": sent_of.astype(np.int64),
        "begin_tok": begin_tok,
        "end_tok": end_tok,
        "begin_char": begin_char,
        "end_char": end_char,
        "entity_type": np.full(len(s_idx), entity_type, dtype=object),
        "surface": np.array(
            [texts_np[si][b:e] for si, b, e in zip(sent_of, begin_char, end_char)],
            dtype=object,
        ),
        "score": score,
    }
    out = pd.DataFrame(rows)

    # --- local abbreviation post-processing (P13 analogue): a detected
    # mention immediately followed by " (ABBR)" also yields the ABBR span ---
    extra = []
    for si, e in zip(sent_of, end_char):
        text = texts_np[si]
        m = _ABBREV_RE.match(text[e:])
        if m:
            b2 = e + m.start(1)
            e2 = e + m.end(1)
            extra.append((int(si), -1, -1, b2, e2, entity_type, text[b2:e2], 0.0))
    if extra:
        out = pd.concat(
            [out, pd.DataFrame(extra, columns=list(rows.keys()))], ignore_index=True
        )
        out = out.drop_duplicates(subset=["row", "begin_char", "end_char"])
    return out.astype(
        {
            "row": "int64",
            "begin_tok": "int32",
            "end_tok": "int32",
            "begin_char": "int32",
            "end_char": "int32",
            "score": "float64",
        }
    )


def recognize_batch(
    pdf: pd.DataFrame, model: CrfModel, entity_type: str = "GENE"
) -> pd.DataFrame:
    """(conv_id, turn_idx, text) -> MENTIONS rows: ``recognize_rows`` with
    each mention's turn key gathered from its row."""
    out = recognize_rows(pdf["text"], model, entity_type)
    row = out.pop("row").to_numpy()
    out.insert(0, "conv_id", pdf["conv_id"].to_numpy()[row])
    out.insert(1, "turn_idx", pdf["turn_idx"].to_numpy()[row].astype(np.int32))
    return out


def detect_mentions(
    turns: DataFrame, model_path: str, entity_type: str = "GENE"
) -> DataFrame:
    """Spark stage: turns -> mentions via ONE fused Arrow-batched pass.

    Selects narrow columns first so Catalyst prunes the scan before the
    Arrow boundary (only conv_id/turn_idx/text cross into Python).
    """
    narrow = turns.select("conv_id", "turn_idx", "text")
    with open(model_path, "rb") as f:
        blob = f.read()
    bc = turns.sparkSession.sparkContext.broadcast(blob)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _load_model_bytes(bc.value)
        for pdf in batches:
            if len(pdf):
                yield recognize_batch(pdf, model, entity_type)

    return narrow.mapInPandas(run, schema=schemas.MENTIONS)


def fused_broadcast(spark, lexicon: DataFrame, model_path: str):
    """ONE broadcast of (model bytes, ``LexiconIndex`` with the component
    representatives folded in) for ``triples.block_triples`` — made once
    per pipeline call or stream — or None when the lexicon is above
    ``LEX_GATE`` (callers then run the distributed ``link_mentions`` +
    ``canonicalize`` composition)."""
    from ..caching import track_broadcast
    from .linking import canonical_reps_pandas, lexicon_index, local_lexicon

    lex_pdf = local_lexicon(lexicon)
    if lex_pdf is None:
        return None
    index = lexicon_index(lex_pdf).with_reps(canonical_reps_pandas(lex_pdf))
    with open(model_path, "rb") as f:
        blob = f.read()
    return track_broadcast(spark.sparkContext.broadcast((blob, index)))


def link_rows(texts: pd.Series, model: CrfModel, index) -> pd.DataFrame:
    """The fused per-batch core, turn texts to canonical entities:
    ``recognize_rows``, the parenthesis filter, then ``LexiconIndex.link``
    (exact searchsorted lookup, fuzzy LSH match on the batch's unique
    misses, representative already folded into the index by
    ``fused_broadcast``). Rows keyed by ``row`` as in ``recognize_rows``,
    plus (entity_id, canonical), null where no alias matches. Per turn the
    same mentions as ``apply_canonical(link_mentions(detect_mentions(turns)
    .filter(paren_balanced), lexicon), canonical_rep_map(lexicon))``
    without the mention cache and joins between those operators."""
    return link_recognized(recognize_rows(texts, model), index)


def link_recognized(men: pd.DataFrame, index) -> pd.DataFrame:
    """``link_rows`` after recognition: the parenthesis filter, then
    ``index.link`` on the lowered surfaces."""
    keep = np.fromiter(
        (paren_balanced_py(s) for s in men["surface"]), dtype=bool, count=len(men)
    )
    men = men[keep]
    eid, canon = index.link(men["surface"].str.lower().to_numpy(dtype=object))
    return men.assign(entity_id=eid, canonical=canon)


def paren_balanced(col: str | Column = "surface") -> Column:
    """ParenthesisPostProcessor twin (P12) as a pure column expression:
    keep mentions whose (), [] and {} counts balance."""
    c = F.col(col) if isinstance(col, str) else col

    def bal(open_ch: str, close_ch: str) -> Column:
        return (
            F.length(c) - F.length(F.replace(c, F.lit(open_ch), F.lit("")))
        ) == (F.length(c) - F.length(F.replace(c, F.lit(close_ch), F.lit(""))))

    return bal("(", ")") & bal("[", "]") & bal("{", "}")


def paren_balanced_py(s: str) -> bool:
    """Python twin of ``paren_balanced`` for the golden generator."""
    return (
        s.count("(") == s.count(")")
        and s.count("[") == s.count("]")
        and s.count("{") == s.count("}")
    )
