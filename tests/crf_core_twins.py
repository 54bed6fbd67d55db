"""Test twins of the CRF core kernels: the padded, per-match bodies that
``tokenizer.tokenize_flat``, ``features.emission_flat`` and
``crf.viterbi_batch`` / ``viterbi2_batch`` replaced. Their work and
memory grow with the longest turn of a batch; the tests assert that the
shipped kernels return exactly what these do."""

from __future__ import annotations

import numpy as np
import pandas as pd

from reach_banner_spark.operators.crf import emission_scores
from reach_banner_spark.operators.features import featurize_flat
from reach_banner_spark.operators.mentions import assemble_mentions
from reach_banner_spark.operators.tokenizer import _FINE_RE, _SIMPLE_RE


def tokenize_flat_finditer(texts, fine: bool = True):
    """``tokenize_flat`` with one ``span()`` per ``finditer`` match."""
    rx = _FINE_RE if fine else _SIMPLE_RE
    tl = [t if isinstance(t, str) else ("" if t is None else str(t)) for t in texts]
    n = len(tl)
    lens = np.fromiter((len(t) for t in tl), count=n, dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=offsets[1:])  # +1 per '\n' separator
    big = "\n".join(tl)
    spans = [m.span() for m in rx.finditer(big)]
    if spans:
        arr = np.asarray(spans, dtype=np.int64)
        gs, ge = arr[:, 0], arr[:, 1]
    else:
        gs = ge = np.empty(0, dtype=np.int64)
    seq_ids = np.searchsorted(offsets, gs, side="right") - 1
    starts = (gs - offsets[seq_ids]).astype(np.int32)
    ends = (ge - offsets[seq_ids]).astype(np.int32)
    toks = np.array([big[s:e] for s, e in spans], dtype=object)
    seq_lens = np.bincount(seq_ids, minlength=n).astype(np.int64)
    return toks, starts, ends, seq_ids.astype(np.int64), seq_lens


def viterbi_batch_padded(
    emit_flat: np.ndarray, seq_lens: np.ndarray, transition: np.ndarray
) -> np.ndarray:
    """Padded order-1 Viterbi: every sequence padded to the longest into
    (B, T, L) planes."""
    total = emit_flat.shape[0]
    if total == 0:
        return np.empty(0, dtype=np.int8)
    L = emit_flat.shape[1]
    B = len(seq_lens)
    T = int(seq_lens.max())
    # pad into (B, T, L); padded slots get 0 emission (they are masked out of
    # the backtrace by seq_lens, and 0 keeps the DP finite)
    emit = np.zeros((B, T, L), dtype=np.float32)
    rows = np.repeat(np.arange(B), seq_lens)
    cols = np.concatenate([np.arange(n) for n in seq_lens])
    emit[rows, cols] = emit_flat
    return _viterbi_backtrace(emit, seq_lens, transition, rows, cols)


def _viterbi_backtrace(
    emit: np.ndarray, seq_lens: np.ndarray, transition: np.ndarray,
    rows: np.ndarray, cols: np.ndarray,
) -> np.ndarray:
    B, T, L = emit.shape
    trans = transition[:L]
    deltas = np.empty((B, T, L), dtype=np.float32)
    back = np.zeros((B, T, L), dtype=np.int8)
    deltas[:, 0] = transition[L][None, :] + emit[:, 0]
    for t in range(1, T):
        scores = deltas[:, t - 1][:, :, None] + trans[None, :, :]
        back[:, t] = np.argmax(scores, axis=1).astype(np.int8)
        deltas[:, t] = np.max(scores, axis=1) + emit[:, t]
    labels = np.zeros((B, T), dtype=np.int8)
    last = seq_lens - 1
    cur = np.argmax(deltas[np.arange(B), last], axis=1).astype(np.int8)
    labels[np.arange(B), last] = cur
    for t in range(T - 1, 0, -1):
        active = last >= t
        prev = back[np.arange(B), t, cur]
        cur = np.where(active, prev, cur).astype(np.int8)
        labels[:, t - 1] = np.where(active, cur, labels[:, t - 1])
    return labels[rows, cols]


def viterbi2_batch_padded(
    emit_flat: np.ndarray, seq_lens: np.ndarray, t2: np.ndarray
) -> np.ndarray:
    """Padded order-2 Viterbi over pair states, (B, T, L + 1, L) planes."""
    total = emit_flat.shape[0]
    if total == 0:
        return np.empty(0, dtype=np.int8)
    L = emit_flat.shape[1]
    B = len(seq_lens)
    T = int(seq_lens.max())
    emit = np.zeros((B, T, L), dtype=np.float32)
    rows = np.repeat(np.arange(B), seq_lens)
    cols = np.concatenate([np.arange(n) for n in seq_lens])
    emit[rows, cols] = emit_flat

    NEG = np.float32(-1e30)
    # t = 0: only (j=START) pairs are reachable; store delta over (j, k)
    delta = np.full((B, L + 1, L), NEG, dtype=np.float32)
    delta[:, L, :] = t2[L, L, :][None, :] + emit[:, 0]
    deltas = np.empty((B, T, L + 1, L), dtype=np.float32)
    back = np.zeros((B, T, L + 1, L), dtype=np.int8)
    deltas[:, 0] = delta
    for t in range(1, T):
        # scores[b, i, j, k] = delta[b, i, j] + t2[i, j, k]
        scores = deltas[:, t - 1][:, :, : , None] + t2[:, :L, :][None, :, :, :]
        back[:, t, :L, :] = np.argmax(scores, axis=1).astype(np.int8)[:, :, :]
        best = np.max(scores, axis=1)  # (B, j<=L? , k) -> (B, L, L)
        new = np.full((B, L + 1, L), NEG, dtype=np.float32)
        new[:, :L, :] = best + emit[:, t][:, None, :]
        deltas[:, t] = new
    labels = np.zeros((B, T), dtype=np.int8)
    last = seq_lens - 1
    flat = deltas[np.arange(B), last].reshape(B, -1)
    arg = np.argmax(flat, axis=1)
    cur_j = (arg // L).astype(np.int8)  # label at t-1 (or START)
    cur_k = (arg % L).astype(np.int8)  # label at t
    labels[np.arange(B), last] = cur_k
    for t in range(T - 1, 0, -1):
        active = last >= t
        prev_i = back[np.arange(B), t, np.minimum(cur_j, L), cur_k]
        labels[:, t - 1] = np.where(active, cur_j, labels[:, t - 1])
        nj = np.where(active, prev_i, cur_j).astype(np.int8)
        nk = np.where(active, cur_j, cur_k).astype(np.int8)
        cur_j, cur_k = nj, nk
    return labels[rows, cols]


def recognize_rows_twin(texts: pd.Series, model, entity_type: str = "GENE") -> pd.DataFrame:
    """``mentions.recognize_rows`` composed from the twins: finditer
    tokens, the (n_tokens, N_FEATURES) index matrix and its emission
    gather, the padded Viterbi, then the shared mention assembly."""
    toks, starts, ends, seq_ids, seq_lens = tokenize_flat_finditer(texts)
    emit = emission_scores(model, featurize_flat(toks, seq_ids))
    nonempty = seq_lens[seq_lens > 0]
    if hasattr(model, "transition2"):
        labels = viterbi2_batch_padded(emit, nonempty, model.transition2)
    else:
        labels = viterbi_batch_padded(emit, nonempty, model.transition)
    return assemble_mentions(
        texts, model.fmt, starts, ends, seq_ids, seq_lens, emit, labels, entity_type
    )
