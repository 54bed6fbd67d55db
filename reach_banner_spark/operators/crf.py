"""Linear-chain sequence model: batched Viterbi decode + perceptron trainer.

Reference semantics: BANNER tags tokens with a MALLET CRF
(``banner.tagging.CRFTagger`` wrapping ``cc.mallet.fst.CRF`` [P]):
per-token sparse feature vectors -> emission potentials, a transition
matrix over an IOB label scheme, and Viterbi (``CRF.transduce``) for the
best label sequence; training is L-BFGS likelihood on BC2GM
(``CRFTrainerByLabelLikelihood`` [K MALLET]).

Engine re-expression:
- the model is two dense numpy arrays — ``emission[FEATURE_SPACE, L]``
  (hashed sparse features, so a gather+sum gives per-token scores) and
  ``transition[L+1, L]`` (row L = start) — broadcast once per executor and
  cached module-level in the Python worker;
- decode is a *batched* vectorized Viterbi over all turns of an Arrow batch
  at once, unpadded: the DP runs over the flat token array, step t on the
  (k_t, L) score plane of the k_t turns still running, so its work and
  memory grow with the batch's tokens, not with its longest turn;
- training (out of the query path; used only to produce the committed
  deterministic fixture weights, SURVEY.md §2.1 P9) is a seeded averaged
  structured perceptron — exactly reproducible, unlike L-BFGS on floats.

Labels use the IOB scheme: O=0, B=1, I=2 (banner.tagging.TagFormat [P]).
"""

from __future__ import annotations

import numpy as np

from ..functions.hashing import FEATURE_SPACE

LABELS = ("O", "B-ENT", "I-ENT")
N_LABELS = 3  # default scheme (IOB); models carry their own label count
START = N_LABELS  # virtual start state index of the DEFAULT scheme


class CrfModel:
    """Dense hashed-feature linear-chain model.

    ``fmt`` names the tag scheme (IO/IOB/IOBEW, see tagformat.py); the
    label count is ``emission.shape[1]`` and the virtual start state is
    row ``n_labels`` of the transition matrix.
    """

    __slots__ = ("emission", "transition", "fmt")

    def __init__(self, emission: np.ndarray, transition: np.ndarray, fmt: str = "IOB"):
        L = emission.shape[1]
        assert emission.shape == (FEATURE_SPACE, L)
        assert transition.shape == (L + 1, L)
        self.emission = emission
        self.transition = transition
        self.fmt = fmt

    @property
    def n_labels(self) -> int:
        return self.emission.shape[1]

    def save_npz(self, path: str) -> None:
        nz = np.nonzero(self.emission)
        np.savez_compressed(
            path,
            idx=nz[0].astype(np.int64),
            lab=nz[1].astype(np.int8),
            w=self.emission[nz].astype(np.float32),
            transition=self.transition.astype(np.float32),
            fmt=np.array(self.fmt),
        )

    @classmethod
    def load_npz(cls, path: str) -> "CrfModel":
        d = np.load(path)
        trans = d["transition"].astype(np.float32)
        L = trans.shape[1]
        emission = np.zeros((FEATURE_SPACE, L), dtype=np.float32)
        emission[d["idx"], d["lab"]] = d["w"]
        fmt = str(d["fmt"]) if "fmt" in d else "IOB"
        return cls(emission, trans, fmt)


def emission_scores(model: CrfModel, feat_idx: np.ndarray) -> np.ndarray:
    """(n_tokens, N_FEATURES) hashed indices -> (n_tokens, L) scores."""
    if feat_idx.shape[0] == 0:
        return np.zeros((0, model.n_labels), dtype=np.float32)
    return model.emission[feat_idx].sum(axis=1)


def _by_length(seq_lens: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The non-empty sequences longest first, as (flat offsets, lengths),
    and ``active[t]``, the number of sequences longer than t: the
    sequences still running at step t are the first ``active[t]``."""
    seq_lens = np.asarray(seq_lens, dtype=np.int64)
    order = np.argsort(-seq_lens, kind="stable")
    lens = seq_lens[order]
    active = len(lens) - np.cumsum(np.bincount(lens))[:-1]
    B = int(active[0])
    return (np.cumsum(seq_lens) - seq_lens)[order][:B], lens[:B], active


def viterbi_batch(
    emit_flat: np.ndarray, seq_lens: np.ndarray, transition: np.ndarray
) -> np.ndarray:
    """Vectorized Viterbi over a batch of variable-length sequences.

    ``emit_flat``: (total_tokens, L) emission scores, sequences concatenated;
    ``seq_lens``: (B,) lengths. Returns flat int8 label array (total_tokens,).

    No padding: the float32 DP runs over the flat token array. With the
    sequences sorted by length once, step t touches only the
    ``active[t]`` sequences still running, and the back-pointers are
    (total_tokens, L), so work and memory grow with the tokens, not with
    the longest sequence.
    """
    total = emit_flat.shape[0]
    if total == 0:
        return np.empty(0, dtype=np.int8)
    emit = emit_flat.astype(np.float32, copy=False)
    L = emit.shape[1]
    trans = transition[:L]
    offs, lens, active = _by_length(seq_lens)
    delta = np.empty((len(offs), L), dtype=np.float32)
    delta[:] = transition[L][None, :] + emit[offs]
    back = np.zeros((total, L), dtype=np.int8)
    for t in range(1, len(active)):
        k = active[t]
        pos = offs[:k] + t
        scores = delta[:k, :, None] + trans[None, :, :]
        back[pos] = np.argmax(scores, axis=1)
        delta[:k] = np.max(scores, axis=1) + emit[pos]
    # each sequence's delta stopped at its own last step
    labels = np.empty(total, dtype=np.int8)
    cur = np.argmax(delta, axis=1).astype(np.int8)
    labels[offs + lens - 1] = cur
    for t in range(len(active) - 1, 0, -1):
        k = active[t]
        pos = offs[:k] + t
        cur[:k] = back[pos, cur[:k]]
        labels[pos - 1] = cur[:k]
    return labels


def decode(model: CrfModel, feat_idx: np.ndarray, seq_lens: np.ndarray) -> np.ndarray:
    """feat_idx (total_tokens, F), seq_lens (B,) -> flat labels (total_tokens,)."""
    emit = emission_scores(model, feat_idx)
    return viterbi_batch(emit, seq_lens, model.transition)


# ---------------------------------------------------------------- order-2 ----
# The reference's published best config is an order-2 CRF [K PSB-2008:
# "order-2 CRF" vs order-1 trade-off]. Engine re-expression: Viterbi over
# PAIR states (prev_label, label); transition tensor T2[i, j, k] scores the
# move (i,j) -> (j,k), with index L acting as the virtual start label.


class Crf2Model:
    """Order-2 model: emission (F, L) + transition2 (L+1, L+1, L)."""

    __slots__ = ("emission", "transition2", "fmt")

    def __init__(self, emission: np.ndarray, transition2: np.ndarray, fmt: str = "IOB"):
        L = emission.shape[1]
        assert transition2.shape == (L + 1, L + 1, L)
        self.emission = emission
        self.transition2 = transition2
        self.fmt = fmt

    @property
    def n_labels(self) -> int:
        return self.emission.shape[1]

    def save_npz(self, path: str) -> None:
        """Same sparse-emission layout as CrfModel; the ``transition2``
        key (vs ``transition``) is what tells the loaders apart."""
        nz = np.nonzero(self.emission)
        np.savez_compressed(
            path,
            idx=nz[0].astype(np.int64),
            lab=nz[1].astype(np.int8),
            w=self.emission[nz].astype(np.float32),
            transition2=self.transition2.astype(np.float32),
            fmt=np.array(self.fmt),
        )

    @classmethod
    def load_npz(cls, path: str) -> "Crf2Model":
        d = np.load(path)
        t2 = d["transition2"].astype(np.float32)
        L = t2.shape[2]
        emission = np.zeros((FEATURE_SPACE, L), dtype=np.float32)
        emission[d["idx"], d["lab"]] = d["w"]
        fmt = str(d["fmt"]) if "fmt" in d else "IOB"
        return cls(emission, t2, fmt)


def viterbi2_batch(
    emit_flat: np.ndarray, seq_lens: np.ndarray, t2: np.ndarray
) -> np.ndarray:
    """Order-2 Viterbi over pair states, vectorized across the batch.

    delta[b, j, k] = best score of a sequence ending with (label j at t-1,
    label k at t); step: max over i of delta[b, i, j] + T2[i, j, k]. Same
    unpadded DP over the flat token array as ``viterbi_batch``.
    """
    total = emit_flat.shape[0]
    if total == 0:
        return np.empty(0, dtype=np.int8)
    emit = emit_flat.astype(np.float32, copy=False)
    L = emit.shape[1]
    offs, lens, active = _by_length(seq_lens)
    NEG = np.float32(-1e30)
    # t = 0: only (j=START) pairs are reachable; delta over (j, k)
    delta = np.full((len(offs), L + 1, L), NEG, dtype=np.float32)
    delta[:, L, :] = t2[L, L, :][None, :] + emit[offs]
    back = np.zeros((total, L + 1, L), dtype=np.int8)
    for t in range(1, len(active)):
        k = active[t]
        pos = offs[:k] + t
        # scores[b, i, j, k] = delta[b, i, j] + t2[i, j, k]
        scores = delta[:k, :, :, None] + t2[:, :L, :][None, :, :, :]
        back[pos, :L, :] = np.argmax(scores, axis=1)
        delta[:k, :L, :] = np.max(scores, axis=1) + emit[pos][:, None, :]
        delta[:k, L, :] = NEG
    labels = np.empty(total, dtype=np.int8)
    arg = np.argmax(delta.reshape(len(offs), -1), axis=1)
    cur_j = (arg // L).astype(np.int8)  # label at t-1 (or START)
    cur_k = (arg % L).astype(np.int8)  # label at t
    labels[offs + lens - 1] = cur_k
    for t in range(len(active) - 1, 0, -1):
        k = active[t]
        pos = offs[:k] + t
        prev_i = back[pos, np.minimum(cur_j[:k], L), cur_k[:k]]
        labels[pos - 1] = cur_j[:k]
        cur_k[:k] = cur_j[:k]
        cur_j[:k] = prev_i
    return labels


def decode2(model: Crf2Model, feat_idx: np.ndarray, seq_lens: np.ndarray) -> np.ndarray:
    """Order-2 twin of ``decode``."""
    return viterbi2_batch(emission_scores(model, feat_idx), seq_lens, model.transition2)


def train_perceptron2(
    feat_idx: np.ndarray,
    gold_flat: np.ndarray,
    seq_lens: np.ndarray,
    epochs: int = 8,
    seed: int = 42,
    fmt: str = "IOB",
) -> Crf2Model:
    """Deterministic averaged structured perceptron, order-2 transitions."""
    from .tagformat import n_labels as _nl

    L = _nl(fmt)
    rng = np.random.RandomState(seed)
    emission = np.zeros((FEATURE_SPACE, L), dtype=np.float32)
    t2 = np.zeros((L + 1, L + 1, L), dtype=np.float32)
    emis_sum = np.zeros_like(emission)
    t2_sum = np.zeros_like(t2)
    offsets = np.concatenate(([0], np.cumsum(seq_lens)))
    order = np.arange(len(seq_lens))
    model = Crf2Model(emission, t2, fmt)
    steps = 0
    for _ in range(epochs):
        rng.shuffle(order)
        for si in order:
            a, b = offsets[si], offsets[si + 1]
            if b == a:
                continue
            fi = feat_idx[a:b]
            gold = gold_flat[a:b]
            pred = decode2(model, fi, np.array([b - a]))
            steps += 1
            if np.array_equal(pred, gold):
                continue
            for t in range(b - a):
                if pred[t] != gold[t]:
                    emission[fi[t], gold[t]] += 1.0
                    emission[fi[t], pred[t]] -= 1.0
            g2, g1 = L, L
            p2, p1 = L, L
            for t in range(b - a):
                if gold[t] != pred[t] or (g2, g1) != (p2, p1):
                    t2[g2, g1, gold[t]] += 1.0
                    t2[p2, p1, pred[t]] -= 1.0
                g2, g1 = g1, gold[t]
                p2, p1 = p1, pred[t]
            emis_sum += emission
            t2_sum += t2
    if steps:
        model = Crf2Model(
            (emission + emis_sum / max(1, steps)).astype(np.float32) / 2.0,
            (t2 + t2_sum / max(1, steps)).astype(np.float32) / 2.0,
            fmt,
        )
    return model


def train_perceptron(
    feat_idx: np.ndarray,
    gold_flat: np.ndarray,
    seq_lens: np.ndarray,
    epochs: int = 8,
    seed: int = 42,
    fmt: str = "IOB",
) -> CrfModel:
    """Deterministic averaged structured perceptron (fixture-model trainer)."""
    from .tagformat import n_labels as _nl

    L = _nl(fmt)
    rng = np.random.RandomState(seed)
    emission = np.zeros((FEATURE_SPACE, L), dtype=np.float32)
    transition = np.zeros((L + 1, L), dtype=np.float32)
    emis_sum = np.zeros_like(emission)
    trans_sum = np.zeros_like(transition)
    offsets = np.concatenate(([0], np.cumsum(seq_lens)))
    n_seq = len(seq_lens)
    order = np.arange(n_seq)
    model = CrfModel(emission, transition, fmt)
    steps = 0
    for _ in range(epochs):
        rng.shuffle(order)
        for si in order:
            a, b = offsets[si], offsets[si + 1]
            if b == a:
                continue
            fi = feat_idx[a:b]
            gold = gold_flat[a:b]
            pred = decode(model, fi, np.array([b - a]))
            steps += 1
            if np.array_equal(pred, gold):
                continue
            # additive updates on mismatched positions + transitions
            for t in range(b - a):
                if pred[t] != gold[t]:
                    emission[fi[t], gold[t]] += 1.0
                    emission[fi[t], pred[t]] -= 1.0
            gprev, pprev = L, L
            for t in range(b - a):
                if gold[t] != pred[t] or gprev != pprev:
                    transition[gprev, gold[t]] += 1.0
                    transition[pprev, pred[t]] -= 1.0
                gprev, pprev = gold[t], pred[t]
            emis_sum += emission
            trans_sum += transition
    if steps:
        # averaged weights for stability
        model = CrfModel(
            (emission + emis_sum / max(1, steps)).astype(np.float32) / 2.0,
            (transition + trans_sum / max(1, steps)).astype(np.float32) / 2.0,
            fmt,
        )
    return model
