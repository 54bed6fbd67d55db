"""Per-token feature extraction (reference: BANNER's MALLET feature pipes).

The reference builds, per token, a sparse feature vector from [P pipes under
banner.tagging / MALLET TokenText* + OffsetConjunctions, K PSB-2008]:
word identity, word shape ("Abc12" -> "Aa0"), brief shape (collapsed runs),
prefix/suffix character n-grams, lemma (Dragon EngLemmatiser
[P dragon.nlp.tool.lemmatiser]), POS tag (Hepple tagger
[P dragon.nlp.tool.HeppleTagger]) and token-window conjunctions over offsets
[-2..2]; indices come from a growable MALLET Alphabet.

Engine re-expression, tuned for Arrow-batch throughput (this runs on every
token of a 10^12-turn corpus):

1. **Factorize first.** Tokens repeat heavily; every string-level derivation
   (shape, lemma, POS, n-grams, char classes) is computed once per UNIQUE
   token in the batch and broadcast back through the factorize codes.
2. **No feature strings.** The MALLET pipeline materializes strings like
   ``"W-1=il|W=2r"`` and dictionary-encodes them; we instead keep one 64-bit
   FNV hash per base value and combine families *numerically*:
   ``idx = mix64(value_hash, FAMILY_SALT) % FEATURE_SPACE``; conjunctions
   mix the participating value hashes. Same role as the hashing trick
   (SURVEY.md P8) with zero string construction on the hot path.
3. Window features shift the int factorize codes (not the strings) within
   the sentence, with BOS/EOS sentinel rows at sequence boundaries.
4. **Emission per unique token.** Decoding never builds the (n_tokens,
   N_FEATURES) index matrix: 18 of the 21 families depend on one token's
   value (its own or a neighbour's), so ``emission_flat`` gathers their
   weight rows once per unique token and indexes them per token; only the
   3 conjunctions hash per token. Training keeps ``featurize_flat``; both
   read the one family table (``_UNARY``, ``_CONJ``).

The Dragon lemmatizer and Hepple tagger are tens of kLoC the reference
bundles but did not author; the engine substitutes a deterministic
suffix-strip lemmatizer and a closed-class + suffix-rule POS tagger with the
same role in the feature vector (goldens are regenerated with these, so span
semantics stay exact — SURVEY.md §5.2.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.hashing import FEATURE_SPACE, fnv64_array, mix64, to_space

# The feature families, in feature-matrix column order. A unary family
# (name, value, offset) is one value hash of the token at ``offset`` in its
# sentence (BOS/EOS sentinel past the sentence ends); a conjunction (name,
# parts) mixes the value hashes of several (value, offset) parts.
_UNARY = (
    ("W", "W", 0), ("SH", "SH", 0), ("BR", "BR", 0), ("LM", "LM", 0),
    ("POS", "POS", 0), ("P2", "P2", 0), ("P3", "P3", 0), ("S2", "S2", 0),
    ("S3", "S3", 0), ("KL", "KL", 0),
    ("W-1", "W", -1), ("W-2", "W", -2), ("W+1", "W", 1), ("W+2", "W", 2),
    ("POS-1", "POS", -1), ("POS+1", "POS", 1), ("SH-1", "SH", -1), ("SH+1", "SH", 1),
)
_CONJ = (
    ("W-1|W", (("W", -1), ("W", 0))),
    ("W|W+1", (("W", 0), ("W", 1))),
    ("SH-1|SH|SH+1", (("SH", -1), ("SH", 0), ("SH", 1))),
)

# Number of hashed feature slots per token (fixed-width feature matrix).
N_FEATURES = len(_UNARY) + len(_CONJ)

# family salts (arbitrary distinct constants, fixed forever)
_FAM = {
    name: np.uint64(0x9E3779B97F4A7C15 * (i + 1) & 0xFFFFFFFFFFFFFFFF)
    for i, name in enumerate([f for f, _, _ in _UNARY] + [f for f, _ in _CONJ])
}
_BOS = np.uint64(0x1111111111111111)  # sentinel hash for <S>
_EOS = np.uint64(0x2222222222222222)  # sentinel hash for </S>

_CLOSED_CLASS = {
    "the": "DT", "a": "DT", "an": "DT", "this": "DT", "that": "DT",
    "of": "IN", "in": "IN", "on": "IN", "at": "IN", "by": "IN", "for": "IN",
    "with": "IN", "from": "IN", "to": "TO", "and": "CC", "or": "CC",
    "but": "CC", "is": "VBZ", "are": "VBP", "was": "VBD", "were": "VBD",
    "be": "VB", "been": "VBN", "has": "VBZ", "have": "VBP", "had": "VBD",
    "it": "PRP", "he": "PRP", "she": "PRP", "they": "PRP", "we": "PRP",
    "not": "RB", "no": "DT",
}

_SHAPE_TBL = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789",
    "A" * 26 + "a" * 26 + "0" * 10,
)


def word_shape(tokens: np.ndarray) -> np.ndarray:
    """Full shape: each char class-mapped (A/a/0/x), runs kept."""
    out = np.empty(len(tokens), dtype=object)
    for i, t in enumerate(tokens):
        s = t.translate(_SHAPE_TBL)
        out[i] = "".join(c if c in "Aa0" else "x" for c in s)
    return out


def brief_shape(shapes: np.ndarray) -> np.ndarray:
    """Brief shape: collapse repeated run characters (``AAaa00`` -> ``Aa0``)."""
    out = np.empty(len(shapes), dtype=object)
    for i, s in enumerate(shapes):
        prev = ""
        buf = []
        for c in s:
            if c != prev:
                buf.append(c)
                prev = c
        out[i] = "".join(buf)
    return out


def lemmatize(tokens_lower: np.ndarray) -> np.ndarray:
    """Deterministic suffix-strip lemmatizer (EngLemmatiser stand-in)."""
    out = np.empty(len(tokens_lower), dtype=object)
    for i, w in enumerate(tokens_lower):
        if len(w) > 4 and w.endswith("ies"):
            out[i] = w[:-3] + "y"
        elif len(w) > 4 and w.endswith("ing"):
            out[i] = w[:-3]
        elif len(w) > 3 and w.endswith("ed"):
            out[i] = w[:-2]
        elif len(w) > 3 and w.endswith("es"):
            out[i] = w[:-2]
        elif len(w) > 2 and w.endswith("s") and not w.endswith("ss"):
            out[i] = w[:-1]
        else:
            out[i] = w
    return out


def pos_tag(tokens: np.ndarray, tokens_lower: np.ndarray) -> np.ndarray:
    """Greedy rule POS tagger (Hepple-tagger stand-in, deterministic)."""
    out = np.empty(len(tokens), dtype=object)
    for i, (t, w) in enumerate(zip(tokens, tokens_lower)):
        tag = _CLOSED_CLASS.get(w)
        if tag is not None:
            out[i] = tag
        elif t.isdigit():
            out[i] = "CD"
        elif not t[0].isalnum():
            out[i] = "SYM"
        elif w.endswith("ing"):
            out[i] = "VBG"
        elif w.endswith("ed"):
            out[i] = "VBD"
        elif w.endswith("ly"):
            out[i] = "RB"
        elif t[0].isupper():
            out[i] = "NNP"
        elif w.endswith("s"):
            out[i] = "NNS"
        else:
            out[i] = "NN"
    return out


def token_class(tokens: np.ndarray) -> np.ndarray:
    """Regex-class style composite flag string per token."""
    out = np.empty(len(tokens), dtype=object)
    greek = ("alpha", "beta", "gamma", "delta", "kappa")
    for i, t in enumerate(tokens):
        out[i] = (
            ("D" if t.isdigit() else "")
            + ("d" if any(c.isdigit() for c in t) else "")
            + ("U" if t.isupper() and len(t) > 1 else "")
            + ("C" if t[:1].isupper() else "")
            + ("P" if not t[:1].isalnum() else "")
            + ("G" if t.lower() in greek else "")
        )
    return out


def _family_inputs(
    tokens: np.ndarray, seq_ids: np.ndarray
) -> tuple[dict[str, np.ndarray], dict[int, np.ndarray]]:
    """The inputs every family reads, for a non-empty flat batch.

    ``values[v]``: the uint64 value hash ``v`` of each UNIQUE token, plus
    a BOS row (index n_unique) and an EOS row (n_unique + 1).
    ``codes[k]``: per token, the row of ``values`` for the token at offset
    k in the same sentence, or the BOS/EOS row past the sentence ends."""
    n = len(tokens)
    # sentence start/end flat index per token
    change = np.flatnonzero(np.diff(seq_ids)) + 1
    starts = np.concatenate(([0], change))
    counts = np.diff(np.concatenate((starts, [n])))
    sent_start = np.repeat(starts, counts)
    sent_end = np.repeat(starts + counts - 1, counts)

    # ---- per-UNIQUE-token string derivations ----
    code, uniques = pd.factorize(tokens)
    uniq = np.asarray(uniques, dtype=object)
    lower_u = np.array([t.lower() for t in uniq], dtype=object)
    shape_u = word_shape(uniq)
    derived = {
        "W": lower_u,
        "SH": shape_u,
        "BR": brief_shape(shape_u),
        "LM": lemmatize(lower_u),
        "POS": pos_tag(uniq, lower_u),
        "P2": np.array([t[:2] for t in lower_u], dtype=object),
        "P3": np.array([t[:3] for t in lower_u], dtype=object),
        "S2": np.array([t[-2:] for t in lower_u], dtype=object),
        "S3": np.array([t[-3:] for t in lower_u], dtype=object),
        "KL": token_class(uniq),
    }
    sentinels = np.array([_BOS, _EOS], dtype=np.uint64)
    values = {v: np.concatenate((fnv64_array(a), sentinels)) for v, a in derived.items()}

    # window codes: shift the int codes (not the strings) within the sentence
    bos, eos = len(uniq), len(uniq) + 1
    codes = {0: code}
    idx = np.arange(n)
    for k in (-2, -1, 1, 2):
        j = idx + k
        valid = (j >= sent_start) & (j <= sent_end)
        codes[k] = np.where(valid, code[np.clip(j, 0, n - 1)], bos if k < 0 else eos)
    return values, codes


def _conj_hash(values, codes, parts) -> np.ndarray:
    """Per token: the value hashes of a conjunction's parts, mixed in order."""
    h = None
    for v, k in parts:
        hv = values[v][codes[k]]
        h = hv if h is None else mix64(h, hv)
    return h


def featurize_flat(
    tokens: np.ndarray, seq_ids: np.ndarray, space: int = FEATURE_SPACE
) -> np.ndarray:
    """Hashed feature-index matrix (n_tokens, N_FEATURES) for a flat batch.

    ``tokens`` is the object array of all tokens of all turns in the batch,
    ``seq_ids`` the parallel int array identifying each token's turn
    (non-decreasing). The training input; decoding reads the same families
    through ``emission_flat`` without building this matrix.
    """
    if len(tokens) == 0:
        return np.empty((0, N_FEATURES), dtype=np.int64)
    values, codes = _family_inputs(tokens, seq_ids)
    cols = [to_space(mix64(values[v][codes[k]], _FAM[f]), space) for f, v, k in _UNARY]
    cols += [
        to_space(mix64(_conj_hash(values, codes, parts), _FAM[f]), space)
        for f, parts in _CONJ
    ]
    return np.stack(cols, axis=1)


def emission_flat(
    tokens: np.ndarray, seq_ids: np.ndarray, emission: np.ndarray
) -> np.ndarray:
    """Per-token emission scores (n_tokens, L) of a flat batch, bit for bit
    ``emission[featurize_flat(tokens, seq_ids)].sum(axis=1)`` (the
    ``crf.emission_scores`` of that matrix) without the (n_tokens,
    N_FEATURES) index matrix or its (n_tokens, N_FEATURES, L) gather.

    A unary family's score depends only on the value of one token, so its
    ``emission`` row is gathered once per unique token (and per sentinel)
    and then indexed per token by the window codes. The terms are added in
    column order, so the float32 sums round exactly as the reference's:
    the leading offset-0 families sum per unique token, each later family
    adds its per-token gather, and only the conjunctions hash per token.
    """
    if len(tokens) == 0:
        return np.zeros((0, emission.shape[1]), dtype=emission.dtype)
    values, codes = _family_inputs(tokens, seq_ids)
    acc_u = None  # per-unique partial sum while the families are offset-0
    acc = None
    for f, v, k in _UNARY:
        rows = emission[to_space(mix64(values[v], _FAM[f]))]
        if acc is None and k == 0:
            acc_u = rows if acc_u is None else acc_u + rows
            continue
        if acc is None:
            acc = acc_u[codes[0]]
        acc += rows[codes[k]]
    for f, parts in _CONJ:
        acc += emission[to_space(mix64(_conj_hash(values, codes, parts), _FAM[f]))]
    return acc
