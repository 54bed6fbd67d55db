"""Offset-preserving tokenizers (reference: banner.tokenization [P]).

The reference ships two tokenizers:
- ``SimpleTokenizer`` [P banner.tokenization.SimpleTokenizer]: splits text
  into maximal alphanumeric runs and single punctuation characters, keeping
  character offsets into the sentence.
- ``FineTokenizer`` [P banner.tokenization.FineTokenizer]: additionally
  breaks at letter<->digit boundaries and lowercase->uppercase case
  transitions (so ``Abc12de`` -> ``Abc``, ``12``, ``de``).

Both are re-expressed here as batch functions over pandas Series of turn
texts, producing parallel lists of (token, start, end). They run inside one
fused ``mapInPandas`` stage (see mentions.py) — Arrow batches in, Arrow
batches out, no per-row Spark Python.

Invariant (tested): for every input string the token spans are
non-overlapping, strictly increasing, and ``text[start:end] == tok``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# SimpleTokenizer: alnum runs or single non-space symbol.
_SIMPLE_RE = re.compile(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]")
# FineTokenizer: split alnum runs further at letter/digit and case boundaries.
_FINE_RE = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z]*|[a-z]+|[0-9]+|[^\sA-Za-z0-9]")


# The code points of the ``re`` ``\s`` class (``str.isspace``), written out
# rather than found by scanning Unicode at import; tests/test_crf_core.py
# checks the tuple against ``re`` over every code point.
_WHITESPACE = (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20, 0x85, 0xA0,
    0x1680, 0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
    0x2008, 0x2009, 0x200A, 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
)
_IS_SPACE = np.zeros(max(_WHITESPACE) + 2, dtype=bool)
_IS_SPACE[list(_WHITESPACE)] = True


def tokenize_flat(
    texts: "pd.Series | list", fine: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Tokenize a whole batch in ONE ``findall`` over a '\\n'-joined
    megastring (both token classes exclude whitespace, so tokens never
    cross the separator). Returns flat arrays:
    (tokens, starts, ends, seq_ids, seq_lens) with per-text char offsets.

    The offsets come from numpy, not from one ``span()`` per match: every
    non-whitespace character lies in exactly one token and no token holds
    whitespace, so token k starts at the position of non-whitespace
    character number (total length of tokens 0..k-1) of the megastring.
    """
    rx = _FINE_RE if fine else _SIMPLE_RE
    tl = [t if isinstance(t, str) else ("" if t is None else str(t)) for t in texts]
    n = len(tl)
    lens = np.fromiter(map(len, tl), count=n, dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=offsets[1:])  # +1 per '\n' separator
    big = "\n".join(tl)
    found = rx.findall(big)
    toks = np.empty(len(found), dtype=object)
    toks[:] = found
    tok_lens = np.fromiter(map(len, found), count=len(found), dtype=np.int64)
    # one code point per element, astral characters and lone surrogates too
    cp = np.frombuffer(big.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    space = _IS_SPACE[np.minimum(cp, len(_IS_SPACE) - 1)]
    nonspace = np.flatnonzero(~space)
    gs = nonspace[np.cumsum(tok_lens) - tok_lens]
    ge = gs + tok_lens
    seq_ids = np.searchsorted(offsets, gs, side="right") - 1
    starts = (gs - offsets[seq_ids]).astype(np.int32)
    ends = (ge - offsets[seq_ids]).astype(np.int32)
    seq_lens = np.bincount(seq_ids, minlength=n).astype(np.int64)
    return toks, starts, ends, seq_ids.astype(np.int64), seq_lens


def tokenize_batch(
    texts: pd.Series, fine: bool = True
) -> tuple[list[list[str]], list[np.ndarray], list[np.ndarray]]:
    """Tokenize a batch of texts; returns (tokens, starts, ends) per text."""
    toks, starts, ends, _seq_ids, seq_lens = tokenize_flat(texts, fine=fine)
    cuts = np.cumsum(seq_lens)[:-1]
    starts_out = np.split(starts, cuts)
    ends_out = np.split(ends, cuts)
    toks_out: list[list[str]] = []
    idx = 0
    for c in seq_lens:
        toks_out.append(list(toks[idx : idx + c]))
        idx += int(c)
    return toks_out, starts_out, ends_out


def tokenize_pandas(pdf: pd.DataFrame, text_col: str = "text", fine: bool = True) -> pd.DataFrame:
    """Return pdf + a ``tokens`` column of list<dict(tok,start,end)>."""
    toks, starts, ends = tokenize_batch(pdf[text_col], fine=fine)
    pdf = pdf.copy()
    pdf["tokens"] = [
        [
            {"tok": t, "start": int(s), "end": int(e)}
            for t, s, e in zip(ts, ss.tolist(), es.tolist())
        ]
        for ts, ss, es in zip(toks, starts, ends)
    ]
    return pdf
