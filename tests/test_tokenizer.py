"""Tokenizer/feature property tests (SURVEY.md §5.2.6)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from reach_banner_spark.operators.tokenizer import tokenize_batch

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


def _check_offsets(text: str):
    toks, starts, ends = tokenize_batch(pd.Series([text]))
    for t, s, e in zip(toks[0], starts[0], ends[0]):
        assert text[s:e] == t
    # spans strictly increasing and non-overlapping
    se = list(zip(starts[0].tolist(), ends[0].tolist()))
    for (s1, e1), (s2, e2) in zip(se, se[1:]):
        assert e1 <= s2
        assert s1 < e1


def test_offsets_simple_cases():
    for text in [
        "Hello, world!",
        "TP53 (p53) binds IL-2R alpha.",
        "camelCaseABC123def",
        "",
        "   ",
        "a",
        "(((unbalanced",
        "unicode café naïve",
    ]:
        _check_offsets(text)


def test_fine_splits_case_and_digit_boundaries():
    toks, _, _ = tokenize_batch(pd.Series(["Abc12deFG"]))
    assert toks[0] == ["Abc", "12", "de", "FG"]


def test_simple_keeps_alnum_runs():
    toks, _, _ = tokenize_batch(pd.Series(["Abc12de-f"]), fine=False)
    assert toks[0] == ["Abc12de", "-", "f"]


if HAVE_HYP:

    @given(st.text(max_size=200))
    @settings(max_examples=200, deadline=None)
    def test_offsets_property(text):
        _check_offsets(text)


def test_feature_hash_stability():
    from reach_banner_spark.functions.hashing import fnv1a_bytes, hash_str_array

    arr = np.array(["W=tp53", "SH=Aa0", "POS=NN"], dtype=object)
    idx = hash_str_array(arr)
    # vectorized path must equal the scalar reference implementation
    for s, i in zip(arr, idx):
        assert fnv1a_bytes(s.encode()) % (1 << 20) == i
    # stable across calls
    assert (hash_str_array(arr) == idx).all()


def test_fnv64_array_equals_scalar_fnv_in_flat_memory():
    """Per string == ``fnv1a_bytes`` (empty, non-ASCII and astral strings,
    lengths on both sides of the vectorized/scalar switch), and
    ``hash_str_array`` is its ``% space``. 5,000 short tokens plus one
    100k-char token stay within a few MB: the old (n, longest) byte
    matrix and its mask took ~0.5 GB for that batch."""
    import random
    import tracemalloc

    from reach_banner_spark.functions.hashing import (
        fnv1a_bytes,
        fnv64_array,
        hash_str_array,
    )

    rng = random.Random(5)
    alphabet = "abcXYZ019 -éß中\U0001F600"
    strings = ["", "a", "é", "\U0001F600", "x" * 40, "中" * 33]
    strings += ["".join(rng.choices(alphabet, k=rng.choice([0, 1, 3, 8, 31, 32, 33, 90])))
                for _ in range(300)]
    arr = np.array(strings, dtype=object)
    got = fnv64_array(arr)
    assert got.dtype == np.uint64
    assert got.tolist() == [fnv1a_bytes(s.encode("utf-8")) for s in strings]
    assert hash_str_array(arr, 1000).tolist() == [int(h) % 1000 for h in got.tolist()]
    assert fnv64_array(np.array([], dtype=object)).shape == (0,)

    batch = np.array(
        ["".join(rng.choices(alphabet, k=rng.randint(1, 12))) for _ in range(5000)]
        + ["q" * 100_000],
        dtype=object,
    )
    tracemalloc.start()
    try:
        h = fnv64_array(batch)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert h[-1] == fnv1a_bytes(batch[-1].encode())
    assert peak < 4 * 2**20, f"peak {peak / 2**20:.1f} MB"


def test_char3_shingle_vectorized_equals_reference():
    """The megabuffer FNV fast path must match the per-string reference
    twin EXACTLY (ids and order), including edge cases and non-ASCII
    batches (which take the fallback)."""
    import random
    import string

    import numpy as np
    import pandas as pd

    from reach_banner_spark.functions.hashing import hash_str_array
    from reach_banner_spark.operators.linking import char3_shingle_ids

    def reference(surfaces):
        out = []
        for s in surfaces:
            s = (s or "").lower()
            grams = ([s] if s else []) if len(s) < 3 else [
                s[i : i + 3] for i in range(len(s) - 2)
            ]
            out.append(np.unique(hash_str_array(np.array(grams, dtype=object), 1 << 32)))
        return out

    rng = random.Random(7)
    cases = ["", "a", "ab", "abc", "AAAA", "x" * 2000, None,
             "Hello World", "caféxyz", "ünïcode grams", "tab\there"]
    cases += ["".join(rng.choices(string.ascii_letters + " .,!?", k=rng.randint(0, 300)))
              for _ in range(150)]
    got = char3_shingle_ids(pd.Series(cases, dtype=object))
    want = reference(cases)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g.dtype == np.int64 and np.array_equal(g, w), (i, repr(cases[i]))


def test_jaccard_pairs_vectorized_equals_reference():
    import random
    import string

    import numpy as np
    import pandas as pd

    from reach_banner_spark.operators.linking import char3_shingle_ids, jaccard_pairs

    def reference(a, b):
        sa, sb = char3_shingle_ids(a), char3_shingle_ids(b)
        out = np.empty(len(sa))
        for i, (x, y) in enumerate(zip(sa, sb)):
            if len(x) == 0 and len(y) == 0:
                out[i] = 1.0
                continue
            inter = np.intersect1d(x, y, assume_unique=True).size
            out[i] = inter / (len(x) + len(y) - inter)
        return out

    rng = random.Random(11)
    cases = ["", "", "abc", "abc def", None, "zzz", "the the the"]
    cases += ["".join(rng.choices(string.ascii_lowercase + " ", k=rng.randint(0, 200)))
              for _ in range(100)]
    a = pd.Series(cases, dtype=object)
    b = pd.Series(list(cases[1:]) + [cases[0]], dtype=object)
    assert np.allclose(jaccard_pairs(a, b), reference(a, b), atol=0)
    assert np.allclose(jaccard_pairs(a, a), np.ones(len(a)))
