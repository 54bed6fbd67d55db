"""Spark-free checks of the CRF core kernels against their twins
(tests/crf_core_twins.py): tokenizer offsets, per-unique-token emission,
the unpadded Viterbi and ``recognize_rows`` as a whole, all bit-exact."""

from __future__ import annotations

import re
import tracemalloc
from itertools import product

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from reach_banner_spark.operators.crf import (
    CrfModel,
    Crf2Model,
    emission_scores,
    viterbi2_batch,
    viterbi_batch,
)
from reach_banner_spark.operators.features import emission_flat, featurize_flat
from reach_banner_spark.operators.mentions import recognize_rows
from reach_banner_spark.operators.tokenizer import _WHITESPACE, tokenize_flat

from .crf_core_twins import (
    recognize_rows_twin,
    tokenize_flat_finditer,
    viterbi2_batch_padded,
    viterbi_batch_padded,
)

# characters the tokenizer must place exactly: every whitespace code point,
# ASCII classes of the regex, non-ASCII letters, astral characters and a
# lone surrogate
_ALPHABET = (
    [chr(c) for c in _WHITESPACE]
    + list("aZz09 -()[]{}.,_'\"")
    + ["é", "ß", "İ", "ǅ", "Ω", "α", "中", "\U0001F600", "\U00010400", "\U0001D400", "\ud800"]
)
_texts = st.one_of(
    st.none(),
    st.text(alphabet=st.sampled_from(_ALPHABET), max_size=60),
    # long runs of one character
    st.builds(lambda c, n: c * n, st.sampled_from(_ALPHABET), st.integers(0, 3000)),
    st.text(max_size=40),
)


def _assert_same_arrays(got, want):
    for g, w in zip(got, want, strict=True):
        assert g.dtype == w.dtype and np.array_equal(g, w)


@settings(max_examples=150, deadline=None)
@given(st.lists(_texts, max_size=12), st.booleans())
def test_tokenize_flat_equals_finditer_twin(texts, fine):
    _assert_same_arrays(tokenize_flat(texts, fine=fine), tokenize_flat_finditer(texts, fine=fine))


def test_whitespace_tuple_is_the_re_space_class():
    every = "".join(map(chr, range(0x110000)))
    assert tuple(ord(c) for c in re.findall(r"\s", every)) == _WHITESPACE


def _hostile_texts(lexicon_pdf, n_turns=400, long_chars=5000):
    """Corpus turns plus the edge cases: None, empty and whitespace-only
    turns, every whitespace code point, astral characters, abbreviations
    after mentions, repeated texts and one long turn."""
    from reach_banner_spark.fixtures import make_turns

    turns, _ = make_turns(n_convs=40, skew_conv_turns=30, seed=11, lexicon=lexicon_pdf)
    texts = turns["text"].iloc[:n_turns].tolist()
    aliases = lexicon_pdf["alias"].tolist()
    long = " ".join(texts)[:long_chars]
    return texts + [
        None,
        "",
        "   \t\n",
        "".join(chr(c) for c in _WHITESPACE).join(aliases[:5]),
        f"\U0001F600{aliases[0]}\U00010400 (ABC) {aliases[1]} (xyz-1) done",
        texts[0],
        long,
        texts[1],
    ]


@pytest.fixture(scope="module")
def models():
    from reach_banner_spark.fixtures import ensure_model, ensure_model2

    return CrfModel.load_npz(ensure_model()), Crf2Model.load_npz(ensure_model2())


def test_emission_flat_equals_feature_matrix_gather(lexicon_pdf, models):
    """Bit for bit, with both committed models and with a dense random
    emission matrix whose magnitudes spread over six decades (every
    family's row non-zero, so any change in summation order shows)."""
    toks, _, _, seq_ids, _ = tokenize_flat(_hostile_texts(lexicon_pdf))
    feat = featurize_flat(toks, seq_ids)
    rng = np.random.default_rng(3)
    dense = rng.standard_normal((feat.max() + 1, 3)) * 10.0 ** rng.uniform(-3, 3, (feat.max() + 1, 1))
    for emission in (models[0].emission, models[1].emission, dense.astype(np.float32)):
        got = emission_flat(toks, seq_ids, emission)
        want = emission[feat].sum(axis=1)
        assert got.dtype == want.dtype == np.float32
        assert np.array_equal(got.view(np.uint32), want.view(np.uint32))
    # one-token sentences, the BOS/EOS rows of every window family
    one = np.array(["a", "B", "a"], dtype=object)
    ids = np.array([0, 1, 2])
    got = emission_flat(one, ids, models[0].emission)
    assert np.array_equal(got, emission_scores(models[0], featurize_flat(one, ids)))
    assert emission_flat(one[:0], ids[:0], models[0].emission).shape == (0, 3)


def _random_batch(rng, L, max_len=40):
    lens = rng.integers(0, max_len, size=rng.integers(1, 30))
    lens[rng.integers(len(lens))] = max(1, lens.max())
    emit = rng.standard_normal((int(lens.sum()), L)).astype(np.float32)
    return emit, lens


def test_flat_viterbi_equals_padded_twin():
    """Both orders, zero-length sequences included (the twin gets them
    dropped, as the recognizer used to), float32 and float64 transitions,
    integer-valued scores for ties."""
    rng = np.random.default_rng(5)
    for trial in range(60):
        L = int(rng.integers(2, 6))
        emit, lens = _random_batch(rng, L)
        if trial % 3 == 0:  # small integers: many ties for argmax to break
            emit = rng.integers(-2, 3, emit.shape).astype(np.float32)
        dtype = np.float32 if trial % 2 else np.float64
        trans = rng.standard_normal((L + 1, L)).astype(dtype)
        t2 = rng.standard_normal((L + 1, L + 1, L)).astype(np.float32)
        nz = lens[lens > 0]
        assert np.array_equal(
            viterbi_batch(emit, lens, trans), viterbi_batch_padded(emit, nz, trans)
        )
        assert np.array_equal(
            viterbi2_batch(emit, lens, t2), viterbi2_batch_padded(emit, nz, t2)
        )


def test_order1_viterbi_agrees_with_bruteforce():
    """Every sequence of a batch of mixed lengths n <= 6 decodes to the
    best of all L^n paths (continuous random scores)."""
    rng = np.random.default_rng(7)
    for trial in range(20):
        L = int(rng.integers(2, 5))
        lens = rng.integers(1, 7, size=5)
        emit = rng.standard_normal((int(lens.sum()), L)).astype(np.float32)
        trans = rng.standard_normal((L + 1, L)).astype(np.float32)
        got = viterbi_batch(emit, lens, trans)
        for s, n in zip(np.cumsum(lens) - lens, lens):
            e = emit[s : s + n].astype(np.float64)

            def score(path, e=e):
                prev, total = L, 0.0
                for t, k in enumerate(path):
                    total += trans[prev, k] + e[t, k]
                    prev = k
                return total

            best = max(product(range(L), repeat=int(n)), key=score)
            path = tuple(got[s : s + n].tolist())
            assert score(path) >= score(best) - 1e-4, (trial, path, best)


def test_recognize_rows_equals_twin_composition(lexicon_pdf, models):
    texts = pd.Series(_hostile_texts(lexicon_pdf), dtype=object)
    for model in models:
        got = recognize_rows(texts, model)
        assert len(got)
        pd.testing.assert_frame_equal(got, recognize_rows_twin(texts, model), check_exact=True)
    empty = pd.Series([None, "", " "], dtype=object)
    pd.testing.assert_frame_equal(
        recognize_rows(empty, models[0]), recognize_rows(empty.iloc[:0], models[0])
    )


def test_recognize_rows_memory_grows_with_tokens_not_longest_turn(lexicon_pdf, models):
    """6,000 turns plus one ~52k-char turn: the padded kernels allocated
    (turns x longest turn x labels) planes, over 1.5 GB here; the flat
    ones stay within a small multiple of the batch's tokens."""
    from reach_banner_spark.fixtures import make_turns

    turns, _ = make_turns(n_convs=300, skew_conv_turns=40, seed=5, lexicon=lexicon_pdf)
    texts = turns["text"].iloc[:6000].tolist()
    texts.append(" ".join(texts[:2000])[:51999])
    texts = pd.Series(texts, dtype=object)
    tracemalloc.start()
    try:
        out = recognize_rows(texts, models[0])
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(out)
    assert peak < 100 * 2**20, f"peak {peak / 2**20:.0f} MB"
