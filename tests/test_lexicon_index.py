"""``LexiconIndex.link`` — the one below-gate linking implementation, run
by ``link_mentions`` and by the fused mention pass — against the
single-process twin ``link_surfaces_pandas`` (no Spark)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

EXACT = ["STAT3", "stat3", "Stat3", "tp-1", "TP1 GENE", "egfr-2"]
FUZZY = ["STAT3 gamma", "EGFR-3 alpha", "the FOX-2 gene", "STAT3alpha", "KRAS-55"]
MISSES = ["completely unrelated words", "zzzz", "q"]
SHORT = ["a", "p5", "IL", "tp"]
NON_ASCII = ["stät3", "STAT3β", "α-synucleín", "il-1β gene", "インターロイキン"]
LONG = ["STAT3 " * 400 + "gene", "x" * 5000]

# non-ASCII aliases put the index's own band hashing on the per-string
# shingle path (``_char3_shingle_ids_slow``) as well
NON_ASCII_LEX = [
    ("α-synuclein", "SNCA", 9001, "GENE"),
    ("IL-1β", "IL1B", 9002, "GENE"),
    ("il-1β gene", "IL1B", 9002, "GENE"),
]


def _lexicon(non_ascii: bool) -> pd.DataFrame:
    from reach_banner_spark.fixtures import make_lexicon

    lex = make_lexicon()
    if non_ascii:
        extra = pd.DataFrame(NON_ASCII_LEX, columns=lex.columns)
        lex = pd.concat([lex, extra], ignore_index=True)
    return lex


def _index_links(lex: pd.DataFrame, surfaces: list[str]) -> dict:
    from reach_banner_spark.operators.linking import lexicon_index

    keys = np.array([s.lower() for s in surfaces], dtype=object)
    eid, canon = lexicon_index(lex).link(keys)
    assert len(eid) == len(canon) == len(keys)
    got = {}
    for k, e, c in zip(keys, eid, canon):
        if pd.isna(e):
            assert c is None
        else:
            assert got.setdefault(k, (int(e), c)) == (int(e), c)
    return got


def _twin_links(lex: pd.DataFrame, surfaces: list[str]) -> dict:
    from reach_banner_spark.operators.linking import link_surfaces_pandas

    twin = link_surfaces_pandas(np.array(surfaces, dtype=object), lex)
    return {k: (int(e), c) for k, e, c in twin.itertuples(index=False, name=None)}


@pytest.mark.parametrize("non_ascii_lexicon", [False, True])
@pytest.mark.parametrize(
    "surfaces",
    [
        EXACT + FUZZY + MISSES + SHORT + LONG,  # vectorized shingle path
        EXACT + FUZZY + MISSES + SHORT + LONG + NON_ASCII,  # per-string path
    ],
    ids=["ascii", "non_ascii"],
)
def test_index_link_equals_twin(surfaces, non_ascii_lexicon):
    lex = _lexicon(non_ascii_lexicon)
    got = _index_links(lex, surfaces)
    assert got == _twin_links(lex, surfaces)

    aliases = set(lex["alias"].str.lower())
    for s in EXACT:
        assert s.lower() in aliases and s.lower() in got, s
    assert {s.lower() for s in MISSES}.isdisjoint(got)
    fuzzy = [s for s in FUZZY if s.lower() in got]
    assert fuzzy and all(s.lower() not in aliases for s in fuzzy)
    # case variants of one alias land on one entity
    assert got["stat3"] == _index_links(lex, ["Stat3"])["stat3"]
    if non_ascii_lexicon and "α-synucleín" in surfaces:
        assert got["α-synucleín"] == (9001, "SNCA")  # fuzzy, non-ASCII
        assert got["il-1β gene"] == (9002, "IL1B")  # exact, non-ASCII


def test_index_link_duplicates_and_empty_lexicon():
    """Repeated surfaces in one batch all get the same answer, and an
    empty lexicon links nothing."""
    from reach_banner_spark.operators.linking import lexicon_index

    lex = _lexicon(False)
    keys = np.array(["stat3", "stat3 gamma", "stat3", "stat3 gamma", "zzzz"], dtype=object)
    eid, canon = lexicon_index(lex).link(keys)
    assert eid[0] == eid[2] and canon[0] == canon[2]
    assert eid[1] == eid[3] and canon[1] == canon[3]
    assert pd.isna(eid[4]) and canon[4] is None

    eid, canon = lexicon_index(lex.iloc[:0]).link(keys)
    assert eid.isna().all() and all(c is None for c in canon)
