"""The fused mention -> link -> canonicalize pass (one mapInPandas) must
reproduce the operator composition row for row, and ``run_pipeline`` must
plan it as one Python map behind a full-width salt shuffle."""

from __future__ import annotations

import re

import pandas as pd

from reach_banner_spark import schemas

COLS = [f.name for f in schemas.LINKED_MENTIONS.fields]

# surfaces no alias spells exactly: the LSH fuzzy path links the first
# five, the last three stay unlinked
FUZZY_TEXTS = [
    "we saw STAT3 gamma in the samples",
    "binding of EGFR-3 alpha observed",
    "the FOX-2 gene binding",
    "TP-55 was stable",
    "a STAT3alpha pathway",
    "the TP53 gene protein",
    "we measured IL-3 gene and RAS-1 gamma",
]


def _with_fuzzy_turns(turns_pdf: pd.DataFrame) -> pd.DataFrame:
    extra = turns_pdf.iloc[: len(FUZZY_TEXTS)].copy()
    extra["conv_id"] = "conv_fuzzy"
    extra["turn_idx"] = range(len(FUZZY_TEXTS))
    extra["text"] = FUZZY_TEXTS
    return pd.concat([turns_pdf, extra], ignore_index=True)


def _rows(df) -> list[tuple]:
    pdf = df.select(*COLS).toPandas()
    return sorted(
        tuple(None if (not isinstance(v, str) and pd.isna(v)) else v for v in r)
        for r in pdf.itertuples(index=False, name=None)
    )


def test_fused_pass_equals_composition(
    spark, small_turns, lexicon_pdf, model_path, monkeypatch
):
    """Row for row against the composition on both sides of the gate.
    Below it, ``link_mentions`` runs the same ``LexiconIndex.link`` as
    the fused pass; with ``LEX_GATE`` at 0 the composition is the
    independent Spark-join + distributed-components implementation."""
    from reach_banner_spark.operators import linking
    from reach_banner_spark.operators.linking import link_mentions
    from reach_banner_spark.operators.mentions import (
        detect_linked_mentions,
        detect_mentions,
        fused_broadcast,
        paren_balanced,
    )
    from reach_banner_spark.plans.pipeline import apply_canonical, canonical_rep_map

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(_with_fuzzy_turns(turns_pdf), schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)

    mentions = detect_mentions(turns, model_path).filter(paren_balanced("surface"))
    mentions = mentions.persist()
    raw = link_mentions(mentions, lexicon)
    want = _rows(apply_canonical(raw, canonical_rep_map(spark, lexicon)))
    got = _rows(detect_linked_mentions(turns, fused_broadcast(spark, lexicon, model_path)))
    assert got == want
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    distributed = _rows(
        apply_canonical(link_mentions(mentions, lexicon), canonical_rep_map(spark, lexicon))
    )
    mentions.unpersist()
    assert got == distributed

    # the comparison covers every path of the fused pass
    surface, eid = COLS.index("surface"), COLS.index("entity_id")
    key = [COLS.index(c) for c in ("conv_id", "turn_idx", "begin_char", "end_char")]
    raw_eid = {tuple(r[k] for k in key): r[eid] for r in _rows(raw)}
    aliases = set(lexicon_pdf["alias"].str.lower())
    exact = [r for r in got if r[eid] is not None and r[surface].lower() in aliases]
    fuzzy = [r for r in got if r[eid] is not None and r[surface].lower() not in aliases]
    unlinked = [r for r in got if r[eid] is None]
    rewritten = [r for r in got if raw_eid[tuple(r[k] for k in key)] != r[eid]]
    assert exact, "no exact alias hits"
    assert fuzzy, "no fuzzy-only hits"
    assert unlinked, "no unlinked mentions"
    assert rewritten, "no component-representative rewrite"


def test_run_pipeline_plan_one_python_map_full_width_salt(
    spark, small_turns, lexicon_pdf, model_path
):
    """One Python map node (the fused pass) and a salt exchange with an
    explicit partition count, which AQE may not coalesce into one task."""
    from reach_banner_spark.plans.pipeline import run_pipeline

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    triples = run_pipeline(turns, lexicon, model_path)
    plan = triples._jdf.queryExecution().executedPlan().toString()
    # the cached subplan prints once per scan of it (and per AQE initial /
    # final plan): count distinct nodes by expression / plan id
    maps = set(re.findall(r"MapInPandas \w+\([^)]*\)#\d+", plan))
    assert len(maps) == 1, maps
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInArrow"):
        assert node not in plan, node
    salt = set(
        re.findall(
            r"Exchange hashpartitioning\(pmod\(hash\(conv_id#\d+, turn_idx#\d+, 42\), "
            r"1048576\), (\d+)\), (\w+), \[plan_id=(\d+)\]",
            plan,
        )
    )
    assert [(int(w), kind) for w, kind, _ in salt] == [(n, "REPARTITION_BY_NUM")], salt


def test_run_pipeline_above_index_gate_same_triples(
    spark, small_turns, lexicon_pdf, model_path, monkeypatch
):
    """A lexicon above the index gate (``LEX_GATE`` forced to 0) takes
    the composition with the distributed fuzzy linking and components;
    both paths must give the same triple set."""
    from reach_banner_spark.operators import linking
    from reach_banner_spark.plans import pipeline

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(_with_fuzzy_turns(turns_pdf), schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    fused = set(pipeline.run_pipeline(turns, lexicon, model_path).collect())

    calls = {"fuzzy_best_distributed": 0, "connected_components": 0}

    def counted(module, name):
        real = getattr(module, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)

    counted(linking, "fuzzy_best_distributed")
    counted(pipeline, "connected_components")
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    composed = set(pipeline.run_pipeline(turns, lexicon, model_path).collect())
    assert calls == {"fuzzy_best_distributed": 1, "connected_components": 1}, calls
    assert fused and fused == composed
