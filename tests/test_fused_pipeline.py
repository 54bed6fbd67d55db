"""The fused mention -> link -> canonicalize core must reproduce the
operator composition row for row, and ``run_pipeline`` must plan turn to
triple as one Python map behind one full-width block shuffle."""

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


def _tuples(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(
        tuple(None if (not isinstance(v, str) and pd.isna(v)) else v for v in r)
        for r in pdf[COLS].itertuples(index=False, name=None)
    )


def _rows(df) -> list[tuple]:
    return _tuples(df.select(*COLS).toPandas())


def test_fused_pass_equals_composition(
    spark, small_turns, lexicon_pdf, model_path, monkeypatch
):
    """The per-batch core of the block pass (``link_rows``) row for row
    against the composition on both sides of the gate. Below it,
    ``link_mentions`` runs the same ``LexiconIndex.link`` as the fused
    core; with ``LEX_GATE`` at 0 the composition is the independent
    Spark-join + distributed-components implementation."""
    from reach_banner_spark.operators import linking
    from reach_banner_spark.operators.linking import link_mentions
    from reach_banner_spark.operators.mentions import (
        _load_model_bytes,
        detect_mentions,
        fused_broadcast,
        link_rows,
        paren_balanced,
    )
    from reach_banner_spark.plans.pipeline import apply_canonical, canonical_rep_map

    turns_pdf = _with_fuzzy_turns(small_turns[0])
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)

    mentions = detect_mentions(turns, model_path).filter(paren_balanced("surface"))
    mentions = mentions.persist()
    raw = link_mentions(mentions, lexicon)
    want = _rows(apply_canonical(raw, canonical_rep_map(spark, lexicon)))
    blob, index = fused_broadcast(spark, lexicon, model_path).value
    linked = link_rows(turns_pdf["text"], _load_model_bytes(blob), index)
    row = linked.pop("row").to_numpy()
    linked["conv_id"] = turns_pdf["conv_id"].to_numpy()[row]
    linked["turn_idx"] = turns_pdf["turn_idx"].to_numpy()[row]
    got = _tuples(linked)
    assert got == want
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    distributed = _rows(
        apply_canonical(link_mentions(mentions, lexicon), canonical_rep_map(spark, lexicon))
    )
    mentions.unpersist()
    assert got == distributed

    # the comparison covers every path of the fused core
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
    """Below the gate, turn to triple is one Python map node behind ONE
    exchange: the (conv_id, turn block) repartition at an explicit
    partition count, which AQE may not coalesce into one task. No join and
    no aggregate (no cross-partition distinct) is left."""
    from reach_banner_spark.plans.pipeline import run_pipeline

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    triples = run_pipeline(turns, lexicon, model_path)
    plan = triples._jdf.queryExecution().executedPlan().toString()
    # count distinct nodes by expression / plan id (AQE prints the
    # initial and final plan)
    maps = set(re.findall(r"MapInPandas \w+\([^)]*\)#\d+", plan))
    assert len(maps) == 1, maps
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInArrow"):
        assert node not in plan, node
    for node in ("Join", "CartesianProduct", "HashAggregate", "SortAggregate"):
        assert node not in plan, node
    exchanges = set(re.findall(r"Exchange (.*), \[plan_id=(\d+)\]", plan))
    block = re.compile(r"hashpartitioning\(conv_id#\d+, blk#\d+L?, (\d+)\), (\w+)")
    shapes = [block.fullmatch(spec) for spec, _ in exchanges]
    assert len(exchanges) == 1 and shapes[0], exchanges
    assert (int(shapes[0][1]), shapes[0][2]) == (n, "REPARTITION_BY_NUM"), exchanges


def test_block_pass_small_blocks_across_arrow_batches(
    spark, small_turns, lexicon_pdf, model_path, monkeypatch
):
    """With blocks of ``window_turns + 1`` turns and 7-row Arrow batches,
    groups and windows straddle batch edges and every window straddles a
    block edge: the block pass must still give the composition's triples
    (``LEX_GATE`` at 0)."""
    from reach_banner_spark.operators import linking, triples
    from reach_banner_spark.plans.pipeline import run_pipeline

    turns = spark.createDataFrame(_with_fuzzy_turns(small_turns[0]), schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    monkeypatch.setattr(triples, "BLOCK", 3)
    spark.conf.set(conf, "7")
    try:
        got = run_pipeline(turns, lexicon, model_path, window_turns=2).collect()
    finally:
        spark.conf.set(conf, before)
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    want = run_pipeline(turns, lexicon, model_path, window_turns=2).collect()
    assert len(got) == len(set(got)), "a triple came from two blocks"
    assert got and set(got) == set(want)


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

    calls = {"fuzzy_best_distributed": 0, "connected_components": 0, "local_lexicon": 0}

    def counted(module, name):
        real = getattr(module, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)

    counted(linking, "fuzzy_best_distributed")
    counted(pipeline, "connected_components")
    # the gate is taken once per call; both modules that bind
    # local_lexicon count into the same slot
    counted(linking, "local_lexicon")
    counted(pipeline, "local_lexicon")
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    composed = set(pipeline.run_pipeline(turns, lexicon, model_path).collect())
    assert calls == {
        "fuzzy_best_distributed": 1,
        "connected_components": 1,
        "local_lexicon": 1,
    }, calls
    assert fused and fused == composed


def test_above_gate_linking_has_no_broadcast_hint(
    spark, small_turns, lexicon_pdf, model_path, monkeypatch
):
    """Above ``LEX_GATE`` the lexicon is too big for the driver, so the
    distributed linking path (exact join, band join, best-match joins)
    must not force broadcasts of the lexicon or its band table."""
    from reach_banner_spark.operators import linking
    from reach_banner_spark.operators.mentions import detect_mentions, paren_balanced

    turns = spark.createDataFrame(small_turns[0], schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    mentions = detect_mentions(turns, model_path).filter(paren_balanced("surface"))
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    plan = linking.link_mentions(mentions, lexicon)._jdf.queryExecution().analyzed().toString()
    assert "Join" in plan  # the distributed path was planned
    assert "ResolvedHint" not in plan, plan
