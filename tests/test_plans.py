"""Physical-plan quality gates (SURVEY.md §4.2): the optimizer must actually
get the plans we designed for — pushdown at the scan, broadcast for
dimensions, no row-at-a-time Python anywhere, pruned columns before the
Arrow boundary."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    from reach_banner_spark.plans.relational import REGISTRY

    df = REGISTRY["scan_prune_pushdown"][0](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:200], plan[:500]


def test_column_pruning_at_scan(spark):
    from reach_banner_spark.plans.relational import REGISTRY

    df = REGISTRY["scan_prune_pushdown"][0](spark, SF)
    plan = _plan(df)
    # ReadSchema must contain only the needed columns, not all 11
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_partkey" not in read_schema


def test_broadcast_join_chosen_for_dimension(spark):
    from reach_banner_spark.plans.relational import REGISTRY

    df = REGISTRY["join_broadcast"][0](spark, SF)
    assert "BroadcastHashJoin" in _plan(df)


def test_join_strategy_hints_respected(spark):
    """Each join key exercises the physical strategy it claims."""
    from reach_banner_spark.plans.relational import REGISTRY

    assert "ShuffledHashJoin" in _plan(REGISTRY["join_shuffle_hash"][0](spark, SF))
    assert "SortMergeJoin" in _plan(REGISTRY["join_sortmerge"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" in _plan(
        REGISTRY["join_nested_loop"][0](spark, SF)
    )


def test_mention_stage_prunes_before_arrow(spark, small_turns, model_path):
    """Only (conv_id, turn_idx, text) may cross the Arrow boundary — the
    mapInPandas node's child projects exactly the narrow columns."""
    from reach_banner_spark import schemas
    from reach_banner_spark.operators.mentions import detect_mentions

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    df = detect_mentions(turns, model_path)
    opt = _optimized(df)
    # the direct child of MapInPandas carries only the 3 narrow columns
    lines = opt.splitlines()
    child = next(
        lines[i + 1] for i, ln in enumerate(lines) if "MapInPandas" in ln
    )
    for needed in ("conv_id", "turn_idx", "text"):
        assert needed in child, child
    for dropped in ("role", "tool", "ts#"):
        assert dropped not in child, f"{dropped} shipped through Arrow: {child}"


def test_no_row_python_in_any_registered_query(spark):
    """north_star: never per-row Python. Every registered operator's plan
    must be free of BatchEvalPython (row-at-a-time UDF) nodes; Arrow nodes
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are allowed."""
    import __spark_entry__ as em

    q = em.queries()
    skip = {k for k in q if k.startswith(("stream_", "source_"))}
    skip |= {"sink_partitioned_parquet", "scan_partitioned"}  # side-effecting
    bad = []
    for key in sorted(set(q) - skip):
        try:
            plan = _plan(q[key](spark, SF))
        except Exception as e:  # pragma: no cover
            bad.append((key, f"plan error: {e}"))
            continue
        if "BatchEvalPython" in plan:
            bad.append((key, "BatchEvalPython in plan"))
    assert not bad, bad


def test_salted_repartition_is_deterministic_exchange(spark, small_turns):
    from reach_banner_spark import schemas
    from reach_banner_spark.plans.pipeline import salt_repartition

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf, schema=schemas.TURNS)
    plan = _plan(salt_repartition(turns))
    assert "Exchange hashpartitioning" in plan
    assert "rand" not in plan.lower().replace("operand", ""), (
        "salt must not use rand() — resume determinism"
    )


def test_registry_key_count_pinned():
    """Silent coverage loss guard: the graded queries() contract must not
    shrink — a broken transitive import now raises (registry imports are
    unconditional), and this pin catches accidental key removal. A family
    retired on purpose lowers the pin by exactly its key count (the
    event-analytics stream twins took 82 keys, none of them oracled)."""
    from reach_banner_spark.plans import registry

    q = registry.all_queries()
    o = registry.all_oracle_sql()
    assert len(q) >= 476, f"queries() shrank: {len(q)} keys"
    assert len(o) >= 413, f"oracle_sql() shrank: {len(o)} keys"
    assert set(o) <= set(q)


def test_bench_keys_are_registered():
    """Every key bench.py times is a live queries() key: bench.py reads
    each with ``q[key]``, so a retired key would stop the whole run with
    a KeyError."""
    import bench
    import __spark_entry__ as em

    missing = sorted(set(bench.HEADLINE) - set(em.queries()))
    assert not missing, f"bench.py names unregistered keys: {missing}"


def test_partition_pruning_at_scan(spark):
    """scan_partitioned must show non-empty PartitionFilters in the physical
    plan — only the p_bucket=3 directory is read (mirrors the pushdown
    gates for predicate/column pruning)."""
    import re

    from reach_banner_spark.plans.registry import all_queries

    df = all_queries()["scan_partitioned"](spark, SF)
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, f"no PartitionFilters in plan:\n{plan}"
    assert "p_bucket" in m.group(1), f"partition filter not on p_bucket: {m.group(1)}"


def test_bucketed_join_no_shuffle(spark):
    """join_bucketed: SortMergeJoin over bucket-sorted tables must need NO
    Exchange on either join side (the layout pays the shuffle once at
    write; the key demonstration for repeated fact-fact joins at scale)."""
    from reach_banner_spark.plans.registry import all_queries

    df = all_queries()["join_bucketed"](spark, SF)
    plan = _plan(df)
    join_part = plan.split("SortMergeJoin")[0]
    assert "SortMergeJoin" in plan, plan[:600]
    assert "Exchange hashpartitioning" not in join_part, (
        f"shuffle above the bucketed join:\n{join_part}"
    )


def test_link_plan_single_fact_shuffle(spark, small_turns, lexicon_pdf, model_path):
    """Below ``LEX_GATE`` the linking plan adds NO Exchange at all — no
    shuffle, no broadcast exchange — and exactly one MapInPandas on top of
    its input: exact lookup, fuzzy LSH match and alias dedup all live in
    the broadcast ``LexiconIndex`` (``LexiconIndex.link``). Pinned so a
    refactor can't silently reintroduce the distinct-surface shuffle, the
    broadcast joins or the per-branch lexicon dedup window."""
    from reach_banner_spark import schemas
    from reach_banner_spark.operators.linking import link_mentions
    from reach_banner_spark.operators.mentions import detect_mentions, paren_balanced

    turns_pdf, _ = small_turns
    turns = spark.createDataFrame(turns_pdf.iloc[:200], schema=schemas.TURNS)
    lexicon = spark.createDataFrame(lexicon_pdf, schema=schemas.LEXICON)
    mentions = detect_mentions(turns, model_path).filter(paren_balanced("surface"))
    linked = link_mentions(mentions, lexicon)

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    before, after = plan_of(mentions), plan_of(linked)
    exchanges = [line for line in after.splitlines() if "Exchange" in line]
    assert not exchanges, "linking added an Exchange:\n" + "\n".join(exchanges)
    assert after.count("MapInPandas") == before.count("MapInPandas") + 1, after
    assert after.lstrip().startswith("MapInPandas"), after


def test_funnel_plan_two_exchanges(spark):
    """funnel_conversion's physical plan is exactly TWO exchanges (the
    per-user conditional-min hash aggregation + the single-row global
    sum) — no joins, no windows, regardless of event volume (the scale
    claim in its docstring, pinned)."""
    import __spark_entry__ as em

    df = em.queries()["funnel_conversion"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    shuffles = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
        or "Exchange SinglePartition" in line
    ]
    assert len(shuffles) == 2, "expected 2 Exchanges:\n" + "\n".join(shuffles)
    assert "Join" not in plan and "Window" not in plan


def test_macro_query_plan_shape(spark):
    """macro_shipping_priority runs as broadcast-dimension joins + a
    TakeOrderedAndProject top-k (per-partition heaps, no global sort),
    with the date filters pushed into the parquet scans."""
    import __spark_entry__ as em

    df = em.queries()["macro_shipping_priority"](spark, "/root/testdata/sf0.01")
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # pushdown reaches the scans (optimized-plan text carries the
    # PushedFilters of the v1 parquet source)
    full = qe.toString()
    assert "PushedFilters: [" in full


def test_retrieval_keys_plan_shape(spark):
    """The lexical-retrieval keys keep their scale-shape promises:
    bm25_topk's global top-k is a TakeOrderedAndProject (per-partition
    heaps, no global sort) with the query-term IN-list pushed into the
    parquet scan of the postings side; tfidf_topk's df lookup is a
    BroadcastHashJoin (the fact side never shuffles for it)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.01"
    bm = em.queries()["bm25_topk"](spark, sf)
    qe = bm._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan

    tf = em.queries()["tfidf_topk"](spark, sf)
    tplan = tf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in tplan
    assert "BatchEvalPython" not in tplan

    # retrieval_mrr: every per-query candidate cut is a
    # TakeOrderedAndProject over the one checkpointed tf grain (never a
    # global sort), and the metric math is pure JVM.
    mrr = em.queries()["retrieval_mrr"](spark, sf)
    mplan = mrr._jdf.queryExecution().executedPlan().toString()
    assert mplan.count("TakeOrderedAndProject") >= 3
    assert "BatchEvalPython" not in mplan
    assert "Exchange rangepartitioning" not in mplan  # no global sort


def test_join_fuzzy_name_no_cartesian(spark):
    """join_fuzzy_name must reach the distance-1 pair set through the
    deletion-neighborhood equi-join — never a cartesian/nested-loop
    product — with the verify as a JVM levenshtein above it."""
    from reach_banner_spark.plans.registry import all_queries

    plan = _plan(all_queries()["join_fuzzy_name"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan


def _shuffle_lines(plan: str) -> list[str]:
    return [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
        or "Exchange SinglePartition" in line
    ]


def test_pii_scrub_zero_shuffle(spark):
    """pii_scrub stays a scan->project pipeline: all regex work inside
    whole-stage codegen, and the ONLY exchange is the r6 fan_out
    rebalance (the single-row-group test files otherwise serialize the
    regex passes on one core; at a well-partitioned 100 TB layout
    fan_out is a no-op and the plan is back to zero exchanges)."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["pii_scrub"](spark, SF))
    shuffles = _shuffle_lines(plan)
    assert len(shuffles) <= 1, plan
    for ln in shuffles:  # only the doc_id fan-out hash exchange
        assert "hashpartitioning(doc_id" in ln, plan
    assert "Project" in plan
    assert "BatchEvalPython" not in plan


def test_split_assign_zero_shuffle(spark):
    """split_assign is a pure scan->project pipeline (hash-range split
    membership is a per-row function of doc_id): zero Exchanges, so the
    split column can ride the ingest scan at 100 TB."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["split_assign"](spark, SF))
    assert not _shuffle_lines(plan), plan
    assert "BatchEvalPython" not in plan


def test_shuffle_shard_single_hash_exchange(spark):
    """shuffle_shard pays exactly ONE Exchange, hash-keyed on shard; the
    per-shard row_number must NOT introduce a global sort (no
    rangepartitioning) or a single-partition window — the failure modes a
    naive 'order the whole corpus' spelling would show."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["shuffle_shard"](spark, SF))
    shuffles = _shuffle_lines(plan)
    assert len(shuffles) == 1, "\n".join(shuffles)
    assert "hashpartitioning(shard#" in shuffles[0]
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


def test_pack_sequences_fact_side_single_exchange(spark):
    """pack_sequences' distributed prefix sum: the FACT side pays exactly
    one bucket-keyed Exchange; the only SinglePartition Exchange sits over
    the bucket-TOTALS aggregate (n_docs/64 rows), never the documents; the
    offsets come back via broadcast. A refactor that reintroduces the
    naive global window would put rangepartitioning or SinglePartition on
    the fact side — pinned here."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["pack_sequences"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the single-partition window must live under the BroadcastExchange
    # (dimension side); the fact side above it gets exactly one hash
    # Exchange on the bucket column
    fact_side = plan.split("BroadcastExchange")[0]
    # allow the r6 fan_out rebalance (doc_id hash exchange below the
    # bucket exchange; no-op on a well-partitioned 100 TB layout)
    fact_shuffles = [
        ln
        for ln in _shuffle_lines(fact_side)
        if "hashpartitioning(doc_id" not in ln
    ]
    assert len(fact_shuffles) == 1, "\n".join(fact_shuffles)
    assert "hashpartitioning(b#" in fact_shuffles[0]
    assert "Exchange SinglePartition" not in fact_side
    dim_side = plan.split("BroadcastExchange", 1)[1]
    assert "Exchange SinglePartition" in dim_side
    assert "Exchange rangepartitioning" not in plan


def test_dynamic_partition_pruning_in_plan(spark):
    """join_partition_pruned must actually get DPP: the fact scan's
    PartitionFilters carry a dynamicpruningexpression on p_bucket (the
    runtime dim-driven pruning — the capability the key exists to pin,
    since the oracle can only check the ROWS)."""
    import re

    from reach_banner_spark.plans.registry import all_queries

    df = all_queries()["join_partition_pruned"](spark, SF)
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, f"no PartitionFilters:\n{plan[:800]}"
    assert "dynamicpruning" in m.group(1).lower(), m.group(1)


def test_runtime_bloom_filter_in_plan(spark):
    """join_runtime_filtered must carry the injected Bloom runtime
    filter: a might_contain(...) predicate on the probe-side scan
    (the capability the key exists to pin — the oracle only checks
    rows), and the conf overrides must be restored afterwards."""
    from reach_banner_spark.plans.registry import all_queries

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = all_queries()["join_runtime_filtered"](spark, SF)
    plan = _plan(df)
    assert "might_contain" in plan.lower(), plan[:800]
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_observe_metrics_side_channel(spark):
    """observe_metrics' Observation must deliver the exact scan-time
    profile (row count + quantity sum) of the table the query read —
    computed on the same pass, no second job."""
    from reach_banner_spark.plans.registry import all_queries

    df = all_queries()["observe_metrics"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    got = df.rbs_observation.get
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    import pyspark.sql.functions as F

    want = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("q"),
    ).collect()[0]
    assert got == {"n_rows": want["n"], "total_qty": want["q"]}


def test_macro_family_plan_shapes(spark):
    """The TPC-H macro batch must keep the physical shapes its
    docstrings promise: Q4 a LEFT SEMI (no row multiplication), Q18 a
    TakeOrderedAndProject top-k with broadcast survivors, Q7 exactly
    ONE fact-scale exchange (dim filters prune through broadcasts),
    Q1 a single partial+final aggregate exchange, Q22 an anti join
    with the nationkey range pushed to the scan."""
    from reach_banner_spark.plans.registry import all_queries

    q = all_queries()
    p4 = _plan(q["macro_order_priority"](spark, SF))
    assert "LeftSemi" in p4, p4[:400]
    p18 = _plan(q["macro_top_spenders"](spark, SF))
    assert "TakeOrderedAndProject" in p18
    assert p18.count("BroadcastHashJoin") == 2
    p7 = _plan(q["macro_volume_shipping"](spark, SF))
    fact_ex = [
        ln for ln in p7.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(fact_ex) == 1, fact_ex
    p1 = _plan(q["macro_pricing_summary"](spark, SF))
    assert "l_shipdate" in p1.split("PushedFilters")[1][:200]
    p22 = _plan(q["macro_idle_customers"](spark, SF))
    assert "LeftAnti" in p22
    assert "c_nationkey" in p22.split("PushedFilters")[1][:250]
    # Q12: ship-year pushed to the lineitem scan, lateness a residual
    # (never a cartesian), one conditional-pivot aggregate
    p12 = _plan(q["macro_shipmode_priority"](spark, SF))
    assert "l_shipdate" in p12.split("PushedFilters")[1][:250]
    assert "CartesianProduct" not in p12
    # Q21: the semi (other supplier exists) AND the anti (no other late
    # supplier) both survive into the physical plan; top-20 is TOAP
    p21 = _plan(q["macro_waiting_suppliers"](spark, SF))
    assert "LeftSemi" in p21, p21[:400]
    assert "LeftAnti" in p21
    assert "TakeOrderedAndProject" in p21


def test_sql_pipe_syntax_plan_matches_ansi(spark):
    """The pipe-operator spelling must plan like the ANSI form: shipdate
    filter pushed into the parquet scan, one hash aggregate, no
    cartesian — pipes are surface syntax only."""
    from reach_banner_spark.plans.registry import all_queries

    q = all_queries()
    plan = _plan(q["sql_pipe_syntax"](spark, SF))
    assert "l_shipdate" in plan.split("PushedFilters")[1][:250], plan[:600]
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_emb_quantize_int8_zero_exchange(spark):
    """int8 quantization stays a pure projection with no Python; the
    ONLY exchange allowed is the r6 fan_out rebalance (no-op on a
    well-partitioned 100 TB layout)."""
    from reach_banner_spark.plans.registry import all_queries

    plan = _plan(all_queries()["emb_quantize_int8"](spark, SF))
    shuffles = _shuffle_lines(plan)
    assert len(shuffles) <= 1, plan[:600]
    for ln in shuffles:
        assert "hashpartitioning(vec_id" in ln, plan[:600]
    assert "BatchEvalPython" not in plan


def test_index_inverted_single_fact_pass(spark):
    """The checkpointed (term, doc_id, n) grain must feed BOTH rollup
    branches: no parquet re-scan survives into the physical plan (the
    grain shuffle happened once, at checkpoint time), at most 3
    exchanges remain (two term-keyed + one broadcast), and the final
    cut is TakeOrderedAndProject — never a global sort."""
    from reach_banner_spark.plans.registry import all_queries

    plan = _plan(all_queries()["index_inverted"](spark, SF))
    assert "Scan parquet" not in plan, plan[:600]
    assert plan.count("Exchange") <= 3, plan[:800]
    assert "TakeOrderedAndProject" in plan


def test_scan_agg_pushdown_footer_stats(spark):
    """COUNT/MIN/MAX must be answered from parquet footer metadata: the
    DSv2 scan carries PushedAggregation, and the scoped reader confs
    are restored after plan materialization."""
    from reach_banner_spark.plans.registry import all_queries

    df = all_queries()["scan_agg_pushdown"](spark, SF)
    plan = _plan(df)
    assert "PushedAggregation" in plan, plan[:800]
    assert "COUNT(*)" in plan.split("PushedAggregation")[1][:120]
    # restored to the session default (typed conf: fetch without a
    # sentinel default, which would fail boolean validation)
    assert spark.conf.get("spark.sql.parquet.aggregatePushdown") == "false"


def test_scan_bucket_pruned_plan(spark):
    """scan_bucket_pruned must actually prune: the bucketed scan is ON
    (not planner-disabled) and SelectedBucketsCount reads 2 out of 8;
    the scoped autoBucketedScan conf is restored afterwards."""
    from reach_banner_spark.plans.registry import all_queries

    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    before = spark.conf.get(key, None)
    df = all_queries()["scan_bucket_pruned"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount: 2 out of 8" in plan, plan[:600]
    assert "Bucketed: true" in plan, plan[:600]
    assert spark.conf.get(key, None) == before


def test_graph_kernel_single_exchange(spark):
    """Every per-conversation graph kernel (Tarjan bridges/articulation,
    Kruskal MST, Brandes betweenness) must plan as EXACTLY one
    conv_id exchange feeding one FlatMapGroupsInPandas over the
    memoized checkpointed edge set — no re-scan, no second shuffle."""
    from reach_banner_spark.plans.registry import all_queries

    q = all_queries()
    for key in ("kg_bridges", "kg_articulation", "kg_mst",
                "kg_betweenness", "kg_edge_betweenness", "kg_scc",
                "kg_k_truss"):
        plan = _plan(q[key](spark, SF))
        assert "FlatMapGroupsInPandas" in plan, (key, plan[:400])
        assert plan.count("Exchange") == 1, (key, plan[:600])
        assert "Scan parquet" not in plan, (key, plan[:400])


def test_scan_row_index_zero_exchange(spark):
    """_metadata.row_index is a generated scan column: the engine side
    must stay a pure pruned projection — zero Exchanges (the oracle's
    global window is oracle-only)."""
    from reach_banner_spark.plans.registry import all_queries

    plan = _plan(all_queries()["scan_row_index"](spark, SF))
    assert "Exchange" not in plan, plan[:600]
    assert "BatchEvalPython" not in plan


def test_pack_ffd_plan_shape(spark):
    """FFD packing pays exactly ONE source-keyed exchange into one
    grouped-map kernel — no per-row Python, no re-scan."""
    from reach_banner_spark.plans.registry import all_queries

    plan = _plan(all_queries()["pack_ffd"](spark, SF))
    assert plan.count("Exchange") == 1, plan[:800]
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_quality_gopher_rules_zero_exchange(spark):
    """The Gopher gates are pure scalar codegen over one scan; the ONLY
    exchange allowed is the r6 fan_out rebalance (no-op on a
    well-partitioned 100 TB layout), no Python."""
    from reach_banner_spark.plans.registry import all_queries

    plan = _plan(all_queries()["quality_gopher_rules"](spark, SF))
    shuffles = _shuffle_lines(plan)
    assert len(shuffles) <= 1, plan[:800]
    for ln in shuffles:
        assert "hashpartitioning(doc_id" in ln, plan[:800]
    assert "BatchEvalPython" not in plan


def test_sql_hints_bind_physical_strategies(spark):
    """Each join hint in sql_hints actually BINDS: the broadcast branch
    plans a BroadcastHashJoin, the merge branch a SortMergeJoin, the
    shuffle_hash branch a ShuffledHashJoin — a hint that silently falls
    back is worse than no hint (the key's whole claim)."""
    from reach_banner_spark.plans.relational import (
        _HINT_STRATEGIES,
        _hint_branch,
    )

    sf = "/root/testdata/sf0.01"
    want = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for tag, hint in _HINT_STRATEGIES:
        plan = _plan(_hint_branch(spark, sf, tag, hint))
        assert want[tag] in plan, f"{tag} hint did not bind:\n{plan}"
        assert "BatchEvalPython" not in plan


def test_scan_nested_prune_reads_one_subfield(spark):
    """scan_nested_prune's parquet scan prunes INTO the struct: the
    ReadSchema carries meta.lang alone — neither the sibling struct
    fields (source, n_chars) nor the wide text column are read."""
    import __spark_entry__ as em

    df = em.queries()["scan_nested_prune"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    rs = scan[0].split("ReadSchema:")[1]
    assert "lang" in rs
    assert "text" not in rs and "source" not in rs and "n_chars" not in rs


def test_scan_inmemory_cache_hits_cache(spark):
    """scan_inmemory_cache's physical plan must read the
    InMemoryTableScan columnar cache (caching is plan-observable only),
    and the cached relation must be the pruned 2-column projection,
    not the full table."""
    from reach_banner_spark.plans.registry import all_queries

    df = all_queries()["scan_inmemory_cache"](spark, SF)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "text" not in plan.split("InMemoryRelation")[0], (
        "cache must hold the pruned projection, not the text column"
    )
