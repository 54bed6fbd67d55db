"""Streaming goldens (SURVEY.md §5.2.5): each incrementalized plan must
match its one-shot batch twin on the same bounded input, and watermark
semantics must actually drop late windows in append mode."""

from __future__ import annotations

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def _batch_events(spark):
    from reach_banner_spark.streaming.ops import _stage_stream_dir

    return spark.read.parquet(_stage_stream_dir(SF))


def _sorted_tuples(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return sorted(map(tuple, pdf[cols].astype(str).values.tolist())), cols


@pytest.mark.parametrize("key", ["stream_tumbling", "stream_sliding", "stream_session"])
def test_stream_matches_batch_twin(spark, key):
    from reach_banner_spark.streaming import ops

    fn, _ = ops.REGISTRY[key]
    got, _ = _sorted_tuples(fn(spark, SF))
    batch = _batch_events(spark)
    twin = {
        "stream_tumbling": ops.tumbling_agg,
        "stream_sliding": ops.sliding_agg,
        "stream_session": ops.session_agg,
    }[key](batch)
    want, _ = _sorted_tuples(twin)
    assert got == want, f"{key}: streaming result != batch twin"


def test_stream_dedup_unique(spark):
    from reach_banner_spark.streaming import ops

    fn, _ = ops.REGISTRY["stream_dedup"]
    pdf = fn(spark, SF).toPandas()
    assert pdf["event_id"].is_unique


def test_stream_stateful_counts(spark):
    from reach_banner_spark.streaming import ops

    fn, _ = ops.REGISTRY["stream_stateful"]
    got = fn(spark, SF).toPandas().set_index("user_id")["n_events"].sort_index()
    want = (
        _batch_events(spark)
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
        .sort_index()
    )
    assert got.astype(int).to_dict() == want.astype(int).to_dict()


def test_stream_watermark_drops_late_window(spark, tmp_path):
    """Append-mode windows past the watermark emit exactly once; a late row
    arriving after its window's watermark has passed is dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from reach_banner_spark.streaming.ops import EVENTS_SCHEMA
    import tempfile

    d = str(tmp_path / "stream")
    import os

    os.makedirs(d, exist_ok=True)
    base = pd.Timestamp("2024-01-01 00:00:00")

    def mk(path, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)

    ck = tempfile.mkdtemp(prefix="rbs_late_")
    sink = tempfile.mkdtemp(prefix="rbs_late_sink_")

    def run_once():
        ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
        out = (
            ev.withWatermark("ts", "5 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("string").alias("w"), "n")
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: window [00:00,00:10) gets 2 rows; the 00:25 row advances the
    # watermark to 00:20, finalizing and emitting that window
    mk(
        f"{d}/b1.parquet",
        [
            (1, base, 1, "a", 1.0, "{}"),
            (2, base + pd.Timedelta("5min"), 1, "a", 1.0, "{}"),
            (3, base + pd.Timedelta("25min"), 1, "a", 1.0, "{}"),
        ],
    )
    run_once()
    # run 2 (same checkpoint = stream restart): a LATE row for the already-
    # finalized window arrives — the watermark (00:20) must drop it
    mk(f"{d}/b2.parquet", [(4, base + pd.Timedelta("1min"), 1, "a", 1.0, "{}")])
    run_once()
    res = {r["w"]: r["n"] for r in spark.read.parquet(sink).collect()}
    # exactly 2 rows in the first window; late event_id=4 dropped, no re-emit
    assert res.get("2024-01-01 00:00:00") == 2, res


def test_stream_mentions_matches_batch(spark):
    """The fused mention stage over a turn stream == batch on same turns."""
    from reach_banner_spark import schemas
    from reach_banner_spark.fixtures import ensure_model, make_turns
    from reach_banner_spark.operators.mentions import detect_mentions
    from reach_banner_spark.streaming import ops

    got, _ = _sorted_tuples(ops.REGISTRY["stream_mentions"][0](spark, SF))
    turns, _g = make_turns(n_convs=12, skew_conv_turns=12)
    batch = detect_mentions(
        spark.createDataFrame(turns, schema=schemas.TURNS), ensure_model()
    )
    want, _ = _sorted_tuples(batch)
    assert got == want


def test_stream_triples_equals_batch(spark):
    """Incremental triple assembly over the 3-file micro-batch split ==
    the one-shot batch pipeline on the same turns: the per-conversation
    tail state recovers every cross-batch window pair, and the
    object-in-new-batch restriction emits each triple exactly once
    (modulo the same distinct the batch applies)."""
    from pyspark.sql import functions as F

    from reach_banner_spark.operators.triples import assemble_triples
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_triples"][0](spark, SF).toPandas()

    turns = spark.read.parquet(ops._staged_turn_stream_dir()).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )
    dic = spark.createDataFrame(ops.STREAM_DICT, ["term", "term_id"])
    toks = turns.select(
        "conv_id", "turn_idx", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    mentions = toks.join(F.broadcast(dic), toks["word"] == dic["term"]).select(
        "conv_id",
        "turn_idx",
        F.col("pos").cast("int").alias("begin_char"),
        F.col("word").alias("canonical"),
    )
    want = assemble_triples(mentions, turns, window_turns=2).toPandas()

    cols = ["conv_id", "window_start", "subj", "pred", "obj"]
    ga = sorted(map(tuple, got[cols].values.tolist()))
    wa = sorted(map(tuple, want[cols].values.tolist()))
    assert len(ga) > 0
    assert ga == wa


def test_stream_dedup_minhash_equals_batch(spark, tmp_path):
    """Ingest-time near-dup detection over 3 micro-batches == the uncapped
    batch operator on the same 300-doc corpus: in-batch buckets plus the
    accumulated band-index join surface every candidate the batch run
    surfaces, and the verify algebra is shared."""
    import os
    import shutil

    from reach_banner_spark.operators.dedup import dedup_minhash_lsh
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_dedup_minhash"][0](spark, SF)
        .toPandas()
        .sort_values(["a", "b"])
        .reset_index(drop=True)
    )

    staged = ops._staged_doc_stream_dir(SF)
    batch_sf = tmp_path / "docsf"
    (batch_sf / "documents.parquet").mkdir(parents=True)
    for f in os.listdir(staged):
        if f.endswith(".parquet"):
            shutil.copy2(os.path.join(staged, f), batch_sf / "documents.parquet" / f)
    want = (
        dedup_minhash_lsh(spark, str(batch_sf), max_bucket=1 << 30)
        .toPandas()
        .sort_values(["a", "b"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    assert got[["a", "b"]].astype("int64").equals(want[["a", "b"]].astype("int64"))
    import numpy as np

    assert np.allclose(got["jaccard"].to_numpy(), want["jaccard"].to_numpy())


def _stream_kg_vs_batch_pipeline(spark) -> tuple[list, list]:
    from reach_banner_spark import schemas
    from reach_banner_spark.fixtures import ensure_model, make_lexicon
    from reach_banner_spark.plans.pipeline import run_pipeline
    from reach_banner_spark.streaming import ops

    turns = spark.read.parquet(ops._staged_turn_stream_dir())
    lexicon = spark.createDataFrame(make_lexicon(), schema=schemas.LEXICON)
    want = run_pipeline(turns, lexicon, ensure_model(), window_turns=2).toPandas()
    got = ops.REGISTRY["stream_kg"][0](spark, SF).toPandas()

    cols = ["conv_id", "window_start", "subj", "pred", "obj"]
    ga = sorted(map(tuple, got[cols].values.tolist()))
    wa = sorted(map(tuple, want[cols].values.tolist()))
    return ga, wa


def test_stream_kg_equals_batch_pipeline(spark):
    """The full incremental KG pipeline (CRF mentions -> link ->
    canonicalize -> triples per micro-batch with tail state) == the
    one-shot batch run_pipeline on the same turns."""
    ga, wa = _stream_kg_vs_batch_pipeline(spark)
    assert len(ga) > 0
    assert ga == wa


def test_stream_kg_above_lexicon_gate_equals_batch_pipeline(spark, monkeypatch):
    """Above the lexicon gate (``LEX_GATE`` forced to 0) ``stream_kg``
    runs the composition per micro-batch (distributed fuzzy linking, one
    representative map per stream) and still gives the one-shot triples."""
    from reach_banner_spark.operators import linking

    real = linking.fuzzy_best_distributed
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(linking, "fuzzy_best_distributed", counted)
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    ga, wa = _stream_kg_vs_batch_pipeline(spark)
    assert calls, "the stream did not take the distributed path"
    assert len(ga) > 0
    assert ga == wa


def test_stream_corpus_filter_equals_batch(spark):
    """Ingest-time canonical filtering over 3 micro-batches == the batch
    corpus_filter on the same staged 300-doc corpus: the gate expressions
    are literally shared (quality_gate_cols), and first-arrival
    survivorship equals min-doc_id survivorship because the staged parts
    are doc_id-ranged. Runs the key twice to pin determinism across the
    work-dir sweep."""
    from reach_banner_spark.operators.textstats import corpus_filter_df
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_corpus_filter"][0](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    staged = ops._staged_doc_stream_dir(SF)
    docs = spark.read.parquet(staged)
    want = (
        corpus_filter_df(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) > 0
    assert got[["doc_id", "n_words", "stopword_ratio"]].equals(
        want[["doc_id", "n_words", "stopword_ratio"]]
    )

    again = (
        ops.REGISTRY["stream_corpus_filter"][0](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_funnel_equals_batch(spark):
    """Incremental first-touch funnel over micro-batches == the batch
    funnel_conversion on the full events table: the per-user state is
    three MIN timestamps, and MIN merges exactly across any batch split
    (arrival order irrelevant — the staged corpus is event_id-split, not
    chronological, on purpose). Second invocation pins determinism across
    the work-dir sweep (the result must survive it: ADVICE r4)."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_funnel"][0](spark, SF)
        .toPandas()
        .sort_values("step_idx")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["funnel_conversion"][0](spark, SF)
        .toPandas()
        .sort_values("step_idx")
        .reset_index(drop=True)
    )
    assert len(got) == 3
    assert got.equals(want)
    # the funnel is monotone non-increasing by construction
    assert got["users"].is_monotonic_decreasing

    again = (
        ops.REGISTRY["stream_funnel"][0](spark, SF)
        .toPandas()
        .sort_values("step_idx")
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_attribution_equals_batch(spark):
    """Incremental last-touch attribution over micro-batches == the batch
    events_attribution on the full events table. The carried per-user
    state is the single latest touch (max by the total (ts, event_id)
    order), which is exactly the prior-history prefix the batch window
    needs — sound because the staged stream is chronological (asserted
    inside the operator per batch). Purchases must be emitted exactly
    once (row count equality catches double emission). Second invocation
    pins determinism across the work-dir sweep."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["user_id", "conv_id"]
    got = (
        ops.REGISTRY["stream_attribution"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_attribution"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])
    # some conversions must be attributed AND the 'none' branch must be
    # exercised, else the fixture stopped stressing both paths
    assert (got["touch_type"] != "none").any()

    again = (
        ops.REGISTRY["stream_attribution"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_anomaly_equals_batch(spark):
    """Incremental daily-volume anomaly detection over micro-batches ==
    the batch events_anomaly on the full events table: per-(type, day)
    COUNT is exactly mergeable (sum over batches == count over all), so
    the shared anomaly_rollup over the merged state must reproduce the
    batch z-scores bit-for-bit. Second invocation pins determinism
    across the work-dir sweep."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["event_type", "day"]
    got = (
        ops.REGISTRY["stream_anomaly"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_anomaly"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])

    again = (
        ops.REGISTRY["stream_anomaly"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_transitions_equals_batch(spark):
    """Incremental transition-graph construction over micro-batches ==
    the batch event_transitions on the full events table. The boundary
    state (one latest event per user) must stitch cross-batch pairs
    exactly once — total pair count equality catches both a dropped and
    a double-counted boundary pair; probability strings must match
    bit-for-bit (shared transition_rollup). Second invocation pins
    determinism across the work-dir sweep."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["src", "dst"]
    got = (
        ops.REGISTRY["stream_transitions"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["event_transitions"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])
    # the cross-batch stitch must actually have fired: with 4 micro-
    # batches over a fixture whose every user has a multi-event timeline,
    # SOME pair straddles a boundary — equality of total pair mass with
    # the batch twin is only meaningful if so (guard: > 3 batches' worth
    # of within-batch-only pairs would undercount total n)
    assert int(got["n"].sum()) == int(want["n"].sum())

    again = (
        ops.REGISTRY["stream_transitions"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_retention_equals_batch(spark):
    """Incremental cohort retention over micro-batches == the batch
    retention_cohort on the full events table: under chronological
    ingestion (asserted inside the operator) each user's cohort date is
    final at first sight, so the per-batch activity derivation against
    the carried cohort table is exactly the batch derivation's rows and
    union-distinct reproduces the one-shot DISTINCT. Second invocation
    pins determinism across the work-dir sweep."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["cohort_date", "week_k"]
    got = (
        ops.REGISTRY["stream_retention"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["retention_cohort"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])
    # retention beyond week 0 must exist, else the fixture stopped
    # exercising the cross-batch week accumulation
    assert (got["week_k"] > 0).any()

    again = (
        ops.REGISTRY["stream_retention"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_pack_equals_batch(spark):
    """Ingest-time sequence packing over 3 micro-batches == the batch
    pack_positions on the same staged 300-doc corpus: positions are an
    exclusive prefix sum, prefix sums compose across batches via the
    carried token count, and the staged parts arrive in doc_id order.
    Second invocation pins determinism across the work-dir sweep."""
    from reach_banner_spark.operators.textstats import _PACK_CAP, pack_positions
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_pack"][0](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    staged = ops._staged_doc_stream_dir(SF)
    want = (
        pack_positions(spark.read.parquet(staged))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == 300
    assert got.equals(want)
    assert (got["seq_offset"] < _PACK_CAP).all()
    assert (got["seq_offset"] >= 0).all()

    again = (
        ops.REGISTRY["stream_pack"][0](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_contamination_equals_batch(spark):
    """Ingest-time decontamination over 3 micro-batches == the batch
    contamination rollup on the same staged 300-doc corpus: the shingling,
    benchmark index, membership algebra, and %.6f contract are literally
    shared (doc_shingles / benchmark_shingles / contamination_scores), and
    the operator is state-free (score depends only on doc + static index)
    so the union over batches is the batch result by construction — this
    test pins that the plumbing preserves it. Runs the key twice to pin
    determinism across the work-dir sweep."""
    from reach_banner_spark.operators.textstats import (
        _bench_pred,
        benchmark_shingles,
        contamination_scores,
        doc_shingles,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_contamination"][0](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    staged = ops._staged_doc_stream_dir(SF)
    docs = spark.read.parquet(staged).select("doc_id", "text")
    want = (
        contamination_scores(
            doc_shingles(docs.filter(~_bench_pred())),
            benchmark_shingles(docs),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) > 0
    assert got.equals(want)

    again = (
        ops.REGISTRY["stream_contamination"][0](spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_hll_tracks_exact_running_distinct(spark):
    """stream_hll's per-batch running vocabulary estimate lands within 5%
    of the exact running distinct word count at every micro-batch (2.5x
    the sketch's default rsd), batch ids are sequential, estimates are
    non-decreasing (register-max union can only grow), and the key is
    deterministic across a re-run (sketch state is order-independent)."""
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_hll"][0](spark, SF)
        .toPandas()
        .sort_values("batch_id")
        .reset_index(drop=True)
    )
    assert got["batch_id"].tolist() == list(range(len(got)))
    assert len(got) >= 2

    staged = ops._staged_doc_stream_dir(SF)
    import os

    parts = sorted(
        os.path.join(staged, f)
        for f in os.listdir(staged)
        if f.endswith(".parquet")
    )
    assert len(parts) == len(got)
    seen = set()
    exact = []
    for p in parts:
        pdf = spark.read.parquet(p).toPandas()
        for t in pdf["text"]:
            seen.update(w for w in t.split(" ") if w)
        exact.append(len(seen))
    ests = got["est_distinct_words"].tolist()
    for e, x in zip(ests, exact):
        assert abs(e - x) <= 0.05 * x, (e, x)
    assert ests == sorted(ests), "union can only grow"

    again = (
        ops.REGISTRY["stream_hll"][0](spark, SF)
        .toPandas()
        .sort_values("batch_id")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_topk_equals_batch(spark):
    """stream_topk's final top-20 == the one-shot batch word count over
    the same documents (counts are SUMs, sums merge exactly — streaming
    == batch is a theorem; this pins the implementation). Exact integer
    counts, deterministic (cnt DESC, word ASC) order, re-run identical."""
    from pyspark.sql import functions as F

    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_topk"][0](spark, SF).toPandas()
    want = (
        spark.read.parquet(ops._staged_doc_stream_dir(SF))
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
        .toPandas()
    )
    assert len(got) == len(want) == 20
    assert got["word"].tolist() == want["word"].tolist()
    assert got["cnt"].tolist() == want["cnt"].tolist()

    again = ops.REGISTRY["stream_topk"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_dau_equals_batch(spark):
    """stream_dau's final DAU/WAU table == the one-shot events_rolling_dau
    over the same events (the carried state is the deduped (day, user)
    set; set union merges exactly, and the rollup is one shared
    definition). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_dau"][0](spark, SF)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_rolling_dau"][0](spark, SF)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    assert (got["dau"] <= got["wau7"]).all()

    again = (
        ops.REGISTRY["stream_dau"][0](spark, SF)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_ann_equals_batch(spark):
    """stream_ann (LSH index built append-only across micro-batches,
    queries answered over the accumulated index via the shared
    lsh_query_topk) == one-shot ann_lsh_topk EXACTLY — per-vector
    signatures are independent under fixed hyperplanes, so incremental
    build == full rebuild. Re-run identical."""
    from reach_banner_spark.operators.similarity import (
        REGISTRY as SIM_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    def canon(df):
        return (
            df.toPandas()
            .sort_values(["qid", "vec_id"])
            .reset_index(drop=True)
        )

    got = canon(ops.REGISTRY["stream_ann"][0](spark, SF))
    want = canon(SIM_REGISTRY["ann_lsh_topk"][0](spark, SF))
    assert len(got) == len(want) > 0
    assert got.equals(want)

    again = canon(ops.REGISTRY["stream_ann"][0](spark, SF))
    assert again.equals(got)


def test_stream_scd2_equals_batch(spark):
    """stream_scd2 (closed intervals emitted append-only + final open
    intervals from state) == one-shot scd2_intervals EXACTLY over the
    same events — exactly-once emission across the micro-batch split,
    original valid_from preserved across quiet batches. Re-run
    identical; exactly one current interval per user."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    cols = ["user_id", "state", "valid_from_us", "valid_to_us", "is_current"]

    def canon(df):
        return (
            df.toPandas()[cols]
            .sort_values(["user_id", "valid_from_us"])
            .reset_index(drop=True)
        )

    got = canon(ops.REGISTRY["stream_scd2"][0](spark, SF))
    want = canon(EV_REGISTRY["scd2_intervals"][0](spark, SF))
    assert len(got) == len(want) > 0
    assert got.equals(want)
    cur = got[got["is_current"]]
    assert len(cur) == got["user_id"].nunique()
    assert cur["valid_to_us"].isna().all()

    again = canon(ops.REGISTRY["stream_scd2"][0](spark, SF))
    assert again.equals(got)


def test_stream_streaks_equals_batch(spark):
    """stream_streaks' merged-run state rolls up to EXACTLY the batch
    gaps-and-islands answer (interval union is associative, so any
    micro-batch split of events yields the same maximal runs).
    Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    def canon(df):
        return (
            df.toPandas()
            .sort_values("user_id")
            .reset_index(drop=True)
            [["user_id", "best_streak", "n_streaks", "active_days"]]
        )

    got = canon(ops.REGISTRY["stream_streaks"][0](spark, SF))
    want = canon(EV_REGISTRY["events_streaks"][0](spark, SF))
    assert len(got) == len(want) > 0
    assert got.equals(want)

    again = canon(ops.REGISTRY["stream_streaks"][0](spark, SF))
    assert again.equals(got)


def test_stream_bloom_equals_batch(spark):
    """stream_bloom's OR-merged bit state answers every probe EXACTLY
    like the one-shot sketch_bloom build (filter union == union filter),
    including which non-members false-positive. Members always hit
    (one-sided error). Re-run identical."""
    from reach_banner_spark.plans.relational import (
        REGISTRY as REL_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    def canon(df):
        return (
            df.toPandas()
            .sort_values("c_custkey")
            .reset_index(drop=True)
            [["c_custkey", "bloom_hit", "is_member", "false_pos"]]
        )

    got = canon(ops.REGISTRY["stream_bloom"][0](spark, SF))
    want = canon(REL_REGISTRY["sketch_bloom"][0](spark, SF))
    assert len(got) == len(want) > 0
    assert got.equals(want)
    # one-sided error: every member hits
    assert got[got["is_member"]]["bloom_hit"].all()

    again = canon(ops.REGISTRY["stream_bloom"][0](spark, SF))
    assert again.equals(got)


def test_stream_growth_equals_batch(spark):
    """Incremental growth curve == the shared growth_curve rollup over
    the one-shot batch triple set on the same staged turns (min per fact
    is exactly mergeable across the exactly-once batch emissions), and a
    re-run of the key is bit-identical (work-dir re-entry path)."""
    from pyspark.sql import functions as F

    from reach_banner_spark.operators.triples import assemble_triples
    from reach_banner_spark.plans.kg_queries import growth_curve
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_growth"][0](spark, SF).toPandas()

    turns = spark.read.parquet(ops._staged_turn_stream_dir()).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )
    want = growth_curve(
        assemble_triples(ops._stream_mentions_of(turns), turns, window_turns=2)
    ).toPandas()

    cols = ["window_start", "new_facts", "cum_facts"]
    ga = sorted(map(tuple, got[cols].values.tolist()))
    wa = sorted(map(tuple, want[cols].values.tolist()))
    assert len(ga) > 0
    assert ga == wa

    again = ops.REGISTRY["stream_growth"][0](spark, SF).toPandas()
    assert sorted(map(tuple, again[cols].values.tolist())) == ga


def test_stream_forecast_equals_batch(spark):
    """Incremental seasonal-naive backtest over micro-batches == the
    batch events_forecast on the full events table: per-(type, day)
    COUNT is exactly mergeable, so the shared forecast_rollup over the
    merged state must reproduce the batch backtest exactly. Second
    invocation pins determinism across the work-dir sweep."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["event_type", "day"]
    got = (
        ops.REGISTRY["stream_forecast"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_forecast"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])

    again = (
        ops.REGISTRY["stream_forecast"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_cdc_equals_batch(spark):
    """Incremental CDC materialization over micro-batches == the batch
    cdc_apply snapshot on the full changelog: the per-user state (MAX
    change struct + change count) is exactly mergeable, so the shared
    cdc_snapshot_rollup over the merged state must reproduce the batch
    snapshot exactly — including tombstone (last op = 'error') absence.
    Second invocation pins determinism across the work-dir sweep."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["user_id"]
    got = (
        ops.REGISTRY["stream_cdc"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["cdc_apply"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])

    again = (
        ops.REGISTRY["stream_cdc"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_enrich_equals_batch(spark):
    """State-free stream-static enrichment == the batch broadcast-join
    key on the full fact table (exact: per-row output depends only on
    (row, dim)); second invocation pins determinism across the
    work-dir sweep."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["event_id"]
    got = (
        ops.REGISTRY["stream_enrich"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_enrich"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])
    # LEFT-join sentinel: UNKNOWN appears exactly for users outside the
    # dim (at sf0.001 every event user IS in the dim, so expect 0 there).
    n_unknown_expected = int(
        (~got["user_id"].isin(
            spark.read.parquet(f"{SF}/customer.parquet")
            .select("c_custkey")
            .toPandas()["c_custkey"]
        )).sum()
    )
    assert (got["segment"] == "UNKNOWN").sum() == n_unknown_expected

    again = (
        ops.REGISTRY["stream_enrich"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_islands_equals_batch(spark):
    """stream_islands' final interval table == the one-shot
    events_islands (carried state is the deduped (user, day) grain —
    exactly mergeable even though islands themselves can FUSE when a
    gap-filling day arrives in a later batch). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["user_id", "start_day"]
    got = (
        ops.REGISTRY["stream_islands"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_islands"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    assert (got["end_day"] >= got["start_day"]).all()
    assert (
        got["n_days"] == got["end_day"] - got["start_day"] + 1
    ).all(), "islands must be contiguous"

    again = (
        ops.REGISTRY["stream_islands"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_lifecycle_equals_batch(spark):
    """stream_lifecycle's growth-accounting table == the one-shot
    events_lifecycle (carried state is the deduped (user, week) grain —
    exactly mergeable even though statuses themselves can flip when an
    out-of-order week arrives in a later batch). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_lifecycle"][0](spark, SF)
        .toPandas()
        .sort_values("wk")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_lifecycle"][0](spark, SF)
        .toPandas()
        .sort_values("wk")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)

    again = (
        ops.REGISTRY["stream_lifecycle"][0](spark, SF)
        .toPandas()
        .sort_values("wk")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_stickiness_equals_batch(spark):
    """stream_stickiness' final DAU/MAU table == the one-shot
    events_stickiness (carried state is the deduped (user, month, day)
    grain — exactly mergeable). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_stickiness"][0](spark, SF)
        .toPandas()
        .sort_values("mo")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_stickiness"][0](spark, SF)
        .toPandas()
        .sort_values("mo")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)

    again = (
        ops.REGISTRY["stream_stickiness"][0](spark, SF)
        .toPandas()
        .sort_values("mo")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_changepoint_equals_batch(spark):
    """stream_changepoint's final break table == the one-shot
    events_changepoint (carried state is the sum-mergeable daily-count
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_changepoint"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_changepoint"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)

    again = (
        ops.REGISTRY["stream_changepoint"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_autocorr_equals_batch(spark):
    """stream_autocorr's final ACF table == the one-shot events_autocorr
    (shared sum-mergeable daily-count state). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_autocorr"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_autocorr"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_autocorr"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_index_equals_batch(spark):
    """Ingest-time inverted-index maintenance over 3 micro-batches ==
    the shared index_rollup over the batch (term, doc_id, n) grain on
    the same staged 300-doc corpus (counts sum-merge exactly). Re-run
    identical."""
    from reach_banner_spark.operators.textstats import (
        index_rollup,
        term_doc_counts,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_index"][0](spark, SF)
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    staged = ops._staged_doc_stream_dir(SF)
    docs = spark.read.parquet(staged)
    want = (
        index_rollup(term_doc_counts(docs))
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_index"][0](spark, SF)
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_srm_equals_batch(spark):
    """stream_srm's final chi-square table == the one-shot events_srm
    (carried state is the set-union-mergeable exposure grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_srm"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_srm"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_srm"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_cuped_equals_batch(spark):
    """stream_cuped's final one-row readout == the one-shot events_cuped
    (carried state is the sum-mergeable per-user (x, y) grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_cuped"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_cuped"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_cuped"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_did_equals_batch(spark):
    """stream_did's final one-row DiD readout == the one-shot events_did
    (carried state is the sum-mergeable per-user (pre, post) grain).
    Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_did"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_did"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_did"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_pareto_equals_batch(spark):
    """stream_pareto's final concentration report == the one-shot
    events_pareto (carried state is the sum-mergeable (type, user)
    volume grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_pareto"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_pareto"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_pareto"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_benford_equals_batch(spark):
    """stream_benford's final digit-share table == the one-shot
    events_benford (carried state is the sum-mergeable 9-row digit
    grain). Re-run identical."""
    from reach_banner_spark.plans.relational import (
        REGISTRY as REL_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_benford"][0](spark, SF)
        .toPandas()
        .sort_values("digit")
        .reset_index(drop=True)
    )
    want = (
        REL_REGISTRY["events_benford"][0](spark, SF)
        .toPandas()
        .sort_values("digit")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_benford"][0](spark, SF)
        .toPandas()
        .sort_values("digit")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_outlier_mad_equals_batch(spark):
    """stream_outlier_mad's final median/MAD table == the one-shot
    events_outlier_mad (shared sum-mergeable daily state). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_outlier_mad"][0](spark, SF)
        .toPandas()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_outlier_mad"][0](spark, SF)
        .toPandas()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_outlier_mad"][0](spark, SF)
        .toPandas()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_ewma_equals_batch(spark):
    """stream_ewma's final level table == the one-shot events_ewma
    (shared daily state + shared sorted fold). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_ewma"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_ewma"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_ewma"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_survival_equals_batch(spark):
    """stream_survival's final KM curve == the one-shot events_survival
    (carried state is the min-mergeable per-user (fe, pt) grain).
    Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_survival"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_survival"][0](spark, SF).toPandas()
    assert len(got) == len(want) > 0
    key = ["dur_hours"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True)
    )
    again = ops.REGISTRY["stream_survival"][0](spark, SF).toPandas()
    assert again.sort_values(key).reset_index(drop=True).equals(
        got.sort_values(key).reset_index(drop=True)
    )


def test_stream_spearman_equals_batch(spark):
    """stream_spearman's final one-row rho == the one-shot
    events_spearman (carried state is the sum-mergeable per-user
    (a, b) grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_spearman"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_spearman"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_spearman"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_kendall_equals_batch(spark):
    """stream_kendall's final one-row tau-b == the one-shot
    events_kendall (carried state is the same sum-mergeable per-user
    (a, b) grain stream_spearman carries). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_kendall"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_kendall"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_kendall"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_chi2_equals_batch(spark):
    """stream_chi2's final one-row statistic == the one-shot
    events_chi2 (carried state is the sum-mergeable contingency-cell
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_chi2"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_chi2"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_chi2"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_theil_sen_equals_batch(spark):
    """stream_theil_sen's per-type slope == the one-shot
    events_theil_sen (shared sum-mergeable daily-count state). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = ["event_type"]
    got = (
        ops.REGISTRY["stream_theil_sen"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_theil_sen"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_theil_sen"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_winsorized_equals_batch(spark):
    """stream_winsorized's final one-row readout == the one-shot
    events_winsorized_mean (carried state is the sum-mergeable cents
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_winsorized"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_winsorized_mean"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_winsorized"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_retrieval_report_equals_batch(spark):
    """stream_retrieval_report's final table == the one-shot
    the shared rollup over the SAME staged doc slice (carried state is
    the per-doc pure tf grain). Re-run identical."""
    from reach_banner_spark.operators.textstats import (
        query_tf_grain,
        retrieval_report_rollup,
    )
    from reach_banner_spark.streaming import ops

    key = ["query"]
    got = (
        ops.REGISTRY["stream_retrieval_report"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    staged = ops._staged_doc_stream_dir(SF)
    want = (
        retrieval_report_rollup(
            query_tf_grain(spark.read.parquet(staged)).localCheckpoint()
        )
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 4
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_retrieval_report"][0](spark, SF)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_holt_equals_batch(spark):
    """stream_holt's per-type (level, trend, forecast) == the one-shot
    events_holt (carried state is the shared sum-mergeable daily-counts
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = (
        ops.REGISTRY["stream_holt"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        EV_REGISTRY["events_holt"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    again = (
        ops.REGISTRY["stream_holt"][0](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert again.equals(got)


def test_stream_cramers_equals_batch(spark):
    """stream_cramers' one-row chi2 + V == the one-shot
    events_cramers_v (carried state is the sum-mergeable weekday x
    type contingency grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_cramers"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_cramers_v"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_cramers"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_runs_equals_batch(spark):
    """stream_runs' one-row z readout == the one-shot events_runs_test
    (carried state is the sum-mergeable daily-totals grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_runs"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_runs_test"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_runs"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_readability_equals_batch(spark):
    """stream_readability's one-row pooled profile == the shared
    rollup applied one-shot to the same staged documents (carried
    state is the sum-mergeable pooled count row). Re-run identical."""
    from reach_banner_spark.operators.textstats import (
        readability_counts,
        readability_rollup,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_readability"][0](spark, SF).toPandas()
    staged = spark.read.parquet(ops._staged_doc_stream_dir(SF))
    want = readability_rollup(
        readability_counts(staged, keys=[]), keys=[]
    ).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_readability"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_daily_health_equals_batch(spark):
    """stream_daily_health's one-row report == the one-shot
    macro_daily_health (carried state is the sum-mergeable
    daily-totals grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_daily_health"][0](spark, SF).toPandas()
    want = EV_REGISTRY["macro_daily_health"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_daily_health"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_wilcoxon_equals_batch(spark):
    """stream_wilcoxon's one-row z == the one-shot events_wilcoxon
    (carried state is the sum-mergeable paired grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_wilcoxon"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_wilcoxon"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_wilcoxon"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_sign_equals_batch(spark):
    """stream_sign's one-row readout == the one-shot events_sign_test
    (same shared paired grain as stream_wilcoxon). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_sign"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_sign_test"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_sign"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_cents_twins_equal_batch(spark):
    """stream_deciles / stream_tukey / stream_bowley == their batch
    keys (one shared sum-mergeable cents-grain state, three rollups).
    Re-runs identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    for skey, bkey, sort in (
        ("stream_deciles", "events_deciles", "decile"),
        ("stream_tukey", "events_tukey_fences", None),
        ("stream_bowley", "events_bowley_skew", None),
    ):
        got = ops.REGISTRY[skey][0](spark, SF).toPandas()
        want = EV_REGISTRY[bkey][0](spark, SF).toPandas()
        if sort:
            got = got.sort_values(sort).reset_index(drop=True)
            want = want.sort_values(sort).reset_index(drop=True)
        assert got.equals(want), skey
        again = ops.REGISTRY[skey][0](spark, SF).toPandas()
        if sort:
            again = again.sort_values(sort).reset_index(drop=True)
        assert again.equals(got), skey


def test_stream_hourly_and_lorenz_equal_batch(spark):
    """stream_hourly / stream_lorenz == their batch keys (sum-mergeable
    hour and user grains). Re-runs identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    for skey, bkey, sort in (
        ("stream_hourly", "events_hourly_profile", "hour_of_day"),
        ("stream_lorenz", "events_lorenz", "decile"),
    ):
        got = (
            ops.REGISTRY[skey][0](spark, SF)
            .toPandas()
            .sort_values(sort)
            .reset_index(drop=True)
        )
        want = (
            EV_REGISTRY[bkey][0](spark, SF)
            .toPandas()
            .sort_values(sort)
            .reset_index(drop=True)
        )
        assert got.equals(want), skey
        again = (
            ops.REGISTRY[skey][0](spark, SF)
            .toPandas()
            .sort_values(sort)
            .reset_index(drop=True)
        )
        assert again.equals(got), skey


def test_stream_amount_profile_equals_batch(spark):
    """stream_amount_profile's one-row report == the one-shot
    macro_amount_profile. Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_amount_profile"][0](spark, SF).toPandas()
    want = EV_REGISTRY["macro_amount_profile"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_amount_profile"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_mann_kendall_equals_batch(spark):
    """stream_mann_kendall's per-type readout == the one-shot
    events_mann_kendall (carried state is the sum-mergeable per-type
    daily-count grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_mann_kendall"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_mann_kendall"][0](spark, SF).toPandas()
    assert len(got) == len(want) >= 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_mann_kendall"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_kruskal_equals_batch(spark):
    """stream_kruskal's one-row H readout == the one-shot
    events_kruskal (per-type daily counts regrouped to exact day
    totals). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_kruskal"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_kruskal"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_kruskal"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_levene_equals_batch(spark):
    """stream_levene's one-row W readout == the one-shot events_levene
    on the same regrouped day-totals state. Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_levene"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_levene"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_levene"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_friedman_equals_batch(spark):
    """stream_friedman's one-row chi2 readout == the one-shot
    events_friedman on the same regrouped day-totals state. Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_friedman"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_friedman"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_friedman"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_collocations_equals_batch(spark):
    """stream_collocations' top-50 lift board == the shared rollup
    applied one-shot to the same staged documents (carried state is
    the sum-mergeable bigram-pair grain; bigrams never span docs, so
    any doc split merges exactly). Re-run identical."""
    from reach_banner_spark.operators.textstats import (
        colloc_pair_counts,
        colloc_rollup,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_collocations"][0](spark, SF).toPandas()
    staged = spark.read.parquet(ops._staged_doc_stream_dir(SF))
    want = colloc_rollup(colloc_pair_counts(staged)).toPandas()
    assert len(got) == len(want) >= 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_collocations"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_simpson_equals_batch(spark):
    """stream_simpson's 7-row readout == the one-shot events_simpson
    (carried state is the sum-mergeable (weekday, type) count grain).
    Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_simpson"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_simpson"][0](spark, SF).toPandas()
    key = lambda df: df.sort_values("weekday").reset_index(drop=True)  # noqa: E731
    assert len(got) == len(want) == 7
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_simpson"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_drawdown_equals_batch(spark):
    """stream_drawdown's one-row readout == the one-shot
    events_drawdown (carried state is the sum-mergeable daily-cents
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_drawdown"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_drawdown"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_drawdown"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_mcnemar_equals_batch(spark):
    """stream_mcnemar's one-row readout == the one-shot events_mcnemar
    (carried state is the set-union-mergeable distinct-marks grain).
    Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_mcnemar"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_mcnemar"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_mcnemar"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_kmv_equals_batch(spark):
    """stream_kmv's per-type readout == the one-shot sketch_kmv: the
    kmv_estimate column derives from the CAPPED carried sketch alone,
    so equality here proves min-k-of-union == min-k-of-min-ks across
    the staged micro-batch split (the mergeability the sketch exists
    for). Re-run identical."""
    from reach_banner_spark.plans.relational import (
        REGISTRY as REL_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = lambda df: df.sort_values("event_type").reset_index(  # noqa: E731
        drop=True
    )
    got = ops.REGISTRY["stream_kmv"][0](spark, SF).toPandas()
    want = REL_REGISTRY["sketch_kmv"][0](spark, SF).toPandas()
    assert len(got) == len(want) >= 1
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_kmv"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_cochran_equals_batch(spark):
    """stream_cochran's one-row Q == the one-shot events_cochran_q
    (carried state is the max-mergeable flags grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_cochran"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_cochran_q"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_cochran"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_bollinger_equals_batch(spark):
    """stream_bollinger's banded table == the one-shot
    events_bollinger (shared daily-counts state). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = lambda df: df.sort_values(  # noqa: E731
        ["event_type", "day"]
    ).reset_index(drop=True)
    got = ops.REGISTRY["stream_bollinger"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_bollinger"][0](spark, SF).toPandas()
    assert len(got) == len(want) >= 7
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_bollinger"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_rsi_equals_batch(spark):
    """stream_rsi's table == the one-shot events_rsi (same shared
    daily-cents state as stream_drawdown). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = lambda df: df.sort_values("day").reset_index(drop=True)  # noqa: E731
    got = ops.REGISTRY["stream_rsi"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_rsi"][0](spark, SF).toPandas()
    assert len(got) == len(want) >= 1
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_rsi"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_fingerprint_equals_batch_events_row(spark):
    """stream_fingerprint's carried (n, xor) scalar == the events row
    of the one-shot dataset_fingerprint — xor of disjoint batches ==
    xor of the union. Re-run identical."""
    from reach_banner_spark.plans.relational import (
        REGISTRY as REL_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_fingerprint"][0](spark, SF).toPandas()
    want = REL_REGISTRY["dataset_fingerprint"][0](spark, SF).toPandas()
    want = want[want["table_name"] == "events"].reset_index(drop=True)
    assert len(got) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_fingerprint"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_holt_winters_equals_batch(spark):
    """stream_holt_winters' per-type readout == the one-shot
    events_holt_winters (shared daily-counts state; the triple
    recurrence replays identically). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = lambda df: df.sort_values("event_type").reset_index(  # noqa: E731
        drop=True
    )
    got = ops.REGISTRY["stream_holt_winters"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_holt_winters"][0](spark, SF).toPandas()
    assert len(got) == len(want) >= 1
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_holt_winters"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_vc_twins_equal_batch(spark):
    """stream_ks / stream_mwu / stream_cliff / stream_cohens == their
    batch keys (one shared sum-mergeable variant-split cents-grain
    state, four rollups). Re-runs identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    for skey, bkey in (
        ("stream_ks", "events_ks_test"),
        ("stream_mwu", "events_mann_whitney"),
        ("stream_cliff", "events_cliff_delta"),
        ("stream_cohens", "events_cohens_d"),
    ):
        got = ops.REGISTRY[skey][0](spark, SF).toPandas()
        want = EV_REGISTRY[bkey][0](spark, SF).toPandas()
        assert len(got) == len(want) == 1, skey
        assert got.equals(want), skey
        again = ops.REGISTRY[skey][0](spark, SF).toPandas()
        assert again.equals(got), skey


def test_stream_user_cents_twins_equal_batch(spark):
    """stream_gini / stream_hoover / stream_palma / stream_jonckheere
    / stream_moods == their batch keys (one shared sum-mergeable
    per-user purchase-cents state, five rollups). Re-runs identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    for skey, bkey in (
        ("stream_gini", "events_gini"),
        ("stream_hoover", "events_hoover"),
        ("stream_palma", "events_palma"),
        ("stream_jonckheere", "events_jonckheere"),
        ("stream_moods", "events_moods_median"),
    ):
        got = ops.REGISTRY[skey][0](spark, SF).toPandas()
        want = EV_REGISTRY[bkey][0](spark, SF).toPandas()
        assert len(got) == len(want) == 1, skey
        assert got.equals(want), skey
        again = ops.REGISTRY[skey][0](spark, SF).toPandas()
        assert again.equals(got), skey


def test_stream_query_tf_twins_equal_batch(spark):
    """stream_success / stream_rbo == the shared batch rollup over the
    SAME staged doc slice (the stream_retrieval_report comparison
    discipline — the staged stream corpus is a slice of documents, so
    the batch side is the rollup on that slice). Re-runs identical."""
    from reach_banner_spark.operators.textstats import (
        query_tf_grain,
        rbo_rollup,
        success_at_k_rollup,
    )
    from reach_banner_spark.streaming import ops

    staged = ops._staged_doc_stream_dir(SF)
    tf = query_tf_grain(
        spark.read.parquet(staged)
    ).localCheckpoint()
    key = lambda df: df.sort_values(  # noqa: E731
        list(df.columns)
    ).reset_index(drop=True)
    for skey, rollup in (
        ("stream_success", success_at_k_rollup),
        ("stream_rbo", rbo_rollup),
    ):
        got = ops.REGISTRY[skey][0](spark, SF).toPandas()
        want = rollup(tf).toPandas()
        assert len(got) == len(want) >= 1, skey
        assert key(got).equals(key(want)), skey
        again = ops.REGISTRY[skey][0](spark, SF).toPandas()
        assert key(again).equals(key(got)), skey


def test_stream_inequality_equals_macro(spark):
    """stream_inequality == the one-shot macro_inequality_report, and
    the macro's columns reconcile against the standalone per-metric
    keys (the macro_daily_health composition discipline)."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_inequality"][0](spark, SF).toPandas()
    want = EV_REGISTRY["macro_inequality_report"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    # composition: every macro column matches its per-key source
    gini = EV_REGISTRY["events_gini"][0](spark, SF).toPandas()
    hoov = EV_REGISTRY["events_hoover"][0](spark, SF).toPandas()
    palma = EV_REGISTRY["events_palma"][0](spark, SF).toPandas()
    assert want["gini"][0] == gini["gini"][0]
    for c in ("hoover", "mad_mean", "cv"):
        assert want[c][0] == hoov[c][0], c
    for c in (
        "bottom40_cents",
        "top10_cents",
        "bottom40_share",
        "top10_share",
        "palma_ratio",
    ):
        assert want[c][0] == palma[c][0], c
    again = ops.REGISTRY["stream_inequality"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_grubbs_trimmed_equal_batch(spark):
    """stream_grubbs / stream_trimmed == their batch keys (per-user
    cents state and cents-counts state respectively). Re-runs
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    for skey, bkey in (
        ("stream_grubbs", "events_grubbs"),
        ("stream_trimmed", "events_trimmed_mean"),
    ):
        got = ops.REGISTRY[skey][0](spark, SF).toPandas()
        want = EV_REGISTRY[bkey][0](spark, SF).toPandas()
        assert len(got) == len(want) == 1, skey
        assert got.equals(want), skey
        again = ops.REGISTRY[skey][0](spark, SF).toPandas()
        assert again.equals(got), skey


def test_stream_dw_equals_batch(spark):
    """stream_dw's one-row readout == the one-shot
    events_durbin_watson (carried state is the sum-mergeable
    daily-totals grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_dw"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_durbin_watson"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_dw"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_hellinger_equals_batch(spark):
    """stream_hellinger's one-row readout == the one-shot
    events_hellinger (carried state is the sum-mergeable weekday
    contingency grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_hellinger"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_hellinger"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_hellinger"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_nelson_aalen_equals_batch(spark):
    """stream_nelson_aalen's hazard curve == the one-shot
    events_nelson_aalen (carried state is the MIN-mergeable per-user
    span grain — the stream_survival discipline). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = lambda df: df.sort_values("dur_hours").reset_index(  # noqa: E731
        drop=True
    )
    got = ops.REGISTRY["stream_nelson_aalen"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_nelson_aalen"][0](spark, SF).toPandas()
    assert len(got) == len(want) >= 1
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_nelson_aalen"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_tv_equals_batch(spark):
    """stream_tv's one-row readout == the one-shot events_tv_distance
    (carried state is the sum-mergeable weekday contingency grain —
    the stream_hellinger shape). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_tv"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_tv_distance"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_tv"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_wasserstein_equals_batch(spark):
    """stream_wasserstein's one-row readout == the one-shot
    events_wasserstein (same contingency state as stream_tv).
    Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_wasserstein"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_wasserstein"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_wasserstein"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_gamma_equals_batch(spark):
    """stream_gamma's one-row readout == the one-shot events_gamma
    (carried state is the sum-mergeable per-user (a, b) grain — the
    stream_spearman/stream_kendall shape). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_gamma"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_gamma"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_gamma"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_pacf_ljung_pettitt_equal_batch(spark):
    """The three daily-series diagnostic twins (PACF, Ljung-Box,
    Pettitt) each == their one-shot batch key on the shared
    sum-mergeable (day, cnt) state. Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    for skey, bkey in (
        ("stream_pacf", "events_pacf"),
        ("stream_ljung_box", "events_ljung_box"),
        ("stream_pettitt", "events_pettitt"),
    ):
        got = ops.REGISTRY[skey][0](spark, SF).toPandas()
        want = EV_REGISTRY[bkey][0](spark, SF).toPandas()
        assert len(got) == len(want) == 1, skey
        assert got.equals(want), skey
        again = ops.REGISTRY[skey][0](spark, SF).toPandas()
        assert again.equals(got), skey


def test_stream_ca_trend_equals_batch(spark):
    """stream_ca_trend's one-row readout == the one-shot
    events_cochran_armitage (carried state is the sum-mergeable 7-row
    dose grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_ca_trend"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_cochran_armitage"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_ca_trend"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_serial_report_equals_batch(spark):
    """stream_serial_report's one-row readout == the one-shot
    macro_serial_report (carried state is the sum-mergeable daily
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_serial_report"][0](spark, SF).toPandas()
    want = EV_REGISTRY["macro_serial_report"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_serial_report"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_page_equals_batch(spark):
    """stream_page's one-row readout == the one-shot events_page
    (carried state is the sum-mergeable daily grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_page"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_page"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_page"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_turning_mk_seasonal_equal_batch(spark):
    """The turning-point and seasonal-MK twins each == their one-shot
    batch key on the shared sum-mergeable (day, cnt) state. Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    for skey, bkey in (
        ("stream_turning", "events_turning_points"),
        ("stream_mk_seasonal", "events_mk_seasonal"),
    ):
        got = ops.REGISTRY[skey][0](spark, SF).toPandas()
        want = EV_REGISTRY[bkey][0](spark, SF).toPandas()
        assert len(got) == len(want) == 1, skey
        assert got.equals(want), skey
        again = ops.REGISTRY[skey][0](spark, SF).toPandas()
        assert again.equals(got), skey


def test_stream_records_equals_batch(spark):
    """stream_records' one-row readout == the one-shot events_records
    (carried state is the sum-mergeable daily grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_records"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_records"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_records"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_quade_equals_batch(spark):
    """stream_quade's one-row readout == the one-shot events_quade
    (carried state is the sum-mergeable daily grain). Re-run
    identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_quade"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_quade"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_quade"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_acf_profile_equals_batch(spark):
    """stream_acf_profile's 7-row correlogram == the one-shot
    events_acf_profile (carried state is the sum-mergeable daily
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = lambda df: df.sort_values("lag").reset_index(drop=True)  # noqa: E731
    got = ops.REGISTRY["stream_acf_profile"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_acf_profile"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 7
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_acf_profile"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_randomness_equals_batch(spark):
    """stream_randomness' one-row readout == the one-shot
    macro_randomness_report (carried state is the sum-mergeable daily
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_randomness"][0](spark, SF).toPandas()
    want = EV_REGISTRY["macro_randomness_report"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_randomness"][0](spark, SF).toPandas()
    assert again.equals(got)


def test_stream_ccf_equals_batch(spark):
    """stream_ccf's 7-row cross-correlogram == the one-shot
    events_cross_correlation (carried state is the sum-mergeable
    two-series daily grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    key = lambda df: df.sort_values("lag").reset_index(drop=True)  # noqa: E731
    got = ops.REGISTRY["stream_ccf"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_cross_correlation"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 7
    assert key(got).equals(key(want))
    again = ops.REGISTRY["stream_ccf"][0](spark, SF).toPandas()
    assert key(again).equals(key(got))


def test_stream_its_equals_batch(spark):
    """stream_its' one-row readout == the one-shot
    events_interrupted_ts (carried state is the sum-mergeable daily
    grain). Re-run identical."""
    from reach_banner_spark.plans.events_analytics import (
        REGISTRY as EV_REGISTRY,
    )
    from reach_banner_spark.streaming import ops

    got = ops.REGISTRY["stream_its"][0](spark, SF).toPandas()
    want = EV_REGISTRY["events_interrupted_ts"][0](spark, SF).toPandas()
    assert len(got) == len(want) == 1
    assert got.equals(want)
    again = ops.REGISTRY["stream_its"][0](spark, SF).toPandas()
    assert again.equals(got)
