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
    representative map per stream) and still gives the one-shot triples.
    The gate is decided once for the one-shot ``run_pipeline`` and once
    for the whole stream, not once per micro-batch."""
    from reach_banner_spark.operators import linking
    from reach_banner_spark.plans import pipeline

    real = linking.fuzzy_best_distributed
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    gate = linking.local_lexicon
    gate_calls = []

    def counted_gate(lexicon):
        gate_calls.append(1)
        return gate(lexicon)

    monkeypatch.setattr(linking, "fuzzy_best_distributed", counted)
    for module in (linking, pipeline):
        monkeypatch.setattr(module, "local_lexicon", counted_gate)
    monkeypatch.setattr(linking, "LEX_GATE", 0)
    ga, wa = _stream_kg_vs_batch_pipeline(spark)
    assert calls, "the stream did not take the distributed path"
    assert len(gate_calls) == 2, gate_calls  # run_pipeline + one stream
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


