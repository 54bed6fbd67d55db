"""Structured Streaming operator surface over ``events`` (SURVEY.md §2.4).

The reference is batch-only [P] — this surface comes from the analytics-
engine capability requirement. Each ``stream_*`` key replays the driver's
``events`` parquet as a bounded file stream (``Trigger.availableNow`` via
``processAllAvailable``), runs the streaming operator, and RETURNS the
collected sink contents as a normal DataFrame so the harness can count
rows. Determinism: event-time logic only (watermarks/windows), never
wall-clock; micro-batch boundaries pinned by availableNow over a static
directory.

Oracle policy: streaming keys are ∅-oracle for the driver (DuckDB has no
streaming), but ``stream_tumbling``/``stream_sliding``/``stream_session``
outputs are equality-checked against their own BATCH twins in pytest — the
strongest cross-check available (incrementalized plan vs one-shot plan).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tmputil import source_fingerprint as _source_fingerprint

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(key: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[key] = (fn, sql)
        return fn

    return deco


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


N_STREAM_FILES = 4  # deterministic micro-batch boundaries


def _stage_stream_dir(sf: str) -> str:
    """Stage events.parquet as a DIRECTORY of N files (file streams read
    dirs); files split deterministically on sorted event_id so micro-batch
    boundaries are stable across runs."""
    tag = sf.rstrip("/").replace("/", "_")
    out = os.path.join(tempfile.gettempdir(), f"rbs_stream_events{tag}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf}/events.parquet")
    pdf = tbl.to_pandas().sort_values("event_id").reset_index(drop=True)
    os.makedirs(out, exist_ok=True)
    import pyarrow as pa

    n = len(pdf)
    step = max(1, (n + N_STREAM_FILES - 1) // N_STREAM_FILES)
    for i in range(0, n, step):
        chunk = pa.Table.from_pandas(pdf.iloc[i : i + step], preserve_index=False)
        pq.write_table(chunk, os.path.join(out, f"part-{i // step:03d}.parquet"))
    open(done, "w").write("ok")
    return out


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    """The events table as a file stream (one parquet file = one batch)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_stream_dir(sf))
    )


def _run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Run a bounded stream to completion into an in-memory sink."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"rbs_ck_{name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _run_complete(stream_df: DataFrame, name: str) -> DataFrame:
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"rbs_ck_{name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def tumbling_agg(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register("stream_tumbling", None)
def stream_tumbling(spark, sf):
    return _run_complete(tumbling_agg(_events_stream(spark, sf)), "t_tumbling")


def sliding_agg(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )


@register("stream_sliding", None)
def stream_sliding(spark, sf):
    return _run_complete(sliding_agg(_events_stream(spark, sf)), "t_sliding")


def session_agg(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "user_id",
            "n",
        )
    )


@register("stream_session", None)
def stream_session(spark, sf):
    return _run_complete(session_agg(_events_stream(spark, sf)), "t_session")


@register("stream_watermark_late", None)
def stream_watermark_late(spark, sf):
    """Watermark + append mode: only windows the watermark has passed emit."""
    ev = _events_stream(spark, sf)
    out = (
        ev.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )
    return _run_to_memory(out, "t_late")


@register("stream_dedup", None)
def stream_dedup(spark, sf):
    ev = _events_stream(spark, sf)
    out = ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _run_to_memory(out.select("event_id", "event_type"), "t_dedup")


@register("stream_stateful", None)
def stream_stateful(spark, sf):
    """Arbitrary stateful op: running per-user event counter via
    applyInPandasWithState (the custom-operator escape hatch)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf)

    out_schema = "user_id long, n_events long"
    state_schema = "n long"

    def count_events(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    out = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    spark_df = _run_update(out, "t_stateful")
    # final count per user = max across update emissions
    return spark_df.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf state-server protocol;
    the container lacks google.protobuf, so the key falls back (documented)
    to the applyInPandasWithState twin when this returns False."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class _TwsCountProcessor:
    """StatefulProcessor twin of stream_stateful's counter (Spark 4.x
    transformWithStateInPandas). Defined unconditionally so the processor
    logic is import- and unit-testable even where the runtime protocol
    (protobuf) is unavailable."""

    def init(self, handle) -> None:
        self.count = handle.getValueState("count", "n long")

    def handleInputRows(self, key, rows, timerValues):
        n = self.count.get()[0] if self.count.exists() else 0
        for pdf in rows:
            n += len(pdf)
        self.count.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def close(self) -> None:
        pass


@register("stream_stateful_tws", None)
def stream_stateful_tws(spark, sf):
    """Per-user running event counter via transformWithStateInPandas
    (Spark 4.x typed-state API; SURVEY §2.4 names it as the second
    stateful primitive). Requires the RocksDB state store + protobuf; when
    the runtime protocol is unavailable in this container the key runs the
    applyInPandasWithState twin — pytest asserts both spellings agree when
    runnable, and that output equals the batch groupBy count either way."""
    if not tws_available():
        return stream_stateful(spark, sf)

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Proc(_TwsCountProcessor, StatefulProcessor):
        pass

    ev = _events_stream(spark, sf)
    out = ev.groupBy("user_id").transformWithStateInPandas(
        Proc(),
        outputStructType="user_id long, n_events long",
        outputMode="Update",
        timeMode="None",
    )
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        spark_df = _run_update(out, "t_stateful_tws")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return spark_df.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def _run_update(stream_df: DataFrame, name: str) -> DataFrame:
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"rbs_ck_{name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register("stream_mentions", None)
def stream_mentions(spark, sf):
    """The KG mention core over a TURN STREAM: the same fused Arrow batch
    stage (detect_mentions) applied to a streaming DataFrame — streaming
    ingestion of transcripts feeding the same mention detector, unchanged
    (mapInPandas works on streaming plans)."""
    from .. import schemas
    from ..fixtures import ensure_model
    from ..operators.mentions import detect_mentions

    d = _staged_turn_stream_dir()
    turn_stream = spark.readStream.schema(schemas.TURNS).parquet(d)
    mentions = detect_mentions(turn_stream, ensure_model())
    return _run_to_memory(mentions, "t_stream_mentions")


def _staged_turn_stream_dir(n_convs: int = 12, skew: int = 12) -> str:
    """Shared 3-part staged turn corpus for the KG streaming keys (same
    fixture ``stream_mentions`` uses); built once per /tmp lifetime.
    Parameterized so bench.py can stage a larger corpus for throughput
    measurement — the default (12, 12) is the correctness-test fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..fixtures import make_turns

    tag = "v1" if (n_convs, skew) == (12, 12) else f"c{n_convs}_k{skew}_v1"
    d = os.path.join(tempfile.gettempdir(), f"rbs_stream_turns_{tag}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        turns, _ = make_turns(n_convs=n_convs, skew_conv_turns=skew)
        turns["ts"] = turns["ts"].astype("datetime64[us]")
        step = (len(turns) + 2) // 3
        for i in range(0, len(turns), step):
            pq.write_table(
                pa.Table.from_pandas(turns.iloc[i : i + step], preserve_index=False),
                os.path.join(d, f"part-{i // step:03d}.parquet"),
            )
        open(os.path.join(d, "_DONE"), "w").write("ok")
    # ALWAYS re-space (idempotent fixed values): a cache staged by an older
    # build may carry tied mtimes, and a tie lets the file source order
    # part-001 before part-000 — silently breaking the tail invariant
    _space_mtimes(d)
    return d


def _op_work_dir(op: str, staged: str) -> str:
    """Per-(operator, corpus, PROCESS) work dir. The pid suffix keeps two
    concurrent processes (bench.py + pytest, say) from rmtree-ing each
    other's live checkpoint/output mid-stream; dirs whose owning process
    is gone — and this process's own prior invocation — are swept so
    /tmp stays bounded (results survive the sweep: they are eagerly
    localCheckpoint'ed before return)."""
    from ..tmputil import sweep_dead_dirs

    prefix = os.path.join(
        tempfile.gettempdir(), f"rbs_{op}_{os.path.basename(staged)}_p"
    )
    sweep_dead_dirs(prefix, keep_own=False)
    work = f"{prefix}{os.getpid()}"
    os.makedirs(work)
    return work


def _run_incremental_turns(
    spark: SparkSession,
    op: str,
    per_batch,
    window_turns: int = 2,
    staged_dir: str | None = None,
) -> DataFrame:
    """Shared scaffold for incremental turn-stream operators
    (``stream_triples``, ``stream_kg``): micro-batch loop over the staged
    turn corpus with bounded per-conversation tail state (the last
    ``window_turns`` turns, parquet-swapped per batch, superseded
    snapshots removed). ``per_batch(allt, cur, cleanup)`` returns the
    rows to append for this batch — ``allt`` is tail+new turns with a
    boolean ``new`` column (False on tail rows), ``cur`` the new turns
    only; callables appended to ``cleanup`` run after the batch's output
    is durably written (persist releases)."""
    import shutil

    from pyspark.sql.window import Window

    from .. import schemas

    d = staged_dir if staged_dir is not None else _staged_turn_stream_dir()
    work = _op_work_dir(op, d)
    out_data = os.path.join(work, "out")
    state: dict[str, str | None] = {"tail": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = batch_df.select("conv_id", "turn_idx", "role", "text", "tool")
        allt = cur.withColumn("new", F.lit(True))
        if state["tail"] is not None:
            tail_rows = sp.read.parquet(state["tail"]).withColumn("new", F.lit(False))
            allt = tail_rows.unionByName(allt)
        cleanup: list = []
        try:
            # coalesce the tiny per-batch outputs (r6): a 32-partition
            # append wrote 32 near-empty files per batch, tripling the
            # final read-back's footer count; 4 output files per batch
            # keeps the write parallel enough at this batch size
            per_batch(allt, cur, cleanup).coalesce(4).write.mode(
                "append"
            ).parquet(out_data)
            w = Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
            tail = (
                allt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= window_turns)
                .drop("rn", "new")
            )
            new_tail = os.path.join(work, f"tail_b{batch_id}")
            tail.coalesce(4).write.mode("overwrite").parquet(new_tail)
            prev_tail = state["tail"]
            state["tail"] = new_tail
            if prev_tail is not None:  # superseded snapshot
                shutil.rmtree(prev_tail, ignore_errors=True)
        finally:
            for fn in cleanup:
                fn()

    q = (
        spark.readStream.schema(schemas.TURNS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # localCheckpoint (eager) detaches the result from the work-dir parquet:
    # a LATER invocation of the same key in this process rmtree's this
    # work dir (_op_work_dir), which would otherwise break a caller still
    # holding this DataFrame (ADVICE r4)
    return spark.read.parquet(out_data).distinct().localCheckpoint()


# dictionary over the staged fixture corpus vocabulary (the transcript
# fixtures speak biomedical-ish text; kg_queries.PIPE_DICT targets the
# documents table's vocabulary and would match nothing here)
STREAM_DICT = [
    ("gene", 1), ("protein", 2), ("pathway", 3), ("binding", 4),
    ("samples", 5), ("response", 6), ("activity", 7), ("regulation", 8),
]


@register("stream_triples", None)  # pytest: streaming == batch twin
def stream_triples(spark, sf, staged_dir=None):
    """INCREMENTAL KG construction (the north star's pipeline as a
    stream): dictionary mentions + G4 triple assembly over a turn stream,
    with bounded per-conversation tail state so cross-micro-batch windows
    are not lost. Each micro-batch:

      1. unions the persisted tail (last ``window_turns`` turns per
         conversation seen so far) with the new turns;
      2. assembles triples with the SUBJECT side over tail+new mentions
         but the OBJECT side restricted to new-batch mentions — turns
         arrive in order, so obj_turn >= subj_turn and object-in-new
         yields exactly the not-yet-emitted triples;
      3. appends triples, rewrites the tail (row_number window keeps the
         last ``window_turns`` turns per conv — state is O(convs), not
         O(stream)).

    The tail lives as a parquet table swapped per batch — the foreachBatch
    spelling of a state store; a 10^12-turn deployment keeps the same tail
    as a compacted partitioned table (or transformWithState when the
    runtime allows, see ``stream_stateful_tws``). Streaming-equals-batch
    is pytest-pinned across the 3-file micro-batch split."""
    return _run_incremental_turns(
        spark, "stream_triples", _stream_triples_per_batch, staged_dir=staged_dir
    )


def _stream_mentions_of(turns_df: DataFrame) -> DataFrame:
    """STREAM_DICT dictionary mentions over a turn frame — the mention
    half of the incremental triple assembly, shared by ``stream_triples``
    and ``stream_growth``."""
    dic = turns_df.sparkSession.createDataFrame(STREAM_DICT, ["term", "term_id"])
    toks = turns_df.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )
    return toks.join(F.broadcast(dic), toks["word"] == dic["term"]).select(
        "conv_id",
        "turn_idx",
        F.col("pos").cast("int").alias("begin_char"),
        F.col("word").alias("canonical"),
    )


def _stream_triples_per_batch(
    allt: DataFrame, cur: DataFrame, cleanup: list
) -> DataFrame:
    """One micro-batch of exactly-once incremental triple assembly
    (subject side over tail+new, object side restricted to new) — shared
    by ``stream_triples`` and ``stream_growth``."""
    from ..operators.triples import assemble_triples

    return assemble_triples(
        _stream_mentions_of(allt),
        allt,
        window_turns=2,
        obj_mentions=_stream_mentions_of(cur),
    )


@register("stream_growth", None)  # pytest: == batch growth_curve twin
def stream_growth(spark, sf, staged_dir=None):
    """INGEST-TIME KG growth curve — the streaming twin of ``kg_growth``
    and the monitoring output an incremental KG pipeline publishes:
    after consuming the turn stream, per first-seen window the number of
    new distinct facts plus the cumulative graph size. Triples are
    assembled incrementally with the SHARED ``stream_triples`` per-batch
    (bounded per-conversation tail state, exactly-once emission); the
    curve is the SHARED ``kg_queries.growth_curve`` rollup over the
    accumulated exactly-once triple set — min(window_start) per fact is
    exactly mergeable, so streaming == batch holds by construction for
    any micro-batch split (pytest-pinned anyway, with a determinism
    re-run).

    State is the stream_triples shape: O(conversations) tail turns plus
    the emitted fact set (bounded by entity-domain² × predicates ×
    windows — the graph itself, which the pipeline must keep anyway)."""
    from ..plans.kg_queries import growth_curve

    t = _run_incremental_turns(
        spark, "stream_growth", _stream_triples_per_batch, staged_dir=staged_dir
    )
    return growth_curve(t).localCheckpoint()


@register("stream_kg", None)  # pytest: == batch run_pipeline on same turns
def stream_kg(spark, sf, staged_dir=None):
    """The COMPLETE KG-construction pipeline (the north star) running
    incrementally: CRF mention detection (fused Arrow core) -> entity
    linking (broadcast dict + MinHash-LSH fuzzy) -> canonicalization
    (components over lexicon similarity edges) -> windowed triple
    assembly, per micro-batch over a turn stream with the same bounded
    per-conversation tail state as ``stream_triples``.

    Why per-batch linking equals global linking: every linking decision
    is a deterministic function of the mention SURFACE and the (static)
    lexicon, and canonicalization depends on the lexicon alone — so
    processing order cannot change any mention's canonical entity. The
    only cross-batch coupling is the triple window, which the tail state
    covers. Streaming == one-shot ``run_pipeline`` is pytest-pinned.

    Everything the lexicon contributes (alias dedup, LSH band index,
    component representatives) is built ONCE per stream and broadcast
    with the model (``fused_broadcast``); each micro-batch is then the
    block triple pass (``triples.block_triples``) over tail+new turns,
    which keeps only the pairs whose object turn is new: one exchange,
    one mapInPandas, no persist and no join. Above the lexicon gate the
    representative map is built once per stream instead, and each batch
    runs the composition (``detect_mentions`` -> ``link_mentions`` ->
    ``apply_canonical``) over one mention persist, then
    ``assemble_triples`` with the new turns' mentions as objects."""
    from .. import schemas
    from ..fixtures import ensure_model, make_lexicon
    from ..operators.mentions import fused_broadcast
    from ..operators.triples import block_triples

    lexicon = spark.createDataFrame(make_lexicon(), schema=schemas.LEXICON)
    model_path = ensure_model()
    bc = fused_broadcast(spark, lexicon, model_path)
    if bc is not None:

        def per_batch(allt: DataFrame, cur: DataFrame, cleanup: list) -> DataFrame:
            return block_triples(allt, bc, window_turns=2, new_col="new")

    else:
        per_batch = _composed_kg_per_batch(spark, lexicon, model_path)
    return _run_incremental_turns(
        spark, "stream_kg", per_batch, staged_dir=staged_dir
    )


def _composed_kg_per_batch(spark, lexicon: DataFrame, model_path: str):
    """``stream_kg``'s per-batch function above the lexicon gate: the
    ``run_pipeline`` composition over tail+new turns, with the component
    representative map materialized once per stream."""
    from ..operators.linking import link_mentions
    from ..operators.mentions import detect_mentions, paren_balanced
    from ..operators.triples import assemble_triples
    from ..plans.pipeline import apply_canonical, canonical_rep_map, salt_repartition

    rep = canonical_rep_map(spark, lexicon)
    if rep is not None:
        rep = rep.localCheckpoint()

    def per_batch(allt: DataFrame, cur: DataFrame, cleanup: list) -> DataFrame:
        # salted: a micro-batch file is one parquet row group, so without
        # the shuffle the CRF stage would run as ONE task per batch; the
        # materialized persist keeps linking's branches (exact, fuzzy,
        # candidate bands) from each recomputing the CRF
        mentions = detect_mentions(
            salt_repartition(allt.select("conv_id", "turn_idx", "text")), model_path
        ).filter(paren_balanced("surface")).persist()
        mentions.count()
        cleanup.append(lambda: mentions.unpersist(blocking=False))
        linked = apply_canonical(link_mentions(mentions, lexicon), rep)
        linked_new = linked.join(
            cur.select("conv_id", "turn_idx").distinct(),
            ["conv_id", "turn_idx"],
            "left_semi",
        )
        return assemble_triples(linked, allt, window_turns=2, obj_mentions=linked_new)

    return per_batch


# _source_fingerprint moved to tmputil in r5 (shared with the
# materialized triple table); imported at module top.


def _space_mtimes(d: str) -> None:
    """Give a staged dir's parquet parts strictly increasing mtimes, one
    second apart in name order. The file stream source orders micro-batches
    by modification time; sub-millisecond writes of tiny parts can TIE at
    file-status granularity, and a tie would let part-001 process before
    part-000 — breaking every in-order-arrival invariant the incremental
    operators rely on."""
    base = 1_600_000_000  # any fixed past epoch; only the ordering matters
    for i, f in enumerate(sorted(os.listdir(d))):
        if f.endswith(".parquet"):
            os.utime(os.path.join(d, f), (base + i, base + i))


def _staged_doc_stream_dir(sf: str, n_docs: int = 300, n_parts: int = 3) -> str:
    """First ``n_docs`` documents of ``sf`` split into ``n_parts`` parquet
    files for micro-batch streaming (cached per /tmp lifetime, keyed by a
    content fingerprint of the source parquet)."""
    import duckdb

    src = f"{sf}/documents.parquet"
    d = os.path.join(
        tempfile.gettempdir(),
        f"rbs_stream_docs_{_source_fingerprint(src)}_{n_docs}_{n_parts}",
    )
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        con = duckdb.connect()
        step = (n_docs + n_parts - 1) // n_parts
        for i in range(n_parts):
            # cap the last part so a non-divisible n_docs never stages
            # MORE than n_docs rows
            lim = min(step, n_docs - i * step)
            if lim <= 0:
                break
            con.execute(
                f"COPY (SELECT doc_id, text FROM read_parquet('{src}') "
                f"ORDER BY doc_id LIMIT {lim} OFFSET {i * step}) "
                f"TO '{d}/part-{i:03d}.parquet' (FORMAT PARQUET)"
            )
        open(os.path.join(d, "_DONE"), "w").write("ok")
    _space_mtimes(d)  # idempotent; repairs caches staged with tied mtimes
    return d


def _staged_emb_stream_dir(sf: str, n_parts: int = 3) -> str:
    """embeddings.parquet split into ``n_parts`` vec_id-ranged files for
    micro-batch streaming (content-fingerprinted /tmp cache, the
    ``_staged_doc_stream_dir`` discipline)."""
    import duckdb

    src = f"{sf}/embeddings.parquet"
    d = os.path.join(
        tempfile.gettempdir(),
        f"rbs_stream_emb_{_source_fingerprint(src)}_{n_parts}",
    )
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        con = duckdb.connect()
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{src}')"
        ).fetchone()[0]
        step = (n + n_parts - 1) // n_parts
        for i in range(n_parts):
            lim = min(step, n - i * step)
            if lim <= 0:
                break
            con.execute(
                f"COPY (SELECT vec_id, embedding FROM read_parquet('{src}') "
                f"ORDER BY vec_id LIMIT {lim} OFFSET {i * step}) "
                f"TO '{d}/part-{i:03d}.parquet' (FORMAT PARQUET)"
            )
        open(os.path.join(d, "_DONE"), "w").write("ok")
    _space_mtimes(d)
    return d


@register("stream_ann", None)  # pytest: == batch ann_lsh_topk
def stream_ann(spark, sf):
    """INGEST-TIME vector-index maintenance — the production shape of
    ``ann_lsh_topk``: embeddings arriving in micro-batches are hashed
    into the LSH signature index THE MOMENT THEY LAND (one
    ``lsh_signatures`` pass over just the new vectors — the fixed
    hyperplanes make per-vector signatures independent of every other
    vector, so the index is APPEND-ONLY and incremental build == full
    rebuild structurally), with the raw vectors appended beside it for
    the re-rank path. After ingest, the fixed query set is answered by
    the SHARED ``lsh_query_topk`` over the accumulated index — pinned
    EXACTLY == the one-shot batch key by pytest.

    This is the index half a vector database runs at 100 TB: per-batch
    work is O(new vectors x tables), no rebuild, no global pass; the
    query join touches candidate buckets only. Contrast ``ann_ivf_topk``,
    whose trained coarse quantizer would drift under ingest (retraining
    cadence is a policy knob) — the hyperplane family is the one that
    stays exactly incremental."""
    from ..operators.similarity import lsh_query_topk, lsh_signatures

    d = _staged_emb_stream_dir(sf)
    work = _op_work_dir("stream_ann", d)
    sig_dir = os.path.join(work, "sig_index")
    vec_dir = os.path.join(work, "vectors")
    state = {"batches": 0, "dim": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        first = batch_df.select("embedding").first()
        if first is None:  # empty trigger
            return
        if state["dim"] is None:
            state["dim"] = len(first[0])
        lsh_signatures(batch_df, state["dim"]).write.mode("append").parquet(
            sig_dir
        )
        batch_df.select("vec_id", "embedding").write.mode("append").parquet(
            vec_dir
        )
        state["batches"] += 1

    emb_stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).option("maxFilesPerTrigger", 1).parquet(d)
    q = (
        emb_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["batches"] >= 1, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return lsh_query_topk(
        spark.read.parquet(vec_dir), spark.read.parquet(sig_dir)
    ).localCheckpoint()


@register("stream_dedup_minhash", None)  # pytest: == uncapped batch pairs
def stream_dedup_minhash(spark, sf, min_jaccard: float = 0.9):
    """INGEST-TIME near-dup detection — the dedup every 100 TB pipeline
    actually runs: documents arrive in micro-batches and each batch is
    checked against the accumulated corpus, not just itself. Per batch:

      1. ONE Python pass (``doc_shingle_bands``) over the new docs;
      2. candidate pairs = new-vs-new (in-batch band buckets) UNION
         new-vs-state (band equi-join against the accumulated band index);
      3. exact-Jaccard verify with the same single-intersect pushed
         predicate as the batch operator; pairs normalized (a = smaller
         doc_id) so the union over batches equals the batch result;
      4. the new docs' (band, shingle) rows append to the state tables.

    State grows O(corpus) — exactly the persistent band-index/shingle
    tables a production deployment keeps partitioned by band_hash; here
    it is ONE append-only parquet dir (each batch appends only its own
    rows — never a merge-rewrite). No bucket cap is
    applied (caps are a per-snapshot policy that would make incremental
    and batch results diverge); the streaming==batch equality is pinned
    in pytest against the uncapped batch operator."""
    from ..operators.dedup import doc_shingle_bands, verify_jaccard

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_dedup", d)
    out_pairs = os.path.join(work, "pairs")
    state_dir = os.path.join(work, "base")
    state: dict[str, bool] = {"has_base": False}
    minj = float(min_jaccard)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        base_new = doc_shingle_bands(batch_df).persist()
        base_new.count()
        new_bands = base_new.select(
            "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
        )
        # in-batch candidates: bucket the new bands among themselves
        in_batch = (
            new_bands.groupBy("band_idx", "band_hash")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") >= 2)
            .select(F.explode("ids").alias("a"), "ids")
            .select("a", F.explode("ids").alias("b"))
            .filter(F.col("a") < F.col("b"))
        )
        sh_lookup = base_new.select("doc_id", "sh")
        if state["has_base"]:
            # the file index is resolved at read time, so `old` sees only
            # the files appended by PRIOR batches even though this batch
            # appends to the same dir below
            old = sp.read.parquet(state_dir)
            old_bands = old.select(
                "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
            )
            cross = (
                new_bands.join(
                    old_bands.withColumnRenamed("doc_id", "old_id"),
                    ["band_idx", "band_hash"],
                )
                .select(
                    F.least("doc_id", "old_id").alias("a"),
                    F.greatest("doc_id", "old_id").alias("b"),
                )
                .filter(F.col("a") != F.col("b"))
            )
            cands = in_batch.select("a", "b").unionByName(cross).distinct()
            sh_lookup = sh_lookup.unionByName(old.select("doc_id", "sh"))
        else:
            cands = in_batch.select("a", "b").distinct()
        verify_jaccard(cands, sh_lookup, minj).write.mode("append").parquet(
            out_pairs
        )
        # append ONLY the new batch's rows: the state really is append-only
        # (a full-merge rewrite per batch would be O(corpus) writes per
        # batch, O(n^2) total, and would strand every superseded snapshot)
        base_new.write.mode("append").parquet(state_dir)
        state["has_base"] = True
        base_new.unpersist(blocking=False)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # eager localCheckpoint: survive a later same-key invocation's work-dir
    # sweep (see _run_incremental_turns; ADVICE r4)
    return spark.read.parquet(out_pairs).distinct().localCheckpoint()


@register("stream_corpus_filter", None)  # pytest: == batch corpus_filter_df
def stream_corpus_filter(spark, sf):
    """INGEST-TIME canonical corpus filtering — the streaming twin of
    ``corpus_filter`` (language gate + quality gates + exact-duplicate
    survivorship), run per micro-batch against the accumulated corpus:

      1. quality/language gate columns are the SAME pure-JVM expressions
         as the batch key (``quality_gate_cols`` — one definition);
      2. exact-dup survivorship: within the batch the smallest doc_id per
         MD5(text) claims the hash; the claim survives only if the hash
         was never seen in ANY prior batch (anti-join against the state);
      3. the batch's distinct hashes append to the state — append-only
         parquet, never a merge-rewrite, O(new docs) per batch.

    Survivorship semantics: streaming emits the FIRST-ARRIVED document
    per hash; the batch key keeps the MIN doc_id per hash. These agree
    whenever arrival order is doc_id order — true for the staged corpus
    (parts are doc_id-ranged) and for any ingest whose ids are
    assigned monotonically at arrival, which is how production ingest
    ids work. The equality is pytest-pinned against
    ``corpus_filter_df`` on the same staged documents. Note a duplicate
    CLAIMS its hash even when it fails the quality gates (same as the
    batch window running before the gates), so a later identical doc
    can never resurrect a rejected text."""
    from pyspark.sql.window import Window

    from ..operators.textstats import (
        _filter_output_cols,
        quality_gate_cols,
        quality_gates,
    )

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_cfilter", d)
    out_dir = os.path.join(work, "kept")
    state_dir = os.path.join(work, "hashes")
    state: dict[str, bool] = {"has_base": False}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        scored = quality_gate_cols(batch_df).withColumn(
            "h", F.md5("text")
        ).persist()
        scored.count()
        w = Window.partitionBy("h")
        claims = scored.withColumn("keeper", F.min("doc_id").over(w)).filter(
            F.col("doc_id") == F.col("keeper")
        )
        if state["has_base"]:
            seen = sp.read.parquet(state_dir)
            claims = claims.join(seen, "h", "left_anti")
        _filter_output_cols(claims.filter(quality_gates())).write.mode(
            "append"
        ).parquet(out_dir)
        # every hash in the batch is now claimed, gates or not
        scored.select("h").distinct().write.mode("append").parquet(state_dir)
        state["has_base"] = True
        scored.unpersist(blocking=False)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return spark.read.parquet(out_dir).localCheckpoint()


@register("stream_contamination", None)  # pytest: == batch contamination
def stream_contamination(spark, sf):
    """INGEST-TIME benchmark decontamination — the streaming twin of
    ``contamination_ngram``: the benchmark shingle index is STATIC
    reference data (the eval suites exist before ingest starts), built
    once and handed to every micro-batch; each arriving document is
    scored against it the moment it lands. Per-doc contamination depends
    only on (doc, benchmark index), so the operator carries NO state at
    all — the purest streaming shape: a broadcast-reference map over
    micro-batches, trivially exactly-once.

    Shares ``doc_shingles``/``benchmark_shingles``/``contamination_scores``
    with the batch key — one definition of the shingling, the membership
    algebra, and the %.6f float contract. The benchmark slice itself is
    excluded from scoring on both sides, so streaming == batch holds
    doc-for-doc (pytest-pinned)."""
    from ..operators.textstats import (
        _bench_pred,
        benchmark_shingles,
        contamination_scores,
        doc_shingles,
    )

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_contam", d)
    out_dir = os.path.join(work, "scores")
    # static reference index: built ONCE from the known benchmark corpus
    # (at 100 TB: MBs of eval suites), localCheckpoint'ed so every batch
    # reuses the materialized set instead of re-deriving it
    bench = benchmark_shingles(
        spark.read.parquet(d).select("doc_id", "text")
    ).localCheckpoint()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        contamination_scores(
            doc_shingles(batch_df.filter(~_bench_pred())), bench
        ).write.mode("append").parquet(out_dir)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return spark.read.parquet(out_dir).localCheckpoint()


@register("stream_pack", None)  # pytest: == batch pack_positions
def stream_pack(spark, sf):
    """INGEST-TIME training-sequence packing — the streaming twin of
    ``pack_sequences``: documents arrive in micro-batches and each doc is
    assigned its (seq_id, seq_offset) in the GLOBAL concat-and-split token
    stream the moment it lands, so sequence assembly can start shipping
    batches while ingest is still running. The carried state is a single
    scalar — the token count emitted by all prior batches — because
    packing positions are an exclusive prefix sum and prefix sums compose:
    position(doc) = carry + within-batch prefix. Each batch runs the SAME
    two-level distributed prefix sum as the batch key
    (``pack_positions``, one shared definition) with ``carry`` as the
    stream offset, appends its rows, and advances the carry by its own
    token total (one tiny aggregate).

    Streaming == batch requires arrival in doc_id order across batches —
    true for the staged corpus (parts are doc_id-ranged) and for
    production ingest with monotone arrival ids (same argument as
    ``stream_corpus_filter``); the equality is pytest-pinned against
    ``pack_positions`` on the same staged documents. On restart the carry
    is recoverable from the emitted output alone (SUM(n_tok) — no extra
    state table)."""
    from ..operators.textstats import pack_positions

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_pack", d)
    out_dir = os.path.join(work, "packed")
    state: dict[str, int] = {"carry": 0, "batches": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        packed = pack_positions(batch_df, carry=state["carry"]).persist()
        tok = packed.agg(F.sum("n_tok")).collect()[0][0]
        packed.write.mode("append").parquet(out_dir)
        state["carry"] += int(tok or 0)
        state["batches"] += 1
        packed.unpersist(blocking=False)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["batches"] >= 1, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return spark.read.parquet(out_dir).localCheckpoint()


@register("stream_hll", None)  # pytest: within 5% of exact running distinct
def stream_hll(spark, sf):
    """INGEST-TIME cardinality tracking via mergeable sketches — the
    streaming face of ``sketch_hll_merge``: each micro-batch builds an
    HLL sketch of its words and UNIONS it into the carried corpus
    sketch, emitting the running distinct-vocabulary estimate the moment
    the batch lands. The carried state is ONE fixed-size sketch binary
    (KBs regardless of corpus size) — the whole point of sketch-based
    monitoring at 100 TB: no distinct-set state table, no rescan, and
    register-max union is ORDER-INDEPENDENT, so any batch split yields
    the same sketch (the streaming==batch theorem for this key; the
    running estimate is pinned within 5% of the exact running distinct
    in pytest, plus a determinism re-run).

    Scale shape: per batch, one partial-merge sketch aggregation over the
    batch (map-side registers, one 1-row exchange) and one driver-side
    KB-sized carry — the stream_pack scalar-carry pattern with a sketch
    in place of the scalar."""
    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_hll", d)
    out_dir = os.path.join(work, "estimates")
    state: dict = {"sk": None, "batches": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_sk = (
            batch_df.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w") > 0)
            .agg(F.hll_sketch_agg("w").alias("sk"))
        )
        if state["sk"] is not None:
            prior = sp.createDataFrame([(bytearray(state["sk"]),)], "sk binary")
            merged = batch_sk.unionByName(prior).agg(
                F.hll_union_agg("sk").alias("sk")
            )
        else:
            merged = batch_sk
        row = merged.select(
            "sk", F.hll_sketch_estimate("sk").cast("long").alias("est")
        ).collect()[0]
        state["sk"] = bytes(row["sk"])
        state["batches"] += 1
        sp.createDataFrame(
            [(int(batch_id), int(row["est"]))],
            "batch_id long, est_distinct_words long",
        ).write.mode("append").parquet(out_dir)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["batches"] >= 1, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return spark.read.parquet(out_dir).localCheckpoint()


@register("stream_topk", None)  # pytest: == batch word-count top-20
def stream_topk(spark, sf, k: int = 20):
    """INGEST-TIME heavy hitters — running top-k vocabulary words while
    the corpus is still arriving (the monitoring question next to
    ``stream_hll``'s "how many distinct": WHICH words dominate). Counts
    are SUMs and sums are exactly mergeable, so each micro-batch
    aggregates its own words and SUM-merges into the carried per-word
    count table (parquet-swapped per batch, superseded snapshot removed
    — the ``stream_funnel`` state discipline); streaming == batch is a
    theorem about +, pinned by pytest anyway, and arrival order across
    batches is irrelevant for the same reason. The final top-k is ONE
    TakeOrderedAndProject over the last state with the deterministic
    (count DESC, word ASC) tie-break.

    State is O(vocabulary) — Zipf-bounded, orders of magnitude below the
    corpus; the EXACT-counts-then-rank shape is what you run when vocab
    fits (here, and in most text corpora); when even vocab doesn't fit,
    ``sketch_cms`` is the bounded-memory estimate this key's exact
    answer validates. Every batch's merge keys on word only."""
    import shutil

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_topk", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = (
            batch_df.select(F.explode(F.split("text", " ")).alias("word"))
            .filter(F.length("word") > 0)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        allw = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("word")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allw.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return (
        spark.read.parquet(state["path"])
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(k)
        .localCheckpoint()
    )


@register("stream_dau", None)  # pytest: == batch events_rolling_dau
def stream_dau(spark, sf):
    """INGEST-TIME rolling engagement — the streaming twin of
    ``events_rolling_dau``. The batch key's only state-bearing input is
    the DEDUPED (day, user) table, and set union is exactly mergeable
    (distinct over batch unions == distinct over all events), so each
    micro-batch dedups its own events to that grain and union-distincts
    into the carried table (parquet-swapped, ``stream_funnel``
    discipline); arrival order across batches is irrelevant, making the
    event_id-split staged corpus a fair stress. The final DAU/WAU table
    is the SHARED ``rolling_dau_rollup`` over the last state — one
    definition of the trailing-week semantics for both keys.

    State is O(users x active-days) — the calendar-bounded grain a
    production dashboard keeps, orders of magnitude below raw events;
    every batch's merge keys on (day, user_id) only."""
    import shutil

    from ..plans.events_analytics import rolling_dau_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_dau", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = batch_df.select(
            F.to_date("ts").alias("day"), "user_id"
        ).distinct()
        alldu = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(cur).distinct()
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        alldu.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return rolling_dau_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_funnel", None)  # pytest: == batch funnel_conversion
def stream_funnel(spark, sf):
    """INGEST-TIME funnel analytics — the streaming twin of
    ``funnel_conversion``. The batch key's per-user state is three
    first-touch MIN timestamps, and MIN is exactly mergeable
    (min over batches == min over all events), so each micro-batch
    (1) aggregates its own events with the SHARED
    ``first_touch_cols()`` definition, (2) element-wise-MIN-merges into
    the accumulated per-user state (parquet-swapped per batch, superseded
    snapshot removed), and the final 3-row funnel is the SHARED
    ``funnel_rollup`` over the last state — streaming == batch is a
    theorem about MIN, pinned by pytest anyway. Arrival order across
    micro-batches is irrelevant for the same reason, so the event_id-split
    staged corpus (non-chronological) is a fair stress.

    State is O(users) — three timestamps each, the bounded-state shape a
    production ingest pipeline keeps (contrast: buffering raw events
    would be O(stream)). Every batch's merge keys on user_id only."""
    import shutil

    from ..plans.events_analytics import first_touch_cols, funnel_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_funnel", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = batch_df.groupBy("user_id").agg(*first_touch_cols())
        allu = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(
                F.min("t1").alias("t1"),
                F.min("t2").alias("t2"),
                F.min("t3").alias("t3"),
            )
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allu.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return funnel_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_attribution", None)  # pytest: == batch events_attribution
def stream_attribution(spark, sf):
    """INGEST-TIME last-touch attribution — the streaming twin of
    ``events_attribution``. Requires time-ordered ingestion (the staged
    event stream is event_id-split and event_id is chronological in this
    corpus — ASSERTED per batch, so a violation fails loudly rather than
    silently mis-attributing; late touches are a watermark/backfill
    concern, the standard streaming-attribution contract).

    Per-user carried state is ONE row: the latest touch (view/click) seen
    so far — max by the total (ts, event_id) order, which under
    chronological batching is exactly the prefix the batch key's
    ignore-nulls running last_value would have computed. Each micro-batch
    unions the carried touch rows (as pseudo-events, strictly earlier
    than every batch event) with the batch and runs the SHARED
    ``last_touch_cols()`` window, so the attribution expression lives
    ONCE; purchases are emitted append-only, exactly once.

    State is O(users) x one row; every batch shuffles only on user_id."""
    import shutil

    from ..plans.events_analytics import last_touch_cols

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_attribution", d)
    out_dir = os.path.join(work, "attributed")
    state: dict = {"path": None, "max_eid": -1, "batches": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        ev = batch_df.select("user_id", "event_id", "event_type", "ts")
        lo, hi = ev.agg(
            F.min("event_id"), F.max("event_id")
        ).collect()[0]
        if lo is None:  # empty trigger
            return
        assert lo > state["max_eid"], (
            f"non-chronological ingestion: batch min event_id {lo} <= "
            f"carried max {state['max_eid']}"
        )
        aug = (
            ev
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(ev)
        )
        att = aug.select(
            "user_id", "event_id", "event_type", "ts", *last_touch_cols()
        )
        out = att.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("conv_id"),
            F.coalesce(F.col("touch_type_raw"), F.lit("none")).alias(
                "touch_type"
            ),
            "touch_id",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("touch_ts").cast("timestamp"))
            )
            .cast("long")
            .alias("gap_us"),
        )
        out.write.mode("append").parquet(out_dir)
        # new carried state: latest touch per user over carried ∪ batch —
        # max of a (ts, event_id, event_type) struct under the total
        # order (ts, event_id unique), unpacked back to pseudo-event rows
        touches = aug.filter(F.col("event_type").isin("view", "click"))
        latest = (
            touches.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("t"))
            .select(
                "user_id",
                F.col("t.event_id").alias("event_id"),
                F.col("t.event_type").alias("event_type"),
                F.col("t.ts").alias("ts"),
            )
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        latest.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        state["max_eid"] = int(hi)
        state["batches"] += 1
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["batches"] >= 1, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return spark.read.parquet(out_dir).localCheckpoint()


@register("stream_scd2", None)  # pytest: == batch scd2_intervals
def stream_scd2(spark, sf):
    """INGEST-TIME SCD2 maintenance — the CDC-to-history-table pattern:
    closed validity intervals are published append-only the moment the
    closing state change arrives; exactly one OPEN interval per user is
    carried as state. Requires chronological ingestion (asserted on
    event_id, the ``stream_attribution`` contract). Per micro-batch:

      1. aug = carried interval-opener pseudo-events ∪ batch events —
         each carried opener sorts strictly before its user's batch rows
         (its ts precedes them under chronological arrival), so the
         SHARED ``scd2_change_rows`` collapse sees exactly the suffix the
         batch key's global window would see from that opener on;
      2. closed = ``scd2_close``(changes) rows whose lead exists — these
         close in THIS batch and are emitted exactly once (earlier
         intervals are not in aug, so they can never be re-derived);
      3. new state = last change row per user (max (ts, event_id)
         struct), i.e. the opener of the still-open run, keeping its
         ORIGINAL valid_from across any number of quiet batches.

    The returned table is the appended closed intervals ∪ the final open
    ones — pinned EXACTLY == one-shot ``scd2_intervals`` by pytest.
    State is O(users) x one row; every batch shuffles on user_id only."""
    import shutil

    from ..plans.events_analytics import scd2_change_rows, scd2_close

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_scd2", d)
    out_dir = os.path.join(work, "closed")
    state: dict = {"path": None, "max_eid": -1, "batches": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        ev = batch_df.select("user_id", "event_type", "ts", "event_id")
        lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
        if lo is None:  # empty trigger
            return
        assert lo > state["max_eid"], (
            f"non-chronological ingestion: batch min event_id {lo} <= "
            f"carried max {state['max_eid']}"
        )
        aug = (
            ev
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(ev)
        )
        ch = scd2_change_rows(aug).persist()
        ch.count()  # one derivation feeds the emit AND the state swap
        scd2_close(ch).filter(~F.col("is_current")).write.mode(
            "append"
        ).parquet(out_dir)
        openers = (
            ch.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("t"))
            .select(
                "user_id",
                F.col("t.event_type").alias("event_type"),
                F.col("t.ts").alias("ts"),
                F.col("t.event_id").alias("event_id"),
            )
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        openers.write.mode("overwrite").parquet(new_state)
        ch.unpersist(blocking=False)
        prev = state["path"]
        state["path"] = new_state
        state["max_eid"] = int(hi)
        state["batches"] += 1
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["batches"] >= 1, "stream produced no batches"
    open_rows = spark.read.parquet(state["path"]).select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("valid_from_us"),
        F.lit(None).cast("long").alias("valid_to_us"),
        F.lit(True).alias("is_current"),
    )
    if not os.path.exists(out_dir):  # no interval ever closed
        return open_rows.localCheckpoint()
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return (
        spark.read.parquet(out_dir).unionByName(open_rows).localCheckpoint()
    )


@register("stream_anomaly", None)  # pytest: == batch events_anomaly
def stream_anomaly(spark, sf):
    """INGEST-TIME anomaly detection — the streaming twin of
    ``events_anomaly``. The batch key's fact-scale half is the
    (event_type, day) daily count table and COUNT is exactly mergeable
    (sum over batches == count over all events), so each micro-batch
    (1) aggregates its own events with the SHARED ``daily_counts()``,
    (2) sum-merges into the carried state (parquet-swapped per batch),
    and the final z-score table is the SHARED ``anomaly_rollup`` over the
    last state — streaming == batch is a theorem about SUM; arrival order
    across micro-batches is irrelevant, so the event_id-split staged
    corpus is a fair stress (same soundness shape as ``stream_funnel``).

    State is O(event-types × days) — dimension-sized, the monitoring
    shape a production ingest pipeline keeps; every batch's merge keys
    on (event_type, day) only, and the rollup never touches facts."""
    from ..plans.events_analytics import anomaly_rollup

    return anomaly_rollup(
        _stream_daily_counts(spark, sf, "stream_anomaly")
    ).localCheckpoint()


def _stream_daily_counts(spark, sf, op_key: str) -> DataFrame:
    """Consume the staged event stream accumulating the (event_type,
    day, cnt) daily-count state — the shared fact-scale half of
    ``stream_anomaly`` and ``stream_forecast`` (COUNT is exactly
    sum-mergeable, so the merged state == the batch ``daily_counts``
    over all events regardless of the micro-batch split). Returns the
    final merged daily table; callers apply their own dimension-sized
    rollup (and must localCheckpoint — see the work-dir sweep note on
    ``_run_incremental_turns``)."""
    import shutil

    from ..plans.events_analytics import daily_counts

    d = _stage_stream_dir(sf)
    work = _op_work_dir(op_key, d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = daily_counts(batch_df)
        alld = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("event_type", "day")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        alld.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return spark.read.parquet(state["path"])


@register("stream_forecast", None)  # pytest: == batch events_forecast
def stream_forecast(spark, sf):
    """INGEST-TIME seasonal-naive forecast backtest — the streaming twin
    of ``events_forecast`` and the monitoring loop a production metrics
    pipeline actually runs: as events arrive, keep the daily-volume
    state current and re-score the seasonal-naive prediction against
    each completed day. Per-(type, day) COUNT is exactly sum-mergeable,
    so the SHARED ``_stream_daily_counts`` state equals the batch daily
    table for any micro-batch split, and the SHARED ``forecast_rollup``
    calendar-shift join over it reproduces the batch backtest
    bit-for-bit (pytest-pinned, with a determinism re-run).

    State is O(event-types × days) — the same dimension-sized shape as
    ``stream_anomaly``; the rollup join runs on the calendar-sized
    table, never on facts."""
    from ..plans.events_analytics import forecast_rollup

    return forecast_rollup(
        _stream_daily_counts(spark, sf, "stream_forecast")
    ).localCheckpoint()


@register("stream_transitions", None)  # pytest: == batch event_transitions
def stream_transitions(spark, sf):
    """INGEST-TIME behavioral transition graph — the streaming twin of
    ``event_transitions``. Two carried pieces, both bounded: (1) the
    accumulated (src, dst, n) pair-count table (event-type² —
    dimension-sized; counts sum-merge exactly) and (2) the per-user
    BOUNDARY event — the latest event seen so far (max by the total
    (ts, event_id) order, O(users) × one row), so the consecutive pair
    that straddles a micro-batch boundary is counted exactly once, in
    the batch where its SECOND element arrives.

    Each micro-batch unions the carried boundary rows (strictly earlier
    than every batch event under chronological ingestion — ASSERTED per
    batch, the same contract as ``stream_attribution``) with the batch
    and runs the SHARED ``transition_pairs``: a user's single boundary
    row contributes exactly the straddling pair and no within-state
    pairs. Final probabilities are the SHARED ``transition_rollup`` over
    the last count state, so the %.6f contract lives ONCE."""
    import shutil

    from ..plans.events_analytics import transition_pairs, transition_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_transitions", d)
    state: dict = {"counts": None, "boundary": None, "max_eid": -1}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        ev = batch_df.select("user_id", "event_id", "event_type", "ts")
        lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
        if lo is None:  # empty trigger
            return
        assert lo > state["max_eid"], (
            f"non-chronological ingestion: batch min event_id {lo} <= "
            f"carried max {state['max_eid']}"
        )
        aug = (
            ev
            if state["boundary"] is None
            else sp.read.parquet(state["boundary"]).unionByName(ev)
        )
        pairs = transition_pairs(aug)
        counts = (
            pairs
            if state["counts"] is None
            else sp.read.parquet(state["counts"])
            .unionByName(pairs)
            .groupBy("src", "dst")
            .agg(F.sum("n").alias("n"))
        )
        boundary = (
            aug.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("t"))
            .select(
                "user_id",
                F.col("t.event_id").alias("event_id"),
                F.col("t.event_type").alias("event_type"),
                F.col("t.ts").alias("ts"),
            )
        )
        new_c = os.path.join(work, f"counts_b{batch_id}")
        new_b = os.path.join(work, f"boundary_b{batch_id}")
        counts.write.mode("overwrite").parquet(new_c)
        boundary.write.mode("overwrite").parquet(new_b)
        prev_c, prev_b = state["counts"], state["boundary"]
        state["counts"], state["boundary"] = new_c, new_b
        state["max_eid"] = int(hi)
        for prev in (prev_c, prev_b):  # superseded snapshots
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["counts"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return transition_rollup(
        spark.read.parquet(state["counts"])
    ).localCheckpoint()


@register("stream_retention", None)  # pytest: == batch retention_cohort
def stream_retention(spark, sf):
    """INGEST-TIME cohort retention — the streaming twin of
    ``retention_cohort``. Carried state: (1) the per-user cohort date d0
    (min first-active date — MIN-mergeable, and FINAL the moment a user
    first appears under chronological ingestion, asserted per batch:
    a user's earliest event arrives before all their later ones, so the
    week_k of already-recorded activity can never be invalidated by a
    late d0 update), and (2) the distinct (user_id, d0, week_k) activity
    set. Each micro-batch min-merges the cohort table, derives its
    activity rows with the SHARED ``cohort_activity`` against the merged
    cohorts, and union-DISTINCTs into the activity state — re-derived
    rows are idempotent, so streaming == batch is set equality. The
    final rollup is the SHARED ``retention_rollup``.

    State is O(users) + O(users × active-weeks) — the same cardinality
    the batch DISTINCT materializes; every batch shuffles on user_id
    (cohort merge + join) and on the activity triple (distinct)."""
    import shutil

    from ..plans.events_analytics import cohort_activity, retention_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_retention", d)
    state: dict = {"first": None, "act": None, "max_eid": -1}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        ev = batch_df.select("user_id", "event_id", "ts")
        lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
        if lo is None:  # empty trigger
            return
        assert lo > state["max_eid"], (
            f"non-chronological ingestion: batch min event_id {lo} <= "
            f"carried max {state['max_eid']}"
        )
        cur = ev.groupBy("user_id").agg(
            F.min(F.col("ts").cast("date")).alias("d0")
        )
        first = (
            cur
            if state["first"] is None
            else sp.read.parquet(state["first"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.min("d0").alias("d0"))
        )
        act_new = cohort_activity(ev, first)
        act = (
            act_new
            if state["act"] is None
            else sp.read.parquet(state["act"]).unionByName(act_new).distinct()
        )
        new_f = os.path.join(work, f"first_b{batch_id}")
        new_a = os.path.join(work, f"act_b{batch_id}")
        first.write.mode("overwrite").parquet(new_f)
        act.write.mode("overwrite").parquet(new_a)
        prev_f, prev_a = state["first"], state["act"]
        state["first"], state["act"] = new_f, new_a
        state["max_eid"] = int(hi)
        for prev in (prev_f, prev_a):  # superseded snapshots
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["act"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return retention_rollup(
        spark.read.parquet(state["act"])
    ).localCheckpoint()


@register("sink_foreach_batch", None)
def sink_foreach_batch(spark, sf):
    """foreachBatch sink: per-micro-batch custom write (parquet + batch id
    ledger) — the escape hatch for sinks Structured Streaming lacks."""
    out_dir = tempfile.mkdtemp(prefix="rbs_feb_")
    ledger: list[tuple[int, int]] = []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        ledger.append((batch_id, n))
        batch_df.write.mode("append").parquet(f"{out_dir}/data")

    ev = _events_stream(spark, sf).select("event_id", "event_type", "value")
    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rbs_feb_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(ledger) >= 1 and all(n >= 0 for _b, n in ledger)
    return spark.read.parquet(f"{out_dir}/data")


@register("source_file_stream", None)
def source_file_stream(spark, sf):
    """Plain file-stream source -> append sink (source surface check)."""
    ev = _events_stream(spark, sf)
    return _run_to_memory(
        ev.select("event_id", "event_type", "value"), "t_filesrc"
    )


@register("source_rate_stream", None)
def source_rate_stream(spark, sf):
    """Rate source (synthetic rows/sec), result fixed to exactly values
    0..99: the stream is filtered to ``value < 100`` so the materialized
    table is the same 100 rows every run (the rate source emits a
    monotone value sequence from 0 — only the *timing* is wall-clock,
    never the returned data)."""
    import time as _time

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .select("value")
        .filter(F.col("value") < 100)
    )
    name = "t_ratesrc"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rbs_rate_"))
        .start()
    )
    deadline = _time.time() + 30
    while _time.time() < deadline and spark.table(name).count() < 100:
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    assert spark.table(name).count() == 100, "rate source did not reach 100 rows"
    return spark.table(name)


@register("stream_stream_join", None)
def stream_stream_join(spark, sf):
    """Stream-stream self-join with event-time bounds: pairs of events by
    the same user within 10 minutes (streaming twin of ``join_range``)."""
    a = _events_stream(spark, sf).withWatermark("ts", "10 minutes").alias("a")
    b = (
        _events_stream(spark, sf)
        .withColumnRenamed("ts", "ts_b")
        .withColumnRenamed("event_id", "event_id_b")
        .withColumnRenamed("user_id", "user_id_b")
        .withWatermark("ts_b", "10 minutes")
        .alias("b")
    )
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id_b"))
        & (F.col("b.ts_b") > F.col("a.ts"))
        & (F.col("b.ts_b") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTE")),
    ).select(
        F.col("a.event_id").alias("eid_a"), F.col("b.event_id_b").alias("eid_b")
    )
    return _run_to_memory(joined, "t_ssjoin")


@register("stream_streaks", None)  # pytest: == batch events_streaks
def stream_streaks(spark, sf):
    """INGEST-TIME streak maintenance — the streaming twin of
    ``events_streaks``, with a GENUINELY COMPRESSED state: instead of the
    raw (user, day) set (the stream_dau shape), the carried table is the
    per-user set of MERGED day runs [run_start, run_end]. Each
    micro-batch turns its own distinct active days into singleton runs,
    unions them with the carried runs, and re-merges overlapping or
    day-adjacent intervals (one user-keyed window: running max of prior
    ends, a new island whenever start > prev_end + 1). Interval union is
    associative and order-independent, so streaming == batch regardless
    of how events split across batches — a new day can extend a run,
    bridge two runs, or fall inside one, and the merge handles all three.

    State is O(users × runs) — strictly smaller than the active-day set
    it summarizes (a 1000-day streak is ONE row), the right shape when
    the calendar grows unboundedly. The final rollup derives
    best/count/total from run lengths and must equal the batch key's
    gaps-and-islands answer (pytest-pinned)."""
    import shutil

    from pyspark.sql.window import Window

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_streaks", d)
    state: dict[str, str | None] = {"path": None}

    def merge_runs(runs: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("run_start", "run_end")
        prev_end = F.max("run_end").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        is_new = (
            prev_end.isNull()
            | (F.col("run_start") > F.date_add(prev_end, 1))
        ).cast("int")
        grp = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
        return (
            runs.select("user_id", "run_start", "run_end", grp.alias("grp"))
            .groupBy("user_id", "grp")
            .agg(
                F.min("run_start").alias("run_start"),
                F.max("run_end").alias("run_end"),
            )
            .drop("grp")
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = (
            batch_df.select("user_id", F.to_date("ts").alias("day"))
            .distinct()
            .select(
                "user_id",
                F.col("day").alias("run_start"),
                F.col("day").alias("run_end"),
            )
        )
        allruns = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(cur)
        )
        merged = merge_runs(allruns)
        new_state = os.path.join(work, f"state_b{batch_id}")
        merged.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    runs = spark.read.parquet(state["path"])
    length = (F.datediff("run_end", "run_start") + 1).cast("long")
    return (
        runs.select("user_id", length.alias("len"))
        .groupBy("user_id")
        .agg(
            F.max("len").alias("best_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.sum("len").alias("active_days"),
        )
        .localCheckpoint()
    )


ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


def _staged_orders_stream_dir(sf: str, n_parts: int = 3) -> str:
    """orders.parquet split into ``n_parts`` orderkey-ranged files for
    micro-batch streaming (content-fingerprinted /tmp cache, the
    ``_staged_doc_stream_dir`` discipline)."""
    import duckdb

    src = f"{sf}/orders.parquet"
    d = os.path.join(
        tempfile.gettempdir(),
        f"rbs_stream_orders_{_source_fingerprint(src)}_{n_parts}",
    )
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        con = duckdb.connect()
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{src}')"
        ).fetchone()[0]
        step = (n + n_parts - 1) // n_parts
        for i in range(n_parts):
            lim = min(step, n - i * step)
            if lim <= 0:
                break
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') "
                f"ORDER BY o_orderkey LIMIT {lim} OFFSET {i * step}) "
                f"TO '{d}/part-{i:03d}.parquet' (FORMAT PARQUET)"
            )
        open(os.path.join(d, "_DONE"), "w").write("ok")
    _space_mtimes(d)
    return d


@register("stream_bloom", None)  # pytest: == batch sketch_bloom
def stream_bloom(spark, sf):
    """INGEST-TIME Bloom-filter maintenance — the streaming twin of
    ``sketch_bloom``. A Bloom filter is the textbook mergeable sketch:
    OR of two filters equals the filter of the union, so each
    micro-batch of orders derives its own member keys (the SHARED
    ``bloom_members`` definition), hashes them to set-bit positions (the
    SHARED ``bloom_bit_positions``), and union-distincts into the
    carried position table — bounded by m = 4096 rows FOREVER, the
    whole point of keeping a sketch instead of the key set. Arrival
    order is irrelevant (set union), so the orderkey-ranged staged
    corpus is a fair split.

    The member-key table is also carried, but ONLY to label the final
    probe output with ground-truth membership (the comparison column the
    batch key emits); the filter itself never needs it. Final answer:
    the SHARED ``bloom_probe`` of the static customer table against the
    accumulated bits == the one-shot build (pytest-pinned)."""
    import shutil

    from ..plans.relational import (
        bloom_bit_positions,
        bloom_members,
        bloom_probe,
    )

    d = _staged_orders_stream_dir(sf)
    work = _op_work_dir("stream_bloom", d)
    state: dict[str, str | None] = {"bits": None, "mem": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        mem_b = bloom_members(batch_df)
        bits_b = bloom_bit_positions(mem_b)
        allbits = (
            bits_b
            if state["bits"] is None
            else sp.read.parquet(state["bits"]).unionByName(bits_b).distinct()
        )
        allmem = (
            mem_b
            if state["mem"] is None
            else sp.read.parquet(state["mem"]).unionByName(mem_b).distinct()
        )
        nb = os.path.join(work, f"bits_b{batch_id}")
        nm = os.path.join(work, f"mem_b{batch_id}")
        allbits.write.mode("overwrite").parquet(nb)
        allmem.write.mode("overwrite").parquet(nm)
        for key, new in (("bits", nb), ("mem", nm)):
            prev = state[key]
            state[key] = new
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)

    stream = (
        spark.readStream.schema(ORDERS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["bits"] is not None, "stream produced no batches"
    c = spark.read.parquet(f"{sf}/customer.parquet")
    return bloom_probe(
        c,
        spark.read.parquet(state["bits"]),
        spark.read.parquet(state["mem"]),
    ).localCheckpoint()


@register("stream_cdc", None)  # pytest: == batch cdc_apply
def stream_cdc(spark, sf):
    """INGEST-TIME CDC materialization — the streaming twin of
    ``cdc_apply`` and the loop a Debezium-style consumer actually runs:
    keep the per-key snapshot current as changelog batches arrive. The
    carried state is the SHARED ``cdc_user_state`` shape (one row per
    user: MAX (ts_us, event_id, ...) struct + change count), and both
    aggregates are exactly mergeable (max associative, count sums), so
    merging each micro-batch's state into the carried state equals the
    batch aggregate over all events for ANY split — streaming == batch
    is a theorem, pinned by pytest anyway (with a determinism re-run).
    The final snapshot is the SHARED ``cdc_snapshot_rollup`` (tombstoned
    keys absent).

    State is O(users) — one compacted row per live key, the exact shape
    a production CDC materializer keeps; each batch's merge keys on
    user_id only and the rollup never re-touches facts."""
    import shutil

    from ..plans.events_analytics import cdc_snapshot_rollup, cdc_user_state

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_cdc", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = cdc_user_state(batch_df)
        merged = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(
                F.max("last").alias("last"),
                F.sum("n_changes").cast("long").alias("n_changes"),
            )
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        merged.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return cdc_snapshot_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_enrich", None)  # pytest: == batch events_enrich
def stream_enrich(spark, sf):
    """INGEST-TIME dimension enrichment — the streaming twin of
    ``events_enrich`` and the first stateful-looking-but-state-FREE
    pattern every production stream runs: join each arriving fact
    micro-batch against a static dimension (user → market segment) the
    moment it lands. The dimension is reference data that exists before
    ingest starts, built once and localCheckpoint'ed so every batch
    reuses the materialized table; per-row output depends only on
    (row, dim), so the operator carries no state and streaming == batch
    is exact by construction (pytest-pinned anyway, with a determinism
    re-run). Shares ``enrich_with_dim``/``user_dim`` with the batch key
    — one definition of the join and the UNKNOWN sentinel."""
    from ..plans.events_analytics import enrich_with_dim, user_dim

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_enrich", d)
    out_dir = os.path.join(work, "rows")
    dim = user_dim(spark, sf).localCheckpoint()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        enrich_with_dim(batch_df, dim).write.mode("append").parquet(out_dir)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).localCheckpoint()


@register("stream_islands", None)  # pytest: == batch events_islands
def stream_islands(spark, sf):
    """INGEST-TIME gaps-and-islands — the streaming twin of
    ``events_islands``. Islands are NOT incrementally patchable in
    general (one arriving day can FUSE two existing islands), but the
    batch key's only state-bearing input is the deduped
    (user, day_num) grain, and set union merges that exactly — so the
    carried state is that grain (the stream_dau discipline:
    parquet-swapped snapshot, O(users x active-days), calendar-bounded)
    and the islands rollup is the ONE SHARED definition re-derived over
    the merged state. Arrival order across batches is therefore
    irrelevant; streaming == batch is a theorem, pinned by pytest
    anyway (incl. a determinism re-run)."""
    import shutil

    from ..plans.events_analytics import islands_rollup, user_days

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_islands", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_days(batch_df)
        alldu = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(cur).distinct()
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        alldu.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return islands_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_lifecycle", None)  # pytest: == batch events_lifecycle
def stream_lifecycle(spark, sf):
    """INGEST-TIME growth accounting — the streaming twin of
    ``events_lifecycle``. Like islands, lifecycle statuses are not
    incrementally patchable (a week arriving out of order can flip a
    later week's 'resurrected' to 'retained', and first-week NEW
    attribution depends on the global minimum), but the batch key's
    only state-bearing input is the deduped (user, epoch-week) grain
    and set union merges that exactly — so the carried state is that
    grain (parquet-swapped snapshot, O(users x active-weeks),
    calendar-bounded; the stream_dau / stream_islands discipline) and
    ``lifecycle_rollup`` is the ONE SHARED definition re-derived over
    the merged state. Arrival order across batches is irrelevant;
    streaming == batch is a theorem, pinned by pytest anyway (incl. a
    determinism re-run)."""
    import shutil

    from ..plans.events_analytics import lifecycle_rollup, user_weeks

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_lifecycle", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_weeks(batch_df)
        alluw = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(cur).distinct()
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        alluw.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return lifecycle_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_stickiness", None)  # pytest: == batch events_stickiness
def stream_stickiness(spark, sf):
    """INGEST-TIME DAU/MAU stickiness — the streaming twin of
    ``events_stickiness``: the engagement ratio recomputed as events
    land. The batch key's only state-bearing input is the deduped
    (user, epoch-month, day) grain and set union merges that exactly,
    so the carried state is that grain (parquet-swapped snapshot,
    O(users x active-days), calendar-bounded — the stream_dau /
    stream_islands discipline) and ``stickiness_rollup`` is the ONE
    SHARED definition re-derived over the merged state. Arrival order
    across batches is irrelevant; streaming == batch is a theorem,
    pinned by pytest anyway (incl. a determinism re-run)."""
    import shutil

    from ..plans.events_analytics import stickiness_rollup, user_month_days

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_stickiness", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_month_days(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(cur).distinct()
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    # eager localCheckpoint: survive a later same-key invocation's
    # work-dir sweep (see _run_incremental_turns; ADVICE r4)
    return stickiness_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_changepoint", None)  # pytest: == batch events_changepoint
def stream_changepoint(spark, sf):
    """INGEST-TIME CUSUM break tracking — the streaming twin of
    ``events_changepoint``. The break statistic is a pure function of
    the (event_type, day) daily-count table and COUNT is exactly
    sum-mergeable, so the twin reuses the SHARED ``_stream_daily_counts``
    state (the stream_anomaly/stream_forecast machinery — one carried
    dimension-sized parquet snapshot, sum-merged per micro-batch) and
    applies the SHARED ``changepoint_rollup`` to the final state:
    streaming == batch is a theorem about SUM, for ANY micro-batch
    split. This is the monitoring loop that re-locates a volume regime
    change as data arrives, without ever retouching historical facts.

    State is O(event-types x days); every merge keys on (event_type,
    day) and the CUSUM windows run over the dimension-sized table."""
    from ..plans.events_analytics import changepoint_rollup

    return changepoint_rollup(
        _stream_daily_counts(spark, sf, "stream_changepoint")
    ).localCheckpoint()


@register("stream_autocorr", None)  # pytest: == batch events_autocorr
def stream_autocorr(spark, sf):
    """INGEST-TIME serial-dependence tracking — the streaming twin of
    ``events_autocorr``, riding the SAME shared ``_stream_daily_counts``
    sum-mergeable state as stream_anomaly/forecast/changepoint; the
    SHARED ``autocorr_rollup`` re-derives the lag-1 ACF from the final
    merged daily table, so streaming == batch is a theorem about SUM
    for any micro-batch split. State is O(event-types x days)."""
    from ..plans.events_analytics import autocorr_rollup

    return autocorr_rollup(
        _stream_daily_counts(spark, sf, "stream_autocorr")
    ).localCheckpoint()


@register("stream_index", None)  # pytest: == batch index_rollup on staged docs
def stream_index(spark, sf):
    """INGEST-TIME inverted-index maintenance — the streaming twin of
    ``index_inverted``: as documents arrive, each micro-batch reduces
    its own docs to the SHARED ``term_doc_counts`` (term, doc_id, n)
    grain and sum-merges into the carried state (each document lands in
    exactly one batch, so the merge is disjoint — but SUM-merging keys
    on (term, doc_id) keeps it correct under ANY split); the final
    dictionary head is the SHARED ``index_rollup`` over the last state,
    so streaming == batch is a theorem about SUM. This is how a real
    ingest pipeline keeps df/cf and dictionary pages current without
    re-tokenizing history.

    State is O(distinct (term, doc) pairs over the staged corpus) —
    the posting-grain table a production index keeps partitioned by
    term; parquet-swapped per batch (the _stream_daily_counts
    discipline)."""
    import shutil

    from ..operators.textstats import index_rollup, term_doc_counts

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_index", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = term_doc_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("term", "doc_id")
            .agg(F.sum("n").alias("n"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return index_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_srm", None)  # pytest: == batch events_srm
def stream_srm(spark, sf):
    """INGEST-TIME sample-ratio-mismatch guard — the streaming twin of
    ``events_srm``: the carried state is the deduped (event_type,
    user_id) exposure grain (set-union mergeable — the stream_dau
    discipline), and the SHARED ``srm_rollup`` re-derives the chi-square
    table from the final state, so streaming == batch is a theorem
    about set union for any micro-batch split. This is the monitor an
    experimentation platform keeps hot during a rollout: SRM fires
    within one micro-batch of assignment corruption.

    State is O(event-types × users); each batch's merge is one
    distinct over (type, user)."""
    import shutil

    from ..plans.events_analytics import exposure_grain, srm_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_srm", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = exposure_grain(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"]).unionByName(cur).distinct()
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return srm_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_cuped", None)  # pytest: == batch events_cuped
def stream_cuped(spark, sf):
    """INGEST-TIME CUPED readout — the streaming twin of
    ``events_cuped``: the carried state is the per-user (x, y) grain
    (both plain SUMs — exactly mergeable for any micro-batch split),
    and the SHARED ``cuped_rollup`` re-derives theta and the adjusted
    difference from the final state, so streaming == batch is a
    theorem about SUM. The experimentation platform shape: effect and
    variance-reduction estimates stay current as exposures arrive,
    without re-scanning history.

    State is O(users); each batch's merge keys on user_id only."""
    import shutil

    from ..plans.events_analytics import cuped_rollup, user_xy

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_cuped", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_xy(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.sum("x").alias("x"), F.sum("y").alias("y"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return cuped_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_did", None)  # pytest: == batch events_did
def stream_did(spark, sf):
    """INGEST-TIME difference-in-differences readout — the streaming
    twin of ``events_did``: the carried state is the per-user
    (pre, post) purchase-count grain (both plain SUMs — exactly
    mergeable for any micro-batch split), and the SHARED ``did_rollup``
    re-derives the one-row DiD from the final state, so streaming ==
    batch is a theorem about SUM. The staged-rollout monitor shape: the
    trend-adjusted effect estimate stays current as events arrive,
    without re-scanning history.

    State is O(users); each batch's merge keys on user_id only."""
    import shutil

    from ..plans.events_analytics import did_rollup, user_prepost

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_did", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_prepost(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.sum("pre").alias("pre"), F.sum("post").alias("post"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return did_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_pareto", None)  # pytest: == batch events_pareto
def stream_pareto(spark, sf):
    """INGEST-TIME Pareto concentration tracking — the streaming twin
    of ``events_pareto``: the carried state is the per-(event_type,
    user) volume grain (a plain SUM — exactly mergeable), and the
    SHARED ``pareto_rollup`` re-derives the users-to-80% report with
    its exact integer cut from the final state, so streaming == batch
    is a theorem about SUM. This is the live workload-skew monitor
    that tells an operator when a key has grown a whale and needs
    salting — current within one micro-batch.

    State is O(event-types × users); each batch's merge is one keyed
    SUM over (type, user)."""
    import shutil

    from ..plans.events_analytics import pareto_rollup, type_user_counts

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_pareto", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = type_user_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("event_type", "user_id")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return pareto_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_benford", None)  # pytest: == batch events_benford
def stream_benford(spark, sf):
    """INGEST-TIME Benford first-digit forensics — the streaming twin
    of ``events_benford``: the carried state is the at-most-9-row
    leading-digit count grain (a plain SUM — exactly mergeable), and
    the SHARED ``benford_rollup`` re-derives the share table from the
    final state, so streaming == batch is a theorem about SUM for any
    micro-batch split. This is the fraud/corruption tripwire a
    financial ingest keeps hot: a batch of fabricated amounts bends
    the digit profile within one micro-batch.

    State is O(9) rows — the cheapest carried state on the surface."""
    import shutil

    from ..plans.relational import benford_rollup, digit_counts

    d = _staged_orders_stream_dir(sf)
    work = _op_work_dir("stream_benford", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = digit_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("digit")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    stream = (
        spark.readStream.schema(ORDERS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return benford_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_outlier_mad", None)  # pytest: == batch events_outlier_mad
def stream_outlier_mad(spark, sf):
    """INGEST-TIME median/MAD outlier tracking — the streaming twin of
    ``events_outlier_mad`` on the SHARED ``_stream_daily_counts``
    sum-mergeable state; the SHARED ``mad_rollup`` re-derives the
    dyadic-exact median/MAD profile from the final merged daily table,
    so streaming == batch is a theorem about SUM. The robust monitor a
    pipeline keeps next to the z-score one (``stream_anomaly``): a
    single corrupt day cannot drag the MAD baseline.

    State is O(event-types x days), same as the other daily twins."""
    from ..plans.events_analytics import mad_rollup

    return mad_rollup(
        _stream_daily_counts(spark, sf, "stream_outlier_mad")
    ).localCheckpoint()


@register("stream_ewma", None)  # pytest: == batch events_ewma
def stream_ewma(spark, sf):
    """INGEST-TIME EWMA level tracking — the streaming twin of
    ``events_ewma`` on the SHARED ``_stream_daily_counts`` state: daily
    counts sum-merge exactly, and the SHARED ``ewma_rollup`` re-runs
    the identical sorted fold over the final merged table, so streaming
    == batch is a theorem about SUM composed with a deterministic
    function of the merged state. State is O(event-types x days)."""
    from ..plans.events_analytics import ewma_rollup

    return ewma_rollup(
        _stream_daily_counts(spark, sf, "stream_ewma")
    ).localCheckpoint()


@register("stream_survival", None)  # pytest: == batch events_survival
def stream_survival(spark, sf):
    """INGEST-TIME Kaplan-Meier readout — the streaming twin of
    ``events_survival``: the carried state is the per-user
    (first-event ts, first-purchase ts) grain (both plain MINs —
    exactly mergeable for any micro-batch split: min(merge) ==
    min(all)), and the SHARED ``km_rollup`` re-derives the censoring
    cut, the at-risk reverse cumsum, and the exact sequential product
    fold from the final state, so streaming == batch is a theorem
    about MIN. The live-conversion-curve shape: the survival curve
    stays current as events arrive, without re-scanning history.

    State is O(users); each batch's merge keys on user_id only."""
    import shutil

    from ..plans.events_analytics import conversion_spans, km_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_survival", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = conversion_spans(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.min("fe").alias("fe"), F.min("pt").alias("pt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return km_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_spearman", None)  # pytest: == batch events_spearman
def stream_spearman(spark, sf):
    """INGEST-TIME Spearman readout — the streaming twin of
    ``events_spearman``: the carried state is the per-user (view
    count, purchase count) grain (both plain SUMs — exactly mergeable
    for any micro-batch split), and the SHARED ``spearman_rollup``
    re-derives the doubled-midrank moments and rho from the final
    state, so streaming == batch is a theorem about SUM. The live
    rank-correlation monitor shape: the browse-to-buy association
    stays current as events arrive, without re-scanning history.

    State is O(users); each batch's merge keys on user_id only."""
    import shutil

    from ..plans.events_analytics import spearman_rollup, user_ab

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_spearman", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_ab(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return spearman_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_kendall", None)  # pytest: == batch events_kendall
def stream_kendall(spark, sf):
    """INGEST-TIME Kendall tau-b readout — the streaming twin of
    ``events_kendall``: the carried state is the SAME per-user (view
    count, purchase count) grain ``stream_spearman`` carries (both
    plain SUMs — exactly mergeable for any micro-batch split), and the
    SHARED ``kendall_rollup`` re-derives the cell-pair concordance
    counts and tau-b from the final state, so streaming == batch is a
    theorem about SUM. The live pair-concordance monitor shape next to
    the rank-correlation one.

    State is O(users); each batch's merge keys on user_id only."""
    import shutil

    from ..plans.events_analytics import kendall_rollup, user_ab

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_kendall", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_ab(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return kendall_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_chi2", None)  # pytest: == batch events_chi2
def stream_chi2(spark, sf):
    """INGEST-TIME chi-square independence readout — the streaming
    twin of ``events_chi2``: the carried state is the (variant,
    event_type, cnt) contingency grain (plain SUM-able counts —
    exactly mergeable for any micro-batch split), and the SHARED
    ``chi2_rollup`` re-derives the fixed ten-term statistic from the
    final state, so streaming == batch is a theorem about SUM. The
    experiment-guardrail shape: the behavior-mix test stays current
    as exposures arrive, without re-scanning history.

    State is O(1) — ten cells; each batch's merge keys on the cell."""
    import shutil

    from ..plans.events_analytics import chi2_rollup, variant_type_counts

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_chi2", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = variant_type_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("variant", "event_type")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return chi2_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_theil_sen", None)  # pytest: == batch events_theil_sen
def stream_theil_sen(spark, sf):
    """INGEST-TIME Theil-Sen trend readout — the streaming twin of
    ``events_theil_sen``: daily counts are exactly sum-mergeable, so
    the twin reuses the SHARED ``_stream_daily_counts`` state and the
    SHARED ``theil_sen_rollup`` re-derives the lower-median pairwise
    slope from the final daily table — streaming == batch is a theorem
    about SUM. The robust-trend monitor shape: the slope estimate
    stays current as events arrive, without re-scanning history.

    State is O(types x days); each batch's merge keys on the day."""
    from ..plans.events_analytics import theil_sen_rollup

    return theil_sen_rollup(
        _stream_daily_counts(spark, sf, "stream_theil_sen")
    ).localCheckpoint()


@register("stream_winsorized", None)  # pytest: == batch events_winsorized_mean
def stream_winsorized(spark, sf):
    """INGEST-TIME winsorized-mean readout — the streaming twin of
    ``events_winsorized_mean``: the carried state is the bounded
    (cents, cnt) purchase-amount grain (plain SUM-able counts —
    exactly mergeable for any micro-batch split), and the SHARED
    ``winsor_rollup`` re-derives the rank-selected clamps and means
    from the final state, so streaming == batch is a theorem about
    SUM. The live robust-revenue monitor shape: the clamp thresholds
    and the winsorized mean stay current as purchases arrive.

    State is O(price domain) — cents-bounded, never fact-bounded."""
    import shutil

    from ..plans.events_analytics import purchase_cents_counts, winsor_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_winsorized", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = purchase_cents_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("cents")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return winsor_rollup(spark.read.parquet(state["path"])).localCheckpoint()


@register("stream_retrieval_report", None)  # pytest: == macro_retrieval_report
def stream_retrieval_report(spark, sf):
    """INGEST-TIME retrieval-eval report — the streaming twin of
    ``macro_retrieval_report``: each arriving document batch reduces to
    the SHARED ``query_tf_grain`` (a pure per-doc function, so the
    merge is a disjoint union keyed doc_id — min-merged for
    idempotence under any redelivery), and the SHARED
    ``retrieval_report_rollup`` re-derives MRR/NDCG/P-R from the final
    grain, so streaming == batch is a theorem about per-doc purity.
    The release-monitor shape: the eval table stays current as the
    corpus grows, without re-tokenizing history.

    State is O(docs) x 7 small ints; parquet-swapped per batch (the
    stream_index discipline)."""
    from ..operators.textstats import retrieval_report_rollup

    return retrieval_report_rollup(
        _stream_query_tf(spark, sf, "stream_retrieval_report")
    ).localCheckpoint()


def _stream_query_tf(spark, sf, op_key: str) -> DataFrame:
    """Consume the staged DOCUMENT stream accumulating the shared
    per-doc query-tf grain — the state of the retrieval-eval twins
    (stream_retrieval_report / stream_success / stream_rbo). Each
    doc's tf row is a pure function of its text and every document
    lands in exactly one micro-batch, so the merge is a disjoint
    union keyed doc_id (min-merged for idempotence under any
    redelivery). Returns the final grain, localCheckpoint'ed."""
    import shutil

    from ..operators.textstats import _MRR_QUERIES, query_tf_grain

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir(op_key, d)
    state: dict[str, str | None] = {"path": None}
    tf_cols = [
        f"{c}{i}" for i in range(len(_MRR_QUERIES)) for c in ("r", "l")
    ]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = query_tf_grain(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("doc_id")
            .agg(*[F.min(c).alias(c) for c in tf_cols])
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return spark.read.parquet(state["path"]).localCheckpoint()


@register("stream_holt", None)  # pytest: == batch events_holt
def stream_holt(spark, sf):
    """INGEST-TIME Holt level+trend tracking — the streaming twin of
    ``events_holt`` on the SHARED ``_stream_daily_counts`` state: daily
    counts sum-merge exactly, and the SHARED ``holt_rollup`` re-runs
    the identical coupled sorted fold over the final merged table, so
    streaming == batch is a theorem about SUM composed with a
    deterministic function of the merged state. State is
    O(event-types x days)."""
    from ..plans.events_analytics import holt_rollup

    return holt_rollup(
        _stream_daily_counts(spark, sf, "stream_holt")
    ).localCheckpoint()


@register("stream_cramers", None)  # pytest: == batch events_cramers_v
def stream_cramers(spark, sf):
    """INGEST-TIME Cramér's V effect-size readout — the streaming twin
    of ``events_cramers_v``: the carried state is the (weekday,
    event_type, cnt) contingency grain (plain SUM-able counts —
    exactly mergeable for any micro-batch split), and the SHARED
    ``cramers_rollup`` re-derives the fixed 35-term chi2 chain and V
    from the final state, so streaming == batch is a theorem about
    SUM. State is O(1) — 35 cells; each batch's merge keys on the
    cell (the stream_chi2 discipline over the weekday split)."""
    import shutil

    from ..plans.events_analytics import cramers_rollup, dow_type_counts

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_cramers", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = dow_type_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("dow", "event_type")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return cramers_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_runs", None)  # pytest: == batch events_runs_test
def stream_runs(spark, sf):
    """INGEST-TIME runs-test randomness monitor — the streaming twin
    of ``events_runs_test``: the carried state is the (day, cnt)
    daily-totals grain (plain SUM-able counts — exactly mergeable for
    any micro-batch split), and the SHARED ``runs_rollup`` re-derives
    the rank-selected median, the sign sequence, and the fixed z chain
    from the final state, so streaming == batch is a theorem about
    SUM. State is O(days) — calendar-bounded; each batch's merge keys
    on the day."""
    import shutil

    from ..plans.events_analytics import day_totals, runs_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_runs", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = day_totals(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("day")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return runs_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_readability", None)  # pytest: == batch pooled rollup
def stream_readability(spark, sf):
    """INGEST-TIME corpus readability monitor — the streaming twin of
    ``text_readability`` pooled corpus-wide (the staged doc stream
    carries no source column, so the twin pins the one-row corpus
    profile — the macro_text_report grain): the carried state is the
    pooled exact count row (n_docs, words, sentences, syllables,
    complex_words — all plain SUMs, exactly mergeable for any
    micro-batch split), and the SHARED ``readability_rollup`` applies
    the fixed Flesch/fog chains to the final state, so streaming ==
    batch is a theorem about SUM. State is O(1) — five integers."""
    import shutil

    from ..operators.textstats import readability_counts, readability_rollup

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_readability", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = readability_counts(batch_df, keys=[])
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy()
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("words").alias("words"),
                F.sum("sentences").alias("sentences"),
                F.sum("syllables").alias("syllables"),
                F.sum("complex_words").alias("complex_words"),
            )
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return readability_rollup(
        spark.read.parquet(state["path"]), keys=[]
    ).localCheckpoint()


@register("stream_daily_health", None)  # pytest: == batch macro
def stream_daily_health(spark, sf):
    """INGEST-TIME daily-series health report — the streaming twin of
    ``macro_daily_health``: the carried state is the (day, cnt)
    daily-totals grain (plain SUM-able counts — exactly mergeable for
    any micro-batch split), and the SHARED ``daily_health_rollup``
    re-derives mean/jackknife/dispersion/runs-z/Holt-forecast from the
    final state, so streaming == batch is a theorem about SUM composed
    with a deterministic function of the merged state. State is
    O(days) — calendar-bounded (the stream_runs state, reused by a
    composed rollup)."""
    import shutil

    from ..plans.events_analytics import daily_health_rollup, day_totals

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_daily_health", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = day_totals(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("day")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return daily_health_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


def _stream_user_prepost(spark, sf, op_key: str) -> DataFrame:
    """Consume the staged event stream accumulating the per-user
    (pre, post) paired grain — the shared fact-scale half of
    ``stream_wilcoxon`` and ``stream_sign`` (both columns are plain
    SUMs under the fixed Jan-16 cut, exactly sum-mergeable across any
    micro-batch split)."""
    import shutil

    from ..plans.events_analytics import paired_prepost

    d = _stage_stream_dir(sf)
    work = _op_work_dir(op_key, d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = paired_prepost(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.sum("x").alias("x"), F.sum("y").alias("y"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return spark.read.parquet(state["path"])


@register("stream_wilcoxon", None)  # pytest: == batch events_wilcoxon
def stream_wilcoxon(spark, sf):
    """INGEST-TIME Wilcoxon signed-rank readout — the streaming twin of
    ``events_wilcoxon``: the carried state is the per-user (pre, post)
    paired grain (plain SUMs under the fixed cut — exactly mergeable),
    and the SHARED ``wilcoxon_rollup`` re-derives the doubled midranks,
    tie correction, and fixed z chain from the final state, so
    streaming == batch is a theorem about SUM. State is O(users)."""
    from ..plans.events_analytics import wilcoxon_rollup

    return wilcoxon_rollup(
        _stream_user_prepost(spark, sf, "stream_wilcoxon")
    ).localCheckpoint()


@register("stream_sign", None)  # pytest: == batch events_sign_test
def stream_sign(spark, sf):
    """INGEST-TIME sign-test readout — the streaming twin of
    ``events_sign_test`` on the SAME shared paired grain as
    ``stream_wilcoxon`` (one state definition, two readouts — the
    direction counts re-derive from the final merged state, so
    streaming == batch is a theorem about SUM). State is O(users)."""
    u = _stream_user_prepost(spark, sf, "stream_sign")
    np_, nn_ = F.col("np"), F.col("nn")
    m = u.agg(
        F.sum(F.when(F.col("y") > F.col("x"), 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col("y") < F.col("x"), 1).otherwise(0))
        .cast("long")
        .alias("nn"),
    )
    return (
        m.filter(np_ + nn_ > 0)
        .select(
            np_.alias("n_pos"),
            nn_.alias("n_neg"),
            F.format_string(
                "%.6f",
                F.round(
                    (np_ - nn_).cast("double")
                    / F.sqrt((np_ + nn_).cast("double")),
                    6,
                ),
            ).alias("z"),
        )
        .localCheckpoint()
    )


def _stream_cents_counts(spark, sf, op_key: str) -> DataFrame:
    """Consume the staged event stream accumulating the bounded
    (cents, cnt) purchase-amount grain — the shared fact-scale half of
    the robust-distribution twins (stream_deciles / stream_tukey /
    stream_bowley; the stream_winsorized state generalized)."""
    import shutil

    from ..plans.events_analytics import purchase_cents_counts

    d = _stage_stream_dir(sf)
    work = _op_work_dir(op_key, d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = purchase_cents_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("cents")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return spark.read.parquet(state["path"])


@register("stream_deciles", None)  # pytest: == batch events_deciles
def stream_deciles(spark, sf):
    """INGEST-TIME decile readout — the streaming twin of
    ``events_deciles`` on the shared cents-grain state (SUM-mergeable;
    the shared ``deciles_rollup`` re-selects the nine ranks from the
    final state, so streaming == batch is a theorem about SUM)."""
    from ..plans.events_analytics import deciles_rollup

    return deciles_rollup(
        _stream_cents_counts(spark, sf, "stream_deciles")
    ).localCheckpoint()


@register("stream_tukey", None)  # pytest: == batch events_tukey_fences
def stream_tukey(spark, sf):
    """INGEST-TIME Tukey-fence monitor — the streaming twin of
    ``events_tukey_fences`` on the same shared cents-grain state
    (the shared ``tukey_rollup`` re-derives quartiles, fences, and
    outlier counts from the final state)."""
    from ..plans.events_analytics import tukey_rollup

    return tukey_rollup(
        _stream_cents_counts(spark, sf, "stream_tukey")
    ).localCheckpoint()


@register("stream_bowley", None)  # pytest: == batch events_bowley_skew
def stream_bowley(spark, sf):
    """INGEST-TIME Bowley-skew monitor — the streaming twin of
    ``events_bowley_skew`` on the same shared cents-grain state
    (the shared ``bowley_rollup`` re-selects the three quartiles from
    the final state)."""
    from ..plans.events_analytics import bowley_rollup

    return bowley_rollup(
        _stream_cents_counts(spark, sf, "stream_bowley")
    ).localCheckpoint()


@register("stream_hourly", None)  # pytest: == batch events_hourly_profile
def stream_hourly(spark, sf):
    """INGEST-TIME hour-of-day profile — the streaming twin of
    ``events_hourly_profile``: the carried state is the 24-row
    (hour, cnt) grain (plain SUMs — exactly mergeable), and the SHARED
    ``hourly_rollup`` re-derives shares and the peak flag from the
    final state. State is O(1) — at most 24 rows."""
    import shutil

    from ..plans.events_analytics import hour_counts, hourly_rollup

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_hourly", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = hour_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("hour_of_day")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return hourly_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_lorenz", None)  # pytest: == batch events_lorenz
def stream_lorenz(spark, sf):
    """INGEST-TIME Lorenz-curve monitor — the streaming twin of
    ``events_lorenz``: the carried state is the per-user activity
    grain (plain SUMs — exactly mergeable), and the SHARED
    ``lorenz_rollup`` re-derives the nine decile points from the final
    state. State is O(users)."""
    import shutil

    from ..plans.events_analytics import lorenz_rollup, user_counts

    d = _stage_stream_dir(sf)
    work = _op_work_dir("stream_lorenz", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = user_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("user_id")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return lorenz_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


@register("stream_amount_profile", None)  # pytest: == batch macro
def stream_amount_profile(spark, sf):
    """INGEST-TIME purchase-amount distribution report — the streaming
    twin of ``macro_amount_profile`` on the shared cents-grain state
    (SUM-mergeable; the shared ``amount_profile_rollup`` re-derives
    quartiles, fences, winsorized mean, and Bowley skew from the final
    state). State is O(price domain)."""
    from ..plans.events_analytics import amount_profile_rollup

    return amount_profile_rollup(
        _stream_cents_counts(spark, sf, "stream_amount_profile")
    ).localCheckpoint()


@register("stream_mann_kendall", None)  # pytest: == batch key
def stream_mann_kendall(spark, sf):
    """INGEST-TIME Mann-Kendall trend monitor — the streaming twin of
    ``events_mann_kendall`` on the shared per-type daily-count state
    (COUNTs are exactly sum-mergeable for any micro-batch split, so
    the merged state == the batch ``daily_counts`` and the SHARED
    ``mk_rollup`` makes streaming == batch a theorem about SUM). State
    is O(types × days) — calendar-bounded."""
    from ..plans.events_analytics import mk_rollup

    return mk_rollup(
        _stream_daily_counts(spark, sf, "stream_mann_kendall")
    ).localCheckpoint()


@register("stream_kruskal", None)  # pytest: == batch events_kruskal
def stream_kruskal(spark, sf):
    """INGEST-TIME Kruskal-Wallis weekday monitor — the streaming twin
    of ``events_kruskal``: the carried state is the same per-type
    daily-count grain (sum-mergeable), regrouped to day totals at
    readout (sum of per-type counts per day == the batch
    ``day_totals`` exactly — both are integer COUNT partitions of the
    same events), so the SHARED ``kruskal_rollup`` pins streaming ==
    batch. State is O(types × days) — calendar-bounded."""
    from ..plans.events_analytics import kruskal_rollup

    st = _stream_daily_counts(spark, sf, "stream_kruskal")
    dt = st.groupBy("day").agg(F.sum("cnt").cast("long").alias("cnt"))
    return kruskal_rollup(dt).localCheckpoint()


@register("stream_levene", None)  # pytest: == batch events_levene
def stream_levene(spark, sf):
    """INGEST-TIME Brown-Forsythe volatility monitor — the streaming
    twin of ``events_levene`` on the same regrouped day-totals state as
    ``stream_kruskal`` (sum-mergeable per-type daily counts collapse to
    exact day totals; the SHARED ``levene_rollup`` re-derives the
    lower medians and the deviation ANOVA from the final state). State
    is O(types × days) — calendar-bounded."""
    from ..plans.events_analytics import levene_rollup

    st = _stream_daily_counts(spark, sf, "stream_levene")
    dt = st.groupBy("day").agg(F.sum("cnt").cast("long").alias("cnt"))
    return levene_rollup(dt).localCheckpoint()


@register("stream_friedman", None)  # pytest: == batch events_friedman
def stream_friedman(spark, sf):
    """INGEST-TIME Friedman weekday monitor — the streaming twin of
    ``events_friedman`` on the same regrouped day-totals state as
    ``stream_kruskal`` (sum-mergeable per-type daily counts collapse
    to exact day totals; the SHARED ``friedman_rollup`` re-derives the
    within-week ranks and the exact-integer chi2 from the final
    state). State is O(types × days) — calendar-bounded."""
    from ..plans.events_analytics import friedman_rollup

    st = _stream_daily_counts(spark, sf, "stream_friedman")
    dt = st.groupBy("day").agg(F.sum("cnt").cast("long").alias("cnt"))
    return friedman_rollup(dt).localCheckpoint()


@register("stream_collocations", None)  # pytest: == batch key
def stream_collocations(spark, sf):
    """INGEST-TIME collocation miner — the streaming twin of
    ``lm_collocations``: the carried state is the (w1, w2, cnt)
    bigram-pair grain (COUNTs are exactly sum-mergeable, and bigrams
    never span documents, so any doc-level micro-batch split merges to
    the one-shot counts), and the SHARED ``colloc_rollup`` re-derives
    marginals, total, and the top-50 lift board from the final state —
    streaming == batch is a theorem about SUM. State is O(distinct
    pairs) — Zipf-sublinear in tokens, the same table a batch phrase
    miner materializes anyway."""
    import shutil

    from ..operators.textstats import colloc_pair_counts, colloc_rollup

    d = _staged_doc_stream_dir(sf)
    work = _op_work_dir("stream_collocations", d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = colloc_pair_counts(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("w1", "w2")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    doc_stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return colloc_rollup(
        spark.read.parquet(state["path"])
    ).localCheckpoint()


def _stream_merged_state(
    spark,
    sf,
    op_key: str,
    grain_fn,
    merge_fn,
) -> DataFrame:
    """Generic foreachBatch state accumulator: per batch, derive the
    grain with ``grain_fn`` and fold it into the carried parquet state
    with ``merge_fn(prev_df | None, cur_df) -> merged_df`` — the shape
    every sum-/set-union-mergeable twin in this module hand-rolls
    (_stream_daily_counts et al.), factored once for the r5q twins."""
    import shutil

    d = _stage_stream_dir(sf)
    work = _op_work_dir(op_key, d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = grain_fn(batch_df)
        prev = (
            None if state["path"] is None else sp.read.parquet(state["path"])
        )
        allg = merge_fn(prev, cur)
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        old = state["path"]
        state["path"] = new_state
        if old is not None:  # superseded snapshot
            shutil.rmtree(old, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return spark.read.parquet(state["path"])


def _sum_merge(keys: list[str], sums: list[str]):
    def merge(prev, cur):
        if prev is None:
            return cur
        return (
            prev.unionByName(cur)
            .groupBy(*keys)
            .agg(*[F.sum(c).cast("long").alias(c) for c in sums])
        )

    return merge


def _distinct_merge(prev, cur):
    return cur if prev is None else prev.unionByName(cur).distinct()


@register("stream_simpson", None)  # pytest: == batch events_simpson
def stream_simpson(spark, sf):
    """INGEST-TIME Simpson-diversity monitor — the streaming twin of
    ``events_simpson``: the carried state is the (weekday, type, n)
    count grain (plain COUNTs, exactly sum-mergeable), and the SHARED
    ``simpson_rollup`` re-derives the 7-row readout from the final
    state, so streaming == batch is a theorem about SUM. State is
    O(7 x event-types)."""
    from ..plans.events_analytics import simpson_rollup, weekday_type_counts

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_simpson",
        weekday_type_counts,
        _sum_merge(["weekday", "event_type"], ["n"]),
    )
    return simpson_rollup(merged).localCheckpoint()


@register("stream_drawdown", None)  # pytest: == batch events_drawdown
def stream_drawdown(spark, sf):
    """INGEST-TIME max-drawdown monitor — the streaming twin of
    ``events_drawdown``: the carried state is the (day, cents) daily
    purchase-revenue grain (exact integer cents, sum-mergeable), and
    the SHARED ``drawdown_rollup`` re-derives the running peak and
    earliest argmax from the final state. State is O(days)."""
    from ..plans.events_analytics import drawdown_rollup, purchase_daily_cents

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_drawdown",
        purchase_daily_cents,
        _sum_merge(["day"], ["cents"]),
    )
    return drawdown_rollup(merged).localCheckpoint()


@register("stream_mcnemar", None)  # pytest: == batch events_mcnemar
def stream_mcnemar(spark, sf):
    """INGEST-TIME McNemar monitor — the streaming twin of
    ``events_mcnemar``: the carried state is the distinct (user, d,
    side) marks grain (three DISTINCT sets, exactly set-union
    mergeable — the stream_srm discipline), and the SHARED
    ``mcnemar_rollup`` re-derives the discordant counts and the
    continuity-corrected chi2 from the final state. State is bounded
    by the marked subject universe, never by events."""
    from ..plans.events_analytics import mcnemar_marks, mcnemar_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_mcnemar", mcnemar_marks, _distinct_merge
    )
    return mcnemar_rollup(merged).localCheckpoint()


@register("stream_kmv", None)  # pytest: == batch sketch_kmv
def stream_kmv(spark, sf):
    """INGEST-TIME KMV distinct sketch — the streaming twin of
    ``sketch_kmv`` and the reason a KMV exists at all: min-k is
    associative (min-k of a union == min-k of per-part min-ks), so the
    carried SKETCH state is O(types x k) FOREVER — each batch is
    pre-sketched and re-sketched against the carried state, never
    against history. A second set-union witness state carries the
    distinct member hashes ONLY because the batch key reports n_exact
    next to the estimate (the estimate itself derives from the capped
    sketch alone — pytest pins that the capped state reproduces the
    batch readout exactly)."""
    from ..plans.relational import kmv_hashes, kmv_rollup, kmv_sketch

    def sketch_merge(prev, cur):
        # distinct BEFORE re-sketching: a hash present in both the
        # carried state and the new batch would otherwise occupy two
        # ranks and displace a legitimate k-th value
        merged = cur if prev is None else prev.unionByName(cur).distinct()
        return kmv_sketch(merged)

    sk = _stream_merged_state(
        spark,
        sf,
        "stream_kmv",
        lambda b: kmv_sketch(kmv_hashes(b)),
        sketch_merge,
    )
    witness = _stream_merged_state(
        spark,
        sf,
        "stream_kmv_w",
        kmv_hashes,
        _distinct_merge,
    )
    return kmv_rollup(sk, witness).localCheckpoint()


@register("stream_cochran", None)  # pytest: == batch events_cochran_q
def stream_cochran(spark, sf):
    """INGEST-TIME Cochran-Q monitor — the streaming twin of
    ``events_cochran_q``: the carried state is the (user, day) x
    {view, click, purchase} flag grain — each flag a MAX, and max of
    maxes == max over all events, so the merged state equals the batch
    grain under any micro-batch split; the SHARED ``cochran_rollup``
    re-derives the exact-moment Q from the final state. State is
    O(users x active days)."""
    from ..plans.events_analytics import cochran_rollup, user_day_flags

    def max_merge(prev, cur):
        if prev is None:
            return cur
        return (
            prev.unionByName(cur)
            .groupBy("user_id", "day")
            .agg(
                F.max("g1").alias("g1"),
                F.max("g2").alias("g2"),
                F.max("g3").alias("g3"),
            )
        )

    merged = _stream_merged_state(
        spark, sf, "stream_cochran", user_day_flags, max_merge
    )
    return cochran_rollup(merged).localCheckpoint()


@register("stream_bollinger", None)  # pytest: == batch events_bollinger
def stream_bollinger(spark, sf):
    """INGEST-TIME Bollinger-band monitor — the streaming twin of
    ``events_bollinger`` on the SAME shared ``_stream_daily_counts``
    state as stream_anomaly/stream_forecast (per-(type, day) COUNTs
    are sum-mergeable; the SHARED ``bollinger_rollup`` re-derives the
    rolling bands and the all-integer breakout flags from the final
    state). State is O(event-types x days)."""
    from ..plans.events_analytics import bollinger_rollup

    return bollinger_rollup(
        _stream_daily_counts(spark, sf, "stream_bollinger")
    ).localCheckpoint()


@register("stream_rsi", None)  # pytest: == batch events_rsi
def stream_rsi(spark, sf):
    """INGEST-TIME RSI monitor — the streaming twin of ``events_rsi``
    on the SAME sum-mergeable daily-cents grain as ``stream_drawdown``
    (one state definition, two readouts — the wilcoxon/sign pattern);
    the SHARED ``rsi_rollup`` re-derives diffs, rolling gain/loss sums
    and the single-division RSI from the final state. State is
    O(days)."""
    from ..plans.events_analytics import purchase_daily_cents, rsi_rollup

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_rsi",
        purchase_daily_cents,
        _sum_merge(["day"], ["cents"]),
    )
    return rsi_rollup(merged).localCheckpoint()


@register("stream_fingerprint", None)  # pytest: == events row of batch key
def stream_fingerprint(spark, sf):
    """INGEST-TIME dataset fingerprint — the streaming twin of
    ``dataset_fingerprint``'s events row, and the reason the
    fingerprint is an XOR: xor of per-batch fingerprints == the
    fingerprint of the union for DISJOINT batches (an append-only
    stream is exactly that), so the carried state is ONE (n_rows,
    fingerprint) row updated per batch — the stream_pack scalar-carry
    pattern with integrity instead of offsets. A corpus drop's stamp
    stays current at ingest time without ever re-reading history."""
    from ..plans.relational import _fp_rowhash_col

    def grain(batch_df: DataFrame) -> DataFrame:
        row = F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("long")
            .cast("string"),
        )
        return batch_df.select(_fp_rowhash_col(row).alias("h")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("bit_xor(h)").cast("long").alias("fingerprint"),
        )

    def xor_merge(prev, cur):
        if prev is None:
            return cur
        return prev.unionByName(cur).agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.expr("bit_xor(fingerprint)").cast("long").alias(
                "fingerprint"
            ),
        )

    merged = _stream_merged_state(
        spark, sf, "stream_fingerprint", grain, xor_merge
    )
    return merged.select(
        F.lit("events").alias("table_name"), "n_rows", "fingerprint"
    ).localCheckpoint()


@register("stream_holt_winters", None)  # pytest: == batch twin
def stream_holt_winters(spark, sf):
    """INGEST-TIME Holt-Winters monitor — the streaming twin of
    ``events_holt_winters`` on the SAME shared ``_stream_daily_counts``
    state as stream_holt (per-(type, day) COUNTs are sum-mergeable;
    the SHARED ``holt_winters_rollup`` replays the triple recurrence
    over the final state, so streaming == batch is a theorem about
    SUM). State is O(event-types x days)."""
    from ..plans.events_analytics import holt_winters_rollup

    return holt_winters_rollup(
        _stream_daily_counts(spark, sf, "stream_holt_winters")
    ).localCheckpoint()


def _stream_vc_counts(spark, sf, op_key: str) -> DataFrame:
    """Consume the staged event stream accumulating the bounded
    (cents, c0, c1) variant-split purchase-amount grain — the shared
    fact-scale half of the two-sample twins (stream_ks / stream_mwu /
    stream_cliff / stream_cohens). Counts are plain SUMs, so the
    carried state is exactly mergeable for any micro-batch split."""
    import shutil

    from ..plans.events_analytics import value_counts_by_variant

    d = _stage_stream_dir(sf)
    work = _op_work_dir(op_key, d)
    state: dict[str, str | None] = {"path": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur = value_counts_by_variant(batch_df)
        allg = (
            cur
            if state["path"] is None
            else sp.read.parquet(state["path"])
            .unionByName(cur)
            .groupBy("cents")
            .agg(
                F.sum("c0").cast("long").alias("c0"),
                F.sum("c1").cast("long").alias("c1"),
            )
        )
        new_state = os.path.join(work, f"state_b{batch_id}")
        allg.write.mode("overwrite").parquet(new_state)
        prev = state["path"]
        state["path"] = new_state
        if prev is not None:  # superseded snapshot
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        _events_stream(spark, sf)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return spark.read.parquet(state["path"])


@register("stream_ks", None)  # pytest: == batch events_ks_test
def stream_ks(spark, sf):
    """INGEST-TIME Kolmogorov-Smirnov monitor — the streaming twin of
    ``events_ks_test`` on the shared variant-split cents-grain state
    (SUM-mergeable; the SHARED ``ks_rollup`` re-derives the ECDF max
    from the final state, so streaming == batch is a theorem about
    SUM). The experiment-guardrail shape: distribution drift between
    variants surfaces as exposures arrive, no history re-scan.

    State is O(price domain) — bounded by distinct cents values."""
    from ..plans.events_analytics import ks_rollup

    return ks_rollup(
        _stream_vc_counts(spark, sf, "stream_ks")
    ).localCheckpoint()


@register("stream_mwu", None)  # pytest: == batch events_mann_whitney
def stream_mwu(spark, sf):
    """INGEST-TIME Mann-Whitney monitor — the streaming twin of
    ``events_mann_whitney`` on the same shared variant-split
    cents-grain state (the SHARED ``mwu_rollup`` re-derives the
    midrank sums, AUC, and tie-corrected z from the final state)."""
    from ..plans.events_analytics import mwu_rollup

    return mwu_rollup(
        _stream_vc_counts(spark, sf, "stream_mwu")
    ).localCheckpoint()


@register("stream_cliff", None)  # pytest: == batch events_cliff_delta
def stream_cliff(spark, sf):
    """INGEST-TIME Cliff's-delta monitor — the streaming twin of
    ``events_cliff_delta`` on the same shared variant-split
    cents-grain state (the SHARED ``cliff_rollup`` re-derives the
    gt/lt pair counts and magnitude label from the final state)."""
    from ..plans.events_analytics import cliff_rollup

    return cliff_rollup(
        _stream_vc_counts(spark, sf, "stream_cliff")
    ).localCheckpoint()


@register("stream_cohens", None)  # pytest: == batch events_cohens_d
def stream_cohens(spark, sf):
    """INGEST-TIME Cohen's-d monitor — the streaming twin of
    ``events_cohens_d`` on the same shared variant-split cents-grain
    state (the SHARED ``cohens_rollup`` re-derives the moment sums and
    the pooled-sd chain from the final state)."""
    from ..plans.events_analytics import cohens_rollup

    return cohens_rollup(
        _stream_vc_counts(spark, sf, "stream_cohens")
    ).localCheckpoint()


def _stream_user_cents(spark, sf, op_key: str) -> DataFrame:
    """Consume the staged event stream accumulating the per-user
    purchase-cents-total grain — the shared fact-scale half of the
    inequality / k-sample twins (stream_gini / stream_hoover /
    stream_palma / stream_jonckheere / stream_moods). Per-user totals
    are plain SUMs of exact integer cents, so the state is exactly
    mergeable across any micro-batch split."""
    from ..plans.events_analytics import user_cents_totals

    return _stream_merged_state(
        spark,
        sf,
        op_key,
        user_cents_totals,
        _sum_merge(["user_id"], ["cents"]),
    )


@register("stream_gini", None)  # pytest: == batch events_gini
def stream_gini(spark, sf):
    """INGEST-TIME Gini monitor — the streaming twin of
    ``events_gini`` on the shared per-user cents state (SUM-mergeable;
    the shared ``gini_rollup`` re-ranks and re-folds the final state,
    so streaming == batch is a theorem about SUM). State is
    O(purchasing users)."""
    from ..plans.events_analytics import gini_rollup

    return gini_rollup(
        _stream_user_cents(spark, sf, "stream_gini")
    ).localCheckpoint()


@register("stream_hoover", None)  # pytest: == batch events_hoover
def stream_hoover(spark, sf):
    """INGEST-TIME Hoover/MAD/CV monitor — the streaming twin of
    ``events_hoover`` on the shared per-user cents state (the shared
    ``hoover_rollup`` re-derives the scaled-deviation and
    wide-integer moment contracts from the final state)."""
    from ..plans.events_analytics import hoover_rollup

    return hoover_rollup(
        _stream_user_cents(spark, sf, "stream_hoover")
    ).localCheckpoint()


@register("stream_palma", None)  # pytest: == batch events_palma
def stream_palma(spark, sf):
    """INGEST-TIME Palma-ratio monitor — the streaming twin of
    ``events_palma`` on the shared per-user cents state (the shared
    ``palma_rollup`` re-ranks and re-cuts the final state with the
    exact integer 5i<=2n / 10i>9n memberships)."""
    from ..plans.events_analytics import palma_rollup

    return palma_rollup(
        _stream_user_cents(spark, sf, "stream_palma")
    ).localCheckpoint()


@register("stream_jonckheere", None)  # pytest: == batch events_jonckheere
def stream_jonckheere(spark, sf):
    """INGEST-TIME Jonckheere-Terpstra monitor — the streaming twin of
    ``events_jonckheere`` on the shared per-user cents state (tier
    membership is user_id % 3, derivable from the state key, so the
    shared ``jonckheere_rollup`` rebuilds the ordered cumsum exactly)."""
    from ..plans.events_analytics import jonckheere_rollup

    return jonckheere_rollup(
        _stream_user_cents(spark, sf, "stream_jonckheere")
    ).localCheckpoint()


@register("stream_moods", None)  # pytest: == batch events_moods_median
def stream_moods(spark, sf):
    """INGEST-TIME Mood's-median monitor — the streaming twin of
    ``events_moods_median`` on the shared per-user cents state (the
    shared ``moods_rollup`` re-selects the grand median by integer
    rank and rebuilds the 2x3 table from the final state)."""
    from ..plans.events_analytics import moods_rollup

    return moods_rollup(
        _stream_user_cents(spark, sf, "stream_moods")
    ).localCheckpoint()


@register("stream_success", None)  # pytest: == batch retrieval_success_at_k
def stream_success(spark, sf):
    """INGEST-TIME success@k monitor — the streaming twin of
    ``retrieval_success_at_k`` on the shared per-doc query-tf state
    (``_stream_query_tf`` — per-doc purity makes the merge a disjoint
    union), with the SHARED ``success_at_k_rollup`` re-cutting the
    top-10 and re-counting hits from the final grain. The
    release-monitor shape: hit rates stay current as the corpus
    grows, without re-tokenizing history."""
    from ..operators.textstats import success_at_k_rollup

    return success_at_k_rollup(
        _stream_query_tf(spark, sf, "stream_success")
    ).localCheckpoint()


@register("stream_rbo", None)  # pytest: == batch retrieval_rbo
def stream_rbo(spark, sf):
    """INGEST-TIME rank-biased-overlap monitor — the streaming twin of
    ``retrieval_rbo`` on the shared per-doc query-tf state, with the
    SHARED ``rbo_rollup`` re-ranking both sides of each ablation pair
    from the final grain (the dyadic-weight fixed-chain contract
    lives once, in the rollup)."""
    from ..operators.textstats import rbo_rollup

    return rbo_rollup(
        _stream_query_tf(spark, sf, "stream_rbo")
    ).localCheckpoint()


@register("stream_inequality", None)  # pytest: == macro_inequality_report
def stream_inequality(spark, sf):
    """INGEST-TIME spend-inequality dashboard — the streaming twin of
    ``macro_inequality_report`` on the shared per-user cents state
    (one state, the composed ``inequality_report_rollup`` readout;
    the composition twin of the five per-metric stream keys)."""
    from ..plans.events_analytics import inequality_report_rollup

    return inequality_report_rollup(
        _stream_user_cents(spark, sf, "stream_inequality")
    ).localCheckpoint()


@register("stream_grubbs", None)  # pytest: == batch events_grubbs
def stream_grubbs(spark, sf):
    """INGEST-TIME Grubbs max-outlier monitor — the streaming twin of
    ``events_grubbs`` on the shared per-user cents state (the shared
    ``grubbs_rollup`` re-derives the exact scaled-deviation argmax and
    the wide-integer moment chain from the final state)."""
    from ..plans.events_analytics import grubbs_rollup

    return grubbs_rollup(
        _stream_user_cents(spark, sf, "stream_grubbs")
    ).localCheckpoint()


@register("stream_trimmed", None)  # pytest: == batch events_trimmed_mean
def stream_trimmed(spark, sf):
    """INGEST-TIME trimmed-mean monitor — the streaming twin of
    ``events_trimmed_mean`` on the shared (cents, cnt) purchase-amount
    state (``_stream_cents_counts`` — SUM-mergeable; the shared
    ``trimmed_rollup`` re-runs the interval-overlap selection on the
    final state)."""
    from ..plans.events_analytics import trimmed_rollup

    return trimmed_rollup(
        _stream_cents_counts(spark, sf, "stream_trimmed")
    ).localCheckpoint()


@register("stream_dw", None)  # pytest: == batch events_durbin_watson
def stream_dw(spark, sf):
    """INGEST-TIME Durbin-Watson serial-correlation monitor — the
    streaming twin of ``events_durbin_watson``: the carried state is
    the (day, cnt) daily-totals grain (plain SUM-able counts — exactly
    mergeable for any micro-batch split, the stream_runs discipline),
    and the SHARED ``dw_rollup`` re-derives the lag window and the
    exact integer numerator/denominator from the final state, so
    streaming == batch is a theorem about SUM. State is O(days)."""
    from ..plans.events_analytics import day_totals, dw_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_dw", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return dw_rollup(merged).localCheckpoint()


@register("stream_hellinger", None)  # pytest: == batch events_hellinger
def stream_hellinger(spark, sf):
    """INGEST-TIME distribution-shift monitor — the streaming twin of
    ``events_hellinger``: the carried state is the (weekday, type,
    cnt) contingency grain (the stream_cramers state shape — plain
    SUM-able counts, exactly mergeable), and the SHARED
    ``hellinger_rollup`` re-derives the 7-sqrt Bhattacharyya chain and
    the guarded Hellinger distance from the final state. State is
    O(1) — at most 7 x event-types cells."""
    from ..plans.events_analytics import dow_type_counts, hellinger_rollup

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_hellinger",
        dow_type_counts,
        _sum_merge(["dow", "event_type"], ["cnt"]),
    )
    return hellinger_rollup(merged).localCheckpoint()


@register("stream_nelson_aalen", None)  # pytest: == events_nelson_aalen
def stream_nelson_aalen(spark, sf):
    """INGEST-TIME cumulative-hazard monitor — the streaming twin of
    ``events_nelson_aalen``: the carried state is the per-user
    (first-event ts, first-purchase ts) span grain (both plain MINs —
    exactly mergeable for any micro-batch split: min(merge) ==
    min(all), the stream_survival discipline), and the SHARED
    ``na_rollup`` re-derives the censoring cut, the at-risk reverse
    cumsum, and the sequential additive fold from the final state.
    State is O(users); each batch's merge keys on user_id only."""
    from ..plans.events_analytics import conversion_spans, na_rollup

    def min_merge(prev, cur):
        if prev is None:
            return cur
        return (
            prev.unionByName(cur)
            .groupBy("user_id")
            .agg(F.min("fe").alias("fe"), F.min("pt").alias("pt"))
        )

    merged = _stream_merged_state(
        spark, sf, "stream_nelson_aalen", conversion_spans, min_merge
    )
    return na_rollup(merged).localCheckpoint()


@register("stream_tv", None)  # pytest: == batch events_tv_distance
def stream_tv(spark, sf):
    """INGEST-TIME total-variation shift monitor — the streaming twin
    of ``events_tv_distance``: the carried state is the (weekday,
    type, cnt) contingency grain (the stream_hellinger state shape —
    plain SUM-able counts, exactly mergeable for any micro-batch
    split), and the SHARED ``tv_rollup`` re-derives the all-integer
    cross-multiplied numerator and the one-division distance from the
    final state, so streaming == batch is a theorem about SUM. State
    is O(1) — at most 7 x event-types cells."""
    from ..plans.events_analytics import dow_type_counts, tv_rollup

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_tv",
        dow_type_counts,
        _sum_merge(["dow", "event_type"], ["cnt"]),
    )
    return tv_rollup(merged).localCheckpoint()


@register("stream_wasserstein", None)  # pytest: == events_wasserstein
def stream_wasserstein(spark, sf):
    """INGEST-TIME earth-mover shift monitor — the streaming twin of
    ``events_wasserstein`` on the SAME (weekday, type, cnt) contingency
    state ``stream_tv``/``stream_hellinger`` carry; the SHARED
    ``wasserstein_rollup`` re-derives the exact integer CDF prefixes
    and the one-division W1 from the final state. State is O(1)."""
    from ..plans.events_analytics import dow_type_counts, wasserstein_rollup

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_wasserstein",
        dow_type_counts,
        _sum_merge(["dow", "event_type"], ["cnt"]),
    )
    return wasserstein_rollup(merged).localCheckpoint()


@register("stream_gamma", None)  # pytest: == batch events_gamma
def stream_gamma(spark, sf):
    """INGEST-TIME ordinal-association monitor — the streaming twin of
    ``events_gamma``: the carried state is the per-user (view count,
    purchase count) grain ``stream_spearman``/``stream_kendall`` carry
    (both plain SUMs — exactly mergeable for any micro-batch split),
    and the SHARED ``ordinal_rollup`` re-derives the cell-pair
    concordance counts, the tie corrections, and all four statistics
    from the final state, so streaming == batch is a theorem about
    SUM. State is O(users); each batch's merge keys on user_id only."""
    from ..plans.events_analytics import ordinal_rollup, user_ab

    merged = _stream_merged_state(
        spark, sf, "stream_gamma", user_ab, _sum_merge(["user_id"], ["a", "b"])
    )
    return ordinal_rollup(merged).localCheckpoint()


@register("stream_pacf", None)  # pytest: == batch events_pacf
def stream_pacf(spark, sf):
    """INGEST-TIME partial-autocorrelation monitor — the streaming twin
    of ``events_pacf``: the carried state is the (day, cnt)
    daily-totals grain (plain SUM-able counts — exactly mergeable for
    any micro-batch split, the stream_dw discipline), and the SHARED
    ``pacf_rollup`` re-derives the exact autocovariances and the
    cross-multiplied Durbin-Levinson ratio from the final state, so
    streaming == batch is a theorem about SUM. State is O(days)."""
    from ..plans.events_analytics import day_totals, pacf_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_pacf", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return pacf_rollup(merged).localCheckpoint()


@register("stream_ljung_box", None)  # pytest: == batch events_ljung_box
def stream_ljung_box(spark, sf):
    """INGEST-TIME whiteness monitor — the streaming twin of
    ``events_ljung_box`` on the SAME (day, cnt) daily-totals state
    ``stream_pacf``/``stream_dw`` carry; the SHARED ``ljung_box_rollup``
    re-derives the pinned 3-op Q chain and the chi2(2) decision from
    the final state. State is O(days)."""
    from ..plans.events_analytics import day_totals, ljung_box_rollup

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_ljung_box",
        day_totals,
        _sum_merge(["day"], ["cnt"]),
    )
    return ljung_box_rollup(merged).localCheckpoint()


@register("stream_pettitt", None)  # pytest: == batch events_pettitt
def stream_pettitt(spark, sf):
    """INGEST-TIME changepoint monitor — the streaming twin of
    ``events_pettitt`` on the SAME (day, cnt) daily-totals state; the
    SHARED ``pettitt_rollup`` re-runs the all-integer U_t recursion
    and the pinned argmax from the final state, so streaming == batch
    is a theorem about SUM. State is O(days)."""
    from ..plans.events_analytics import day_totals, pettitt_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_pettitt", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return pettitt_rollup(merged).localCheckpoint()


@register("stream_ca_trend", None)  # pytest: == events_cochran_armitage
def stream_ca_trend(spark, sf):
    """INGEST-TIME dose-trend monitor — the streaming twin of
    ``events_cochran_armitage``: the carried state is the 7-row
    (dow, n, a) dose grain (plain SUM-able counts — exactly mergeable
    for any micro-batch split), and the SHARED ``ca_rollup`` re-derives
    the five exact moments and the one-division z^2 from the final
    state, so streaming == batch is a theorem about SUM. State is
    O(1) — seven cells."""
    from ..plans.events_analytics import ca_rollup, dow_trial_counts

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_ca_trend",
        dow_trial_counts,
        _sum_merge(["dow"], ["n", "a"]),
    )
    return ca_rollup(merged).localCheckpoint()


@register("stream_serial_report", None)  # pytest: == macro_serial_report
def stream_serial_report(spark, sf):
    """INGEST-TIME serial-dependence dashboard — the streaming twin of
    ``macro_serial_report`` on the shared (day, cnt) daily-totals SUM
    state (one state, the composed ``serial_report_rollup`` readout;
    the composition twin of stream_dw/stream_pacf/stream_ljung_box/
    stream_pettitt)."""
    from ..plans.events_analytics import day_totals, serial_report_rollup

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_serial_report",
        day_totals,
        _sum_merge(["day"], ["cnt"]),
    )
    return serial_report_rollup(merged).localCheckpoint()


@register("stream_page", None)  # pytest: == batch events_page
def stream_page(spark, sf):
    """INGEST-TIME ordered weekday-trend monitor — the streaming twin
    of ``events_page`` on the SAME (day, cnt) daily-totals state the
    serial-diagnostics twins carry; the SHARED ``page_rollup``
    re-derives the blocked midranks and the doubled-L readout from the
    final state, so streaming == batch is a theorem about SUM. State
    is O(days)."""
    from ..plans.events_analytics import day_totals, page_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_page", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return page_rollup(merged).localCheckpoint()


@register("stream_turning", None)  # pytest: == events_turning_points
def stream_turning(spark, sf):
    """INGEST-TIME shape-randomness monitor — the streaming twin of
    ``events_turning_points`` on the SAME (day, cnt) daily-totals
    state the serial-diagnostics twins carry; the SHARED
    ``turning_rollup`` re-derives the strict peak/trough count and the
    respelled z from the final state. State is O(days)."""
    from ..plans.events_analytics import day_totals, turning_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_turning", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return turning_rollup(merged).localCheckpoint()


@register("stream_mk_seasonal", None)  # pytest: == events_mk_seasonal
def stream_mk_seasonal(spark, sf):
    """INGEST-TIME deseasonalized-trend monitor — the streaming twin of
    ``events_mk_seasonal`` on the SAME (day, cnt) daily-totals state;
    the SHARED ``smk_rollup`` re-derives the stratified S, the summed
    tie-corrected variance, and the continuity-corrected z from the
    final state, so streaming == batch is a theorem about SUM. State
    is O(days)."""
    from ..plans.events_analytics import day_totals, smk_rollup

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_mk_seasonal",
        day_totals,
        _sum_merge(["day"], ["cnt"]),
    )
    return smk_rollup(merged).localCheckpoint()


@register("stream_records", None)  # pytest: == batch events_records
def stream_records(spark, sf):
    """INGEST-TIME record-frontier monitor — the streaming twin of
    ``events_records`` on the SAME (day, cnt) daily-totals state; the
    SHARED ``records_rollup`` re-derives the prefix extrema and the
    pinned harmonic fold from the final state, so streaming == batch
    is a theorem about SUM. State is O(days)."""
    from ..plans.events_analytics import day_totals, records_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_records", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return records_rollup(merged).localCheckpoint()


@register("stream_quade", None)  # pytest: == batch events_quade
def stream_quade(spark, sf):
    """INGEST-TIME range-weighted blocked-rank monitor — the streaming
    twin of ``events_quade`` on the SAME (day, cnt) daily-totals state
    the friedman/page twins carry; the SHARED ``quade_rollup``
    re-derives the blocked midranks, range weights, and the
    all-integer F ratio from the final state, so streaming == batch is
    a theorem about SUM. State is O(days)."""
    from ..plans.events_analytics import day_totals, quade_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_quade", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return quade_rollup(merged).localCheckpoint()


@register("stream_acf_profile", None)  # pytest: == events_acf_profile
def stream_acf_profile(spark, sf):
    """INGEST-TIME correlogram monitor — the streaming twin of
    ``events_acf_profile`` on the SAME (day, cnt) daily-totals state
    the serial-diagnostics twins carry; the SHARED
    ``acf_profile_rollup`` re-derives all seven exact autocovariances
    and band flags from the final state, so streaming == batch is a
    theorem about SUM. State is O(days)."""
    from ..plans.events_analytics import acf_profile_rollup, day_totals

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_acf_profile",
        day_totals,
        _sum_merge(["day"], ["cnt"]),
    )
    return acf_profile_rollup(merged).localCheckpoint()


@register("stream_randomness", None)  # pytest: == macro_randomness_report
def stream_randomness(spark, sf):
    """INGEST-TIME randomness dashboard — the streaming twin of
    ``macro_randomness_report`` on the shared (day, cnt) daily-totals
    SUM state (one state, the composed ``randomness_report_rollup``
    readout; the composition twin of stream_runs/stream_turning/
    stream_records)."""
    from ..plans.events_analytics import (
        day_totals,
        randomness_report_rollup,
    )

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_randomness",
        day_totals,
        _sum_merge(["day"], ["cnt"]),
    )
    return randomness_report_rollup(merged).localCheckpoint()


@register("stream_ccf", None)  # pytest: == events_cross_correlation
def stream_ccf(spark, sf):
    """INGEST-TIME lead-lag monitor — the streaming twin of
    ``events_cross_correlation``: the carried state is the (day, x, y)
    two-series daily grain (plain SUM-able counts — exactly mergeable
    for any micro-batch split), and the SHARED ``ccf_rollup``
    re-derives the exact cross-covariances and band flags from the
    final state, so streaming == batch is a theorem about SUM. State
    is O(days)."""
    from ..plans.events_analytics import ccf_rollup, purchase_click_days

    merged = _stream_merged_state(
        spark,
        sf,
        "stream_ccf",
        purchase_click_days,
        _sum_merge(["day"], ["x", "y"]),
    )
    return ccf_rollup(merged).localCheckpoint()


@register("stream_its", None)  # pytest: == events_interrupted_ts
def stream_its(spark, sf):
    """INGEST-TIME intervention monitor — the streaming twin of
    ``events_interrupted_ts`` on the SAME (day, cnt) daily-totals
    state; the SHARED ``its_rollup`` re-fits both segments from the
    final state, so streaming == batch is a theorem about SUM. State
    is O(days)."""
    from ..plans.events_analytics import day_totals, its_rollup

    merged = _stream_merged_state(
        spark, sf, "stream_its", day_totals, _sum_merge(["day"], ["cnt"])
    )
    return its_rollup(merged).localCheckpoint()
