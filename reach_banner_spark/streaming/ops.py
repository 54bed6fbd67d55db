"""Structured Streaming operator surface (SURVEY.md §2.4).

The reference is batch-only [P] — this surface comes from the analytics-
engine capability requirement. Each ``stream_*`` key replays a staged
driver table as a bounded file stream (``Trigger.availableNow`` via
``processAllAvailable``), runs the streaming operator, and RETURNS the
collected sink contents as a normal DataFrame so the harness can count
rows. The sources are the ``events`` table (windows, dedup, state,
sketches, streaks), the transcript turns (``stream_mentions``,
``stream_triples``, ``stream_growth`` and the KG-construction stream
``stream_kg``), the ``documents`` and ``embeddings`` tables (dedup,
filtering, indexing, ANN, retrieval rollups) and ``orders``
(``stream_bloom``).
Determinism: event-time logic only (watermarks/windows), never
wall-clock; micro-batch boundaries pinned by availableNow over a static
directory.

Oracle policy: streaming keys are ∅-oracle for the driver (DuckDB has no
streaming), but each stateful key is equality-checked against a one-shot
BATCH twin in pytest (``tests/test_streaming.py``) — the strongest
cross-check available (incrementalized plan vs one-shot plan).
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
    representative map materialized once per stream. ``fused_broadcast``
    has already taken the gate, so neither the map nor the per-batch
    linking fetches the lexicon to decide it again."""
    from ..operators.linking import link_mentions_distributed
    from ..operators.mentions import detect_mentions, paren_balanced
    from ..operators.triples import assemble_triples
    from ..plans.pipeline import (
        apply_canonical,
        canonical_rep_map_distributed,
        salt_repartition,
    )

    rep = canonical_rep_map_distributed(lexicon).localCheckpoint()

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
        linked = apply_canonical(link_mentions_distributed(mentions, lexicon), rep)
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
    count table (parquet-swapped per batch, superseded snapshot
    removed); streaming == batch is a
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


@register("stream_streaks", None)  # pytest: == batch gaps-and-islands
def stream_streaks(spark, sf):
    """INGEST-TIME streak maintenance — consecutive-day activity
    streaks per user, with a GENUINELY COMPRESSED state: instead of the
    raw (user, day) set, the carried table is the
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
    best/count/total from run lengths and must equal the one-shot
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


def _distinct_merge(prev, cur):
    return cur if prev is None else prev.unionByName(cur).distinct()


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


