"""Per-stage checkpointing with lineage + counters; mid-pipeline resume (G6).

North-rule requirement: "every stage checkpoints per-partition with lineage
+ counters so the run is resumable mid-pipeline". Spark's own checkpointing
is lineage-truncation only, not content-addressed, so the engine adds:

- after each stage, the stage output is materialized as a bucket-partitioned
  Parquet table (tables.write_graph_table) whose manifest carries per-
  partition row counts + content hashes (xxhash64 aggregate — order-
  insensitive, computed distributed);
- a ``checkpoints`` ledger row per (stage, partition) with rows_in/rows_out
  and the content hash (schemas.CHECKPOINTS shape);
- ``resume``: a stage whose manifest exists and whose upstream hash matches
  is NOT recomputed — the table is read back instead. Determinism of every
  stage (fixed hashes, fixed salts, no wall-clock in data) makes the replay
  byte-stable, which the resumability pytest asserts.

Durability window: a stage's table write and manifest run on a background
thread that overlaps the NEXT stage's compute, so from the moment
``stage()`` returns until that thread finishes (at the latest, ``flush()``,
which ``run_pipeline_checkpointed`` calls before returning) the newest
stage is NOT yet durable. A process killed inside that window resumes
from the last stage whose manifest was written and recomputes the
in-flight one; it never reads a half-written table, because the manifest
is written last and a rebuilt stage overwrites its directory.

At cluster scale the ledger would live in the Iceberg table's snapshot
metadata; here it is a JSON sidecar per stage directory.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources import tables

# Bump when operator semantics change: invalidates every existing checkpoint
# (part of the lineage note, alongside upstream hash + stage config).
CODE_VERSION = "2"


def file_fingerprint(path: str) -> str:
    """crc32 of a file's bytes (e.g. model.npz) for lineage invalidation."""
    crc = 0
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            crc = zlib.crc32(chunk, crc)
    return f"{crc & 0xFFFFFFFF:08x}"


def frame_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content fingerprint of a (dimension-scale)
    DataFrame, e.g. the lexicon, for lineage invalidation: row count and
    the sum of row xxhash64s, each bounded to 2^40 so the ANSI-mode long
    sum can never overflow (the manifest content-hash idiom)."""
    from pyspark.sql import functions as F

    rows, total = df.agg(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 40))),
    ).first()
    return f"{rows}:{(total or 0):x}"


def _config_fingerprint(config: dict | None) -> str:
    if not config:
        return "-"
    blob = json.dumps(config, sort_keys=True, default=str).encode()
    return f"{zlib.crc32(blob) & 0xFFFFFFFF:08x}"


class CheckpointedPipeline:
    """Runs named stages with materialize-or-resume semantics."""

    def __init__(self, spark: SparkSession, root: str, bucket_col_default: str = "conv_id"):
        self.spark = spark
        self.root = root
        self.bucket_default = bucket_col_default
        os.makedirs(root, exist_ok=True)
        self.ledger_path = os.path.join(root, "checkpoints.jsonl")
        self.stages_run: list[str] = []
        self.stages_resumed: list[str] = []
        # r6: per-stage durable write + manifest finalization (stats
        # read-back + sidecar write) run on a thread so they overlap the
        # NEXT stage's compute (guide §2.6 — Spark schedules both jobs
        # concurrently); every consumer of a manifest joins the owning
        # thread first, and flush() joins everything before the pipeline
        # returns.
        self._pending: dict[str, object] = {}
        self._pending_err: dict[str, BaseException] = {}
        # stage outputs handed downstream as MEMORY_AND_DISK caches
        # (byte-identical to the written tables — stages are
        # deterministic); released at flush()
        self._cached: list[DataFrame] = []

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _join_pending(self, stage: str | None = None) -> None:
        """Join the named stage's thread (or every in-flight one), then
        raise the first recorded finalizer error, if any."""
        names = [stage] if stage is not None else list(self._pending)
        errs = []
        for n in names:
            t = self._pending.pop(n, None)
            if t is not None:
                t.join()
            err = self._pending_err.pop(n, None)
            if err is not None:
                errs.append(err)
        if errs:
            raise errs[0]

    def _release_cached(self) -> None:
        while self._cached:
            try:
                self._cached.pop().unpersist(blocking=False)
            except Exception:
                pass

    def flush(self) -> None:
        """Join every in-flight write/finalization and release the stage
        caches (call before handing the checkpoint root to another
        pipeline instance — after this, every stage is durable on
        disk). The caches are released even when a finalizer failed."""
        try:
            self._join_pending()
        finally:
            self._release_cached()

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        bucket_col: str | None = None,
        upstream: str | None = None,
        config: dict | None = None,
        handoff: bool = False,
    ) -> DataFrame:
        """Return the stage output, recomputing only when not checkpointed.

        ``upstream`` (a prior stage name) ties this stage's validity to the
        upstream manifest's total content hash — if the upstream changed,
        the cached output is invalid and is rebuilt (lineage check).
        ``config`` (stage parameters: model or lexicon fingerprint,
        window_turns, …) is folded into the lineage note along with
        CODE_VERSION, so a retrained model, an edited lexicon or changed
        kwargs invalidates the cached stage instead of silently
        returning stale output.

        Cold-path shape (r6b): the stage is materialized ONCE into a
        MEMORY_AND_DISK cache; the durable parquet write AND the manifest
        finalization then run on a thread that overlaps the NEXT stage's
        compute (guide §2.6), and downstream consumes the cache — which
        is byte-identical to the written table because every stage is
        deterministic. The critical path therefore carries only the
        stage computes; the four table writes ride the overlap, and the
        next stage's lineage derivation joins the upstream thread, so
        by the time any stage's manifest is consulted its table is
        durable. The FINAL stage passes ``handoff=True``: its cache is
        registered with the session-level tracked-persist pool (released
        by the next operator invocation's persist_swap, the documented
        lifecycle) instead of the pipeline's flush-released list, so the
        caller consumes the cache after ``flush()`` without a parquet
        round-trip. At 100 TB the caches spill to
        local disk (MEMORY_AND_DISK) — still cheaper than the
        remote-table round-trip the old path paid per stage.
        """
        import threading

        path = self._stage_dir(name)
        self._join_pending(name)  # a prior run of this same stage
        manifest = tables.read_manifest(path)
        if manifest is not None:
            want_lineage = self._lineage_of(upstream, config)
            if manifest.get("note") == want_lineage:
                self.stages_resumed.append(name)
                return tables.read_graph_table(self.spark, path)
        df = build()
        bucket = bucket_col or self.bucket_default
        if bucket not in df.columns:
            bucket = df.columns[0]
        self.stages_run.append(name)
        cached = df.persist()
        cached.count()  # materialize while the upstream write is in flight
        if handoff:
            # final stage: register with the session-level tracked-persist
            # pool instead of the pipeline's flush-released list, so the
            # caller can consume the cache after flush(); the next
            # operator invocation's persist_swap releases it (the
            # documented lifecycle — callers materialize each key's
            # result before invoking the next). Durability is unaffected:
            # flush() joins the write thread before the pipeline returns.
            from ..caching import persist_swap

            persist_swap(cached)
        want_lineage = self._lineage_of(upstream, config)
        columns = list(df.columns)

        def _write_and_finalize() -> None:
            try:
                schema_json = tables.write_graph_data(
                    cached, path, bucket_col=bucket
                )
                m = tables.finalize_graph_manifest(
                    self.spark, path, schema_json, columns,
                    bucket_col=bucket, snapshot_note=want_lineage,
                )
                self._append_ledger(name, m)
            except BaseException as e:  # re-raised at the next join
                self._pending_err[name] = e

        t = threading.Thread(target=_write_and_finalize, name=f"rbs-ckpt-{name}")
        t.start()
        self._pending[name] = t
        if not handoff:
            self._cached.append(cached)
        return cached

    def _lineage_of(self, upstream: str | None, config: dict | None = None) -> str:
        if upstream is not None:
            self._join_pending(upstream)
        cfg = f"|v{CODE_VERSION}|cfg:{_config_fingerprint(config)}"
        if upstream is None:
            return "root" + cfg
        m = tables.read_manifest(self._stage_dir(upstream))
        if m is None:
            return "missing-upstream" + cfg
        total = sum(p["content_hash"] for p in m["partitions"].values())
        return f"{upstream}:{total & 0xFFFFFFFFFFFFFFFF:x}" + cfg

    def _append_ledger(self, stage: str, manifest: dict) -> None:
        with open(self.ledger_path, "a") as f:
            for part_id, p in sorted(manifest["partitions"].items()):
                f.write(
                    json.dumps(
                        {
                            "stage": stage,
                            "part_id": int(part_id),
                            "rows_out": p["rows"],
                            "sha": f"{p['content_hash'] & 0xFFFFFFFFFFFFFFFF:x}",
                            "ts": manifest["snapshot_ts"],
                        }
                    )
                    + "\n"
                )

    def ledger(self) -> list[dict]:
        try:
            self._join_pending()  # ledger rows are appended by finalizers
        except BaseException:
            self._release_cached()  # a failed run releases its caches
            raise
        if not os.path.exists(self.ledger_path):
            return []
        with open(self.ledger_path) as f:
            return [json.loads(line) for line in f]


def run_pipeline_checkpointed(
    spark: SparkSession,
    turns: DataFrame,
    lexicon: DataFrame,
    model_path: str,
    root: str,
    window_turns: int = 2,
) -> tuple[DataFrame, CheckpointedPipeline]:
    """The KG pipeline with a checkpoint after every stage; resumable."""
    from ..operators.linking import link_mentions
    from ..operators.mentions import detect_mentions, paren_balanced
    from ..operators.triples import assemble_triples
    from .pipeline import canonicalize, salt_repartition

    cp = CheckpointedPipeline(spark, root)
    model_fp = file_fingerprint(model_path)
    # linking and canonicalization are functions of the lexicon too: a
    # changed lexicon must rebuild both, not resume them
    lex_cfg = {"lexicon": frame_fingerprint(lexicon)}

    mentions = cp.stage(
        "mentions",
        lambda: detect_mentions(salt_repartition(turns), model_path).filter(
            paren_balanced("surface")
        ),
        config={"model": model_fp},
    )
    linked = cp.stage(
        "linked",
        lambda: link_mentions(mentions, lexicon),
        upstream="mentions",
        config=lex_cfg,
    )
    canon = cp.stage(
        "canonical",
        lambda: canonicalize(linked, lexicon),
        upstream="linked",
        config=lex_cfg,
    )
    triples = cp.stage(
        "triples",
        lambda: assemble_triples(canon, turns, window_turns=window_turns),
        upstream="canonical",
        config={"window_turns": window_turns},
        handoff=True,
    )
    # join in-flight manifest finalizers before returning: the caller may
    # wipe stage dirs (the resume benchmark's kill scenario) or hand the
    # root to a fresh pipeline instance — no thread may outlive this call
    cp.flush()
    return triples, cp
