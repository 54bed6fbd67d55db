"""The KG-construction workloads and their correctness gates.

Every workload drives the program's public entry points from one caller
thread (a closed loop with one client): ``plans.pipeline.run_pipeline``
(kg_batch) and ``streaming.ops.stream_kg`` (kg_stream); traced runs add
``plans.checkpoint.run_pipeline_checkpointed`` and a layer-by-layer replay
on the same corpus. Inputs come from ``fixtures.make_turns`` with the
run's seed. README.md says why each workload exists and which layer
metric should move which end-to-end one.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from statistics import median

import numpy as np

from harness import TRIPLE_COLS, JobCounter, Tracer, busy_s, cpu_jiffies, dir_bytes, fingerprint

WORKLOADS = ("kg_batch", "kg_stream")
HOT_CONV = "conv_00000"  # make_turns gives conversation 0 the hot turn count
HOT_PREFIX = 300  # turns of the hot conversation the P/R check covers
WINDOW = 2  # window_turns of every pipeline call
MIN_PR = 0.95
STAGES = ["mentions", "linked", "canonical", "triples"]


@dataclass(frozen=True)
class Sizes:
    n_convs: int  # make_turns conversations (median ~21 turns each)
    hot_turns: int  # turns of the one hot conversation
    stream_files: int  # micro-batches of kg_stream
    check_convs: int  # conversations (besides the hot one) in the P/R check


# Sized so that 48 runs of the two workloads fit in 3420 s on a 4-core
# host: every run pays ~25 s of session start and warm-up, and each
# micro-batch ~4 s of fixed cost.
FULL = Sizes(n_convs=1000, hot_turns=3000, stream_files=3, check_convs=60)
TINY = Sizes(n_convs=24, hot_turns=60, stream_files=3, check_convs=6)


@dataclass
class Ctx:
    spark: object
    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    work: str  # benchmark-owned scratch directory (wiped per run)
    cache: str  # per-seed reference cache (kept across runs)
    sizes: Sizes = FULL
    corrupt: bool = False  # self-test seam: damage outputs before checking
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# check failed: {self.workload} {what}", flush=True)
        return ok

    def output(self, df):
        """The program's triples as the checks see them (references the
        output is compared with are taken unchanged)."""
        if not self.corrupt:
            return df
        from pyspark.sql import functions as F

        return df.filter(F.pmod(F.xxhash64(*TRIPLE_COLS), F.lit(4)) != 0)


# ---------------------------------------------------------------- inputs


@dataclass
class Corpus:
    path: str  # one parquet file, or a directory of ts-ordered parts
    turns: object  # the pandas frame
    n_turns: int
    n_bytes: int


def make_corpus(ctx: Ctx, lexicon_pdf, parts: int = 1) -> Corpus:
    """Seeded transcript corpus written as parquet. ``parts`` > 1 splits it
    in ts order into that many files with mtimes spaced one second apart
    in name order, so a file stream reads them as ordered micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reach_banner_spark.fixtures import make_turns

    s = ctx.sizes
    turns, _gold = make_turns(
        n_convs=s.n_convs, skew_conv_turns=s.hot_turns, seed=ctx.seed, lexicon=lexicon_pdf
    )
    turns["ts"] = turns["ts"].astype("datetime64[us]")  # Spark reads us, not ns
    d = os.path.join(ctx.work, f"turns-s{ctx.seed}-p{os.getpid()}")
    os.makedirs(d)
    if parts == 1:
        path = os.path.join(d, "turns.parquet")
        pq.write_table(pa.Table.from_pandas(turns, preserve_index=False), path)
    else:
        path = d
        ordered = turns.sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
        for i, chunk in enumerate(np.array_split(np.arange(len(ordered)), parts)):
            f = os.path.join(d, f"part-{i:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(ordered.iloc[chunk], preserve_index=False), f
            )
            os.utime(f, (1_600_000_000 + i, 1_600_000_000 + i))
    return Corpus(path, turns, len(turns), dir_bytes(d))


def check_convs(ctx: Ctx, turns) -> list[str]:
    """A seeded sample of the conversations other than the hot one."""
    others = sorted(set(turns["conv_id"]) - {HOT_CONV})
    rng = np.random.RandomState(ctx.seed)
    k = min(ctx.sizes.check_convs, len(others))
    return sorted(rng.choice(others, size=k, replace=False))


def _as_set(rows) -> set[tuple]:
    return {tuple(str(v) for v in r) for r in rows}


def reference_set(ctx: Ctx, corpus: Corpus, lexicon_pdf) -> tuple[list[str], set]:
    """Golden triples (fixtures.reference_triples, single-process pandas) for
    the checked conversations plus the first HOT_PREFIX turns of the hot
    one; cached per seed and size. Triples never cross conversations and
    linking depends only on the surface and the lexicon, so a subset's
    reference equals the full one restricted to it. A triple pairs turns at
    most WINDOW apart, so on the hot prefix only windows starting at or
    before HOT_PREFIX - 1 - WINDOW are complete (the reference is quadratic
    in a conversation's mentions: the whole hot conversation costs tens of
    seconds)."""
    import pandas as pd

    from reach_banner_spark.fixtures import reference_triples

    convs = check_convs(ctx, corpus.turns)
    s = ctx.sizes
    path = os.path.join(
        ctx.cache, f"ref-c{s.n_convs}-h{s.hot_turns}-k{s.check_convs}-s{ctx.seed}.parquet"
    )
    if os.path.exists(path):
        ref = pd.read_parquet(path)
    else:
        t = corpus.turns
        sub = t[t["conv_id"].isin(convs) | ((t["conv_id"] == HOT_CONV) & (t["turn_idx"] < HOT_PREFIX))]
        ref = reference_triples(sub.reset_index(drop=True), lexicon_pdf, window_turns=WINDOW)
        ref = ref[(ref["conv_id"] != HOT_CONV) | (ref["window_start"] < HOT_PREFIX - WINDOW)]
        os.makedirs(ctx.cache, exist_ok=True)
        ref[TRIPLE_COLS].to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
    return convs, _as_set(ref[TRIPLE_COLS].itertuples(index=False, name=None))


def check_pr(ctx: Ctx, triples, convs: list[str], want: set, what: str) -> bool:
    """Triple-set precision and recall >= 0.95 on the checked conversations."""
    from pyspark.sql import functions as F

    checked = F.col("conv_id").isin(convs) | (
        (F.col("conv_id") == HOT_CONV) & (F.col("window_start") < HOT_PREFIX - WINDOW)
    )
    got = _as_set(ctx.output(triples).filter(checked).select(*TRIPLE_COLS).collect())
    hit = len(got & want)
    p = hit / len(got) if got else 0.0
    r = hit / len(want) if want else 0.0
    return ctx.record(p >= MIN_PR and r >= MIN_PR, f"{what}: precision {p:.4f} recall {r:.4f}")


def force(df) -> None:
    """Materialize every row without collecting to this process."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ workloads


class Workload:
    """Common shape: ``prepare`` makes inputs (untimed), ``warm_up`` is the
    process's first call (timed, reported in setup_s), ``step`` is one
    timed operation with its checks, ``oneshot_s`` is a warm one-shot
    ``run_pipeline`` wall on the same corpus (the tracing baseline)."""

    parts = 1
    jobs: JobCounter | None = None  # set to count the jobs of each step

    def __init__(self, ctx: Ctx):
        from reach_banner_spark import schemas
        from reach_banner_spark.fixtures import ensure_model, make_lexicon

        self.ctx = ctx
        self.spark = ctx.spark
        self.lexicon_pdf = make_lexicon()
        self.lexicon = self.spark.createDataFrame(self.lexicon_pdf, schema=schemas.LEXICON)
        self.model_path = ensure_model()

    def prepare(self) -> None:
        self.corpus = make_corpus(self.ctx, self.lexicon_pdf, self.parts)
        self.convs, self.want = reference_set(self.ctx, self.corpus, self.lexicon_pdf)

    def turns(self):
        return self.spark.read.parquet(self.corpus.path)

    def pipeline(self):
        from reach_banner_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.turns(), self.lexicon, self.model_path, window_turns=WINDOW)

    def check(self, triples, what: str) -> bool:
        return check_pr(self.ctx, triples, self.convs, self.want, what)

    def mark(self) -> int | None:
        """Job watermark around a step's operation (outside its timing)."""
        return self.jobs.mark() if self.jobs else None

    def oneshot_s(self, samples: list[dict]) -> float:
        t0 = time.perf_counter()
        force(self.pipeline())
        return time.perf_counter() - t0


class KgBatch(Workload):
    """One-shot run_pipeline on the corpus with one hot conversation."""

    def warm_up(self) -> None:
        force(self.pipeline())

    def step(self) -> dict:
        lo = self.mark()
        c0 = cpu_jiffies()
        t0 = time.perf_counter()
        triples = self.pipeline()
        force(triples)
        wall = time.perf_counter() - t0
        cpu = busy_s(c0, cpu_jiffies())
        self.op_jobs = (lo, self.mark())
        self.check(triples, "run_pipeline triples vs reference")
        return {"op_s": wall, "cpu_s": cpu}

    def end_to_end(self, samples: list[dict]) -> dict:
        op = median(s["op_s"] for s in samples)
        return {"turns_per_s": self.corpus.n_turns / op, "step_p50_s": op}

    def oneshot_s(self, samples: list[dict]) -> float:
        return median(s["op_s"] for s in samples)


class KgStream(Workload):
    """stream_kg over the corpus split in ts order into micro-batch files;
    its triple set must equal one-shot run_pipeline on the same turns."""

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        from harness import make_progress_listener

        self.parts = ctx.sizes.stream_files
        self.listener = make_progress_listener()
        self.spark.streams.addListener(self.listener)

    def warm_up(self) -> None:
        # the one-shot twin doubles as the stream's correctness reference
        triples = self.pipeline()
        force(triples)
        self.check(triples, "one-shot twin vs reference")
        self.twin_fp = fingerprint(triples)

    def step(self) -> dict:
        from reach_banner_spark.streaming.ops import stream_kg

        self.listener.take(timeout_s=0)
        lo = self.mark()
        c0 = cpu_jiffies()
        t0 = time.perf_counter()
        out = stream_kg(self.spark, "", staged_dir=self.corpus.path)
        out.count()
        wall = time.perf_counter() - t0
        cpu = busy_s(c0, cpu_jiffies())
        self.op_jobs = (lo, self.mark())
        batches = self.listener.take()
        self.ctx.record(
            fingerprint(self.ctx.output(out)) == self.twin_fp,
            "stream_kg triple set != one-shot run_pipeline",
        )
        self.ctx.record(
            len(batches) == self.parts, f"{len(batches)} micro-batches, want {self.parts}"
        )
        return {
            "stream_s": wall,
            "cpu_s": cpu,
            "batch_s": [b["duration_ms"]["triggerExecution"] / 1e3 for b in batches],
        }

    def end_to_end(self, samples: list[dict]) -> dict:
        stream = median(s["stream_s"] for s in samples)
        batch_p50 = median(b for s in samples for b in s["batch_s"])
        self.ctx.info["microbatch_p50_s"] = batch_p50
        return {"turns_per_s": self.corpus.n_turns / stream, "step_p50_s": batch_p50}

    def oneshot_s(self, samples: list[dict]) -> float:
        one = super().oneshot_s(samples)
        stream = median(s["stream_s"] for s in samples)
        n = median(len(s["batch_s"]) for s in samples)
        self.ctx.info["streaming.batch_fixed_s"] = (stream - one) / n
        return one


CLASSES = {"kg_batch": KgBatch, "kg_stream": KgStream}


# ------------------------------------------------------ traced legs


def checkpoint_legs(w: Workload) -> tuple[float, float]:
    """A cold run_pipeline_checkpointed on the workload's corpus, then the
    triples stage wiped and resumed: the cold leg writes four stage
    tables, the resume leg reads three and recomputes only triples.
    Returns (cold_s, resume_s)."""
    from reach_banner_spark.plans.checkpoint import run_pipeline_checkpointed

    ctx = w.ctx
    root = os.path.join(ctx.work, "ckpt")

    def leg(name: str):
        t0 = time.perf_counter()
        with ctx.tracer.span(name):
            triples, cp = run_pipeline_checkpointed(
                w.spark, w.turns(), w.lexicon, w.model_path, root, window_turns=WINDOW
            )
            force(triples)
        return triples, cp, time.perf_counter() - t0

    shutil.rmtree(root, ignore_errors=True)
    try:
        cold, cp, cold_s = leg("checkpoint.cold")
        ctx.record(cp.stages_run == STAGES, f"cold stages_run {cp.stages_run}")
        w.check(cold, "cold checkpointed triples vs reference")
        cold_fp = fingerprint(cold)
        shutil.rmtree(os.path.join(root, "triples"))
        resumed, cp, resume_s = leg("checkpoint.resume")
        ctx.record(
            cp.stages_run == ["triples"] and cp.stages_resumed == STAGES[:3],
            f"resume stages_run {cp.stages_run} resumed {cp.stages_resumed}",
        )
        ctx.record(fingerprint(ctx.output(resumed)) == cold_fp, "resumed triples != cold triples")
        return cold_s, resume_s
    finally:
        shutil.rmtree(root, ignore_errors=True)


def replay(w: Workload) -> dict:
    """The pipeline on the workload's corpus with every layer materialized
    on its own, inside a span, and the triples written as a graph table and
    read back. Returns the layer counts; the durations live in the
    tracer."""
    from pyspark.sql import functions as F

    from reach_banner_spark.operators.linking import link_mentions
    from reach_banner_spark.operators.mentions import detect_mentions, paren_balanced
    from reach_banner_spark.operators.triples import assemble_triples
    from reach_banner_spark.plans.pipeline import (
        apply_canonical,
        canonical_rep_map,
        salt_repartition,
    )
    from reach_banner_spark.sources import tables

    ctx, spark, T = w.ctx, w.spark, w.ctx.tracer
    root = os.path.join(ctx.work, "replay")
    shutil.rmtree(root, ignore_errors=True)
    cached = []

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df, df.count()

    try:
        with T.span("replay", workload=ctx.workload):
            with T.span("sources.scan"):
                turns, _ = keep(spark.read.parquet(w.corpus.path))
            with T.span("mentions"):
                mentions, n_mentions = keep(
                    detect_mentions(
                        salt_repartition(turns.select("conv_id", "turn_idx", "text")),
                        w.model_path,
                    ).filter(paren_balanced("surface"))
                )
            with T.span("linking"):
                linked, n_linked = keep(link_mentions(mentions, w.lexicon))
            with T.span("canonicalize"):
                with T.span("canonicalize.rep_map"):
                    rep = canonical_rep_map(spark, w.lexicon)
                    if rep is not None:
                        rep, _ = keep(rep)
                canon, _ = keep(apply_canonical(linked, rep))
            with T.span("triples"):
                triples, n_triples = keep(assemble_triples(canon, turns, window_turns=WINDOW))
            with T.span("tables.write"):
                tables.write_graph_table(triples, root)
            with T.span("tables.read"):
                force(tables.read_graph_table(spark, root))
        n_hits = linked.filter(F.col("entity_id").isNotNull()).count()
        w.check(triples, "traced replay triples vs reference")
        return {
            "mentions": n_mentions,
            "linked": n_linked,
            "hits": n_hits,
            "triples": n_triples,
            "table_bytes": dir_bytes(root),
        }
    finally:
        for df in cached:
            df.unpersist()
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------- run


def step(w: Workload) -> dict:
    """One timed operation; one that raises counts as a failed attempt and
    is retried until one succeeds (a run that never succeeds gives up)."""
    for _ in range(3):
        try:
            return w.step()
        except Exception:
            traceback.print_exc()
            w.ctx.record(False, "operation raised")
    raise RuntimeError(f"{w.ctx.workload}: three operations in a row raised")


def run(ctx: Ctx, session_s: float, rss) -> dict:
    """Run ``ctx.workload``; returns its metrics and fills
    ctx.attempted/failed/info. Untraced: timed operations for
    ``ctx.seconds`` and the end-to-end metrics. Traced: one untraced
    operation (for Spark job/task counts), the one-shot baseline, the
    checkpoint legs and one traced replay, giving the per-layer metrics."""
    w = CLASSES[ctx.workload](ctx)
    w.prepare()
    ctx.info.update(turns=w.corpus.n_turns, input_bytes=w.corpus.n_bytes)
    t0 = time.perf_counter()
    w.warm_up()
    warm_up_s = time.perf_counter() - t0
    ctx.info["warm_up_s"] = warm_up_s

    if not ctx.tracer.enabled:
        samples = []
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < ctx.seconds:
            samples.append(step(w))
        ctx.info["samples"] = samples
        return {
            "setup_s": session_s + warm_up_s,
            **w.end_to_end(samples),
            "peak_rss_mb": rss.peak_mb(),
        }

    w.jobs = JobCounter(ctx.spark)
    samples = [step(w)]
    n_jobs, n_tasks = w.jobs.count(*w.op_jobs)
    w.end_to_end(samples)
    oneshot = w.oneshot_s(samples)
    cold_s, resume_s = checkpoint_legs(w)

    t0 = time.perf_counter()
    c = replay(w)
    replay_s = time.perf_counter() - t0
    dur = ctx.tracer.durations()
    ctx.info["self_s"] = ctx.tracer.self_times()
    return {
        "session.start_s": session_s,
        "sources.scan_s": dur["sources.scan"],
        "mentions.busy_s": dur["mentions"],
        "mentions.turns_per_s": w.corpus.n_turns / dur["mentions"],
        "mentions.rows": c["mentions"],
        "linking.busy_s": dur["linking"],
        "linking.hit_frac": c["hits"] / max(c["mentions"], 1),
        "linking.rows": c["linked"],
        "canonicalize.busy_s": dur["canonicalize"],
        "canonicalize.rep_map_s": dur["canonicalize.rep_map"],
        "triples.busy_s": dur["triples"],
        "triples.rows": c["triples"],
        "triples.per_mention": c["triples"] / max(c["mentions"], 1),
        "tables.write_s": dur["tables.write"],
        "tables.read_s": dur["tables.read"],
        "tables.bytes_per_input_byte": c["table_bytes"] / w.corpus.n_bytes,
        "checkpoint.cold_s": cold_s,
        "checkpoint.resume_s": resume_s,
        "checkpoint.cold_vs_oneshot_ratio": cold_s / oneshot,
        "streaming.batches": len(samples[0].get("batch_s", [])),
        "spark.jobs": n_jobs,
        "spark.tasks": n_tasks,
        "op.cpu_s": samples[0]["cpu_s"],
        # the replay's own table round trips are not tracing cost
        "trace.overhead_s": replay_s - dur["tables.write"] - dur["tables.read"] - oneshot,
    }
