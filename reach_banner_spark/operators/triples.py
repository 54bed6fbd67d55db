"""(subj, pred, obj) triple assembly per conversation window (G4).

No BANNER counterpart — this stage comes from the graft spec
[V BASELINE.json:6]: linked mentions are paired within a sliding window of
``window_turns`` turns inside each conversation, ordered by (turn_idx,
begin_char), and the predicate is chosen by a role/tool-aware rule table
over the *object* turn.

Rule table (deterministic, shared verbatim by the pandas golden twin):

  same turn                         -> co_mentioned
  obj turn role=assistant, tool!='' -> derived_via_<tool>
  obj turn role=assistant           -> answered_with
  obj turn role=user                -> asked_about
  obj turn role=tool                -> observed_with
  otherwise                         -> followed_by

Two implementations:

- ``block_triples`` — turn to triple in ONE mapInPandas, what
  ``run_pipeline`` and ``stream_kg`` run below the lexicon gate. One
  exchange on (conv_id, turn block): each turn lands in its own block of
  ``BLOCK`` turns and, as a halo, in the earlier blocks whose subject
  turns can reach it. Per block that owns a turn (``chunk_triples``),
  ``mentions.link_rows`` recognizes and links, then ``pair_mentions``
  pairs with role and tool already on the row, keeping only triples whose
  subject turn the block owns — so no triple comes from two blocks and no
  distinct runs across partitions.
  Blocks split a hot conversation across tasks.
- ``assemble_triples`` — a Spark self-join over a linked-mention table
  (pure ``when()`` predicate, whole-stage codegen, no Python), for the
  callers that hold such a table: the above-gate ``run_pipeline`` and
  ``stream_kg``, ``run_pipeline_checkpointed``'s ``triples`` stage, the
  dictionary-mention streams (``stream_triples``, ``stream_growth``) and
  the benchmark's layer replay. It shuffles once on (conv_id, turn_idx)
  and deduplicates with ``distinct()``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas

# turns per block of ``block_triples``: small enough to split a hot
# conversation over the tasks and bound the rows carried across Arrow
# batches, large enough that the halo (window_turns extra turns per
# block) stays a small share of the CRF work. Output does not depend on it.
BLOCK = 64


def _pred_tail_expr(role_col, tool_col):
    """The predicate rule table MINUS the same-turn branch — everything
    that depends only on the object turn's (role, tool), so it can be
    evaluated at the mention grain before the window explode; the
    same-turn override is applied after the pair join."""
    return (
        F.when(
            (role_col == "assistant") & (tool_col.isNotNull()) & (tool_col != ""),
            F.concat(F.lit("derived_via_"), tool_col),
        )
        .when(role_col == "assistant", F.lit("answered_with"))
        .when(role_col == "user", F.lit("asked_about"))
        .when(role_col == "tool", F.lit("observed_with"))
        .otherwise(F.lit("followed_by"))
    )


def assemble_triples(
    linked_mentions: DataFrame,
    turns: DataFrame,
    window_turns: int = 2,
    obj_mentions: DataFrame | None = None,
) -> DataFrame:
    """linked mentions (with ``canonical``) + turns -> TRIPLES DataFrame.

    ``obj_mentions`` (optional) restricts the OBJECT side of the pairing
    to a subset of the mentions (same required columns). The incremental
    streaming twin (``stream_triples``) passes only the new micro-batch's
    mentions here while the subject side sees batch + tail: since turns
    arrive in order, every triple's object turn is >= its subject turn,
    so object-in-new-batch captures exactly the triples the batch did not
    emit before."""
    # ONE exchange keyed (conv_id, turn_idx) serves the mention dedup, the
    # object side's turn-meta join AND the subject side of the pair join:
    # HashPartitioning on (conv_id, turn_idx) is a subset of every one of
    # those keys, so no further exchange is required (guide §2.4 — two
    # operations keyed the same way share one exchange).
    m = (
        linked_mentions.filter(F.col("canonical").isNotNull())
        .select("conv_id", "turn_idx", "begin_char", "canonical")
        .repartition("conv_id", "turn_idx")
        .distinct()
    )
    if obj_mentions is None:
        # batch path: subject and object sides consume the SAME mention
        # table — materialize it once (the lazy plan re-derived the whole
        # upstream mention subtree per side: two scans, two dict joins,
        # two distincts at sf1.0). persist (not localCheckpoint): the
        # in-memory scan keeps the (conv_id, turn_idx) outputPartitioning,
        # so neither side re-shuffles; a checkpointed RDD reports
        # UnknownPartitioning and both sides would pay a fresh exchange.
        from ..caching import persist_swap

        m = persist_swap(m)
        mb = m
    else:
        mb = (
            obj_mentions.filter(F.col("canonical").isNotNull())
            .select("conv_id", "turn_idx", "begin_char", "canonical")
            .repartition("conv_id", "turn_idx")
            .distinct()
        )
    turn_meta = turns.select("conv_id", "turn_idx", "role", "tool")

    a = m.select(
        "conv_id",
        F.col("turn_idx").alias("t1"),
        F.col("begin_char").alias("c1"),
        F.col("canonical").alias("subj"),
    )
    # The predicate depends only on the OBJECT turn's (role, tool) plus
    # the same-turn test — attach role/tool at the MENTION grain, before
    # the window explode and pair join (the old plan shuffled the full
    # pair table by (conv_id, t2) to meet turn_meta; guide §2.3/§8:
    # decide with small rows). turns is the fact table — never
    # broadcastable; the shuffled-hash hint pins a shuffle-side path so
    # size misestimates can't pull it through the driver. The mention
    # side is already partitioned by (conv_id, turn_idx), so only
    # turn_meta pays an exchange here.
    b = (
        mb.select(
            "conv_id",
            F.col("turn_idx").alias("t2"),
            F.col("begin_char").alias("c2"),
            F.col("canonical").alias("obj"),
        )
        .join(
            turn_meta.withColumnRenamed("turn_idx", "t2").hint("shuffle_hash"),
            ["conv_id", "t2"],
            "left",
        )
        .withColumn("pred_tail", _pred_tail_expr(F.col("role"), F.col("tool")))
        .drop("role", "tool")
    )
    # Equi-join on (conv_id, t1): each object mention is exploded to the
    # window_turns+1 subject turns that may pair with it. A plain join on
    # conv_id alone would be a within-conversation cartesian product —
    # O(mentions_per_conv^2) intermediate rows, catastrophic for hot
    # conversations; including the turn in the key both bounds the join
    # fan-out and spreads hot conv_ids across partitions.
    b_exp = b.withColumn(
        "t1",
        F.explode(
            F.array(*[F.col("t2") - F.lit(d) for d in range(window_turns + 1)])
        ),
    )
    # shuffled-hash beats sort-merge here (~30% at 2 and 8 cores pinned):
    # the pair table is consumed once, so SMJ's sorted output buys nothing
    # and its two big sorts dominate; hash build side = the exploded
    # mentions, bounded per partition by the (conv_id, turn) key spread
    pairs = a.join(b_exp.hint("shuffle_hash"), ["conv_id", "t1"]).filter(
        (
            (F.col("t1") < F.col("t2"))
            | ((F.col("t1") == F.col("t2")) & (F.col("c1") < F.col("c2")))
        )
        & (F.col("subj") != F.col("obj"))
    )
    # The distinct's grouping keys contain the pair join's keys
    # (conv_id, t1), so the join's HashPartitioning already satisfies the
    # aggregation's required distribution — the pair-grain dedup runs
    # with ZERO additional exchange (the old plan paid a full exchange of
    # the distinct triple set). The int cast happens after the dedup so
    # the t1 attribute stays recognizable to the planner (turn_idx is
    # already int, so the cast is a no-op on values).
    return (
        pairs.select(
            "conv_id",
            "t1",
            "subj",
            F.when(F.col("t1") == F.col("t2"), F.lit("co_mentioned"))
            .otherwise(F.col("pred_tail"))
            .alias("pred"),
            "obj",
        )
        .distinct()
        .select(
            "conv_id",
            F.col("t1").cast("int").alias("window_start"),
            "subj",
            "pred",
            "obj",
        )
    )


def _pred_tail_np(role: pd.Series, tool: pd.Series) -> np.ndarray:
    """numpy twin of ``_pred_tail_expr`` over object-turn (role, tool)."""
    is_role = {
        r: role.eq(r).to_numpy(dtype=bool, na_value=False)
        for r in ("assistant", "user", "tool")
    }
    has_tool = (tool.notna() & tool.ne("")).to_numpy(dtype=bool, na_value=False)
    out = np.full(len(role), "followed_by", dtype=object)
    out[is_role["tool"]] = "observed_with"
    out[is_role["user"]] = "asked_about"
    out[is_role["assistant"]] = "answered_with"
    derived = is_role["assistant"] & has_tool
    out[derived] = ("derived_via_" + tool[derived]).to_numpy(dtype=object)
    return out


def pair_mentions(men: pd.DataFrame, window_turns: int) -> pd.DataFrame:
    """Vectorized window pairing over the linked mentions of whole
    (conv_id, blk) groups -> distinct TRIPLES rows.

    Columns: conv_id, blk, turn_idx, begin_char, canonical (null rows are
    dropped), role and tool of the mention's turn, ``own`` (the mention's
    turn is owned by its block, so it may be a subject) and, optionally,
    ``new`` (only such mentions may be objects: the stream's new turns).
    A subject pairs with the mentions of its group at turns t1 ..
    t1 + window_turns that come after it in (turn_idx, begin_char) order
    and name another entity; same semantics as ``assemble_triples``."""
    men = men[men["canonical"].notna()]
    if not len(men):
        return pd.DataFrame({f.name: pd.Series([], dtype=object) for f in schemas.TRIPLES})
    g = men.groupby(["conv_id", "blk"], sort=False).ngroup().to_numpy(dtype=np.int64)
    t = men["turn_idx"].to_numpy(dtype=np.int64)
    c = men["begin_char"].to_numpy(dtype=np.int64)
    order = np.lexsort((c, t, g))
    g, t, c = g[order], t[order], c[order]
    canon = men["canonical"].to_numpy(dtype=object)[order]
    # (group, turn) as one sorted int64 key: the window of row i ends
    # where the key passes key[i] + window_turns, within its own group
    t0 = t.min()
    key = g * (t.max() - t0 + window_turns + 1) + (t - t0)
    hi = np.searchsorted(key, key + window_turns, side="right")
    subj = np.flatnonzero(men["own"].to_numpy(dtype=bool)[order])
    cnt = hi[subj] - subj - 1
    ii = np.repeat(subj, cnt)
    jj = ii + 1 + np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    keep = ((t[jj] > t[ii]) | (c[jj] > c[ii])) & (canon[ii] != canon[jj])
    if "new" in men:
        keep &= men["new"].to_numpy(dtype=bool)[order][jj]
    ii, jj = ii[keep], jj[keep]
    obj = men.iloc[order[jj]].reset_index(drop=True)
    tail = _pred_tail_np(obj["role"], obj["tool"])
    return pd.DataFrame(
        {
            "conv_id": men["conv_id"].to_numpy(dtype=object)[order][ii],
            "window_start": t[ii].astype(np.int32),
            "subj": canon[ii],
            "pred": np.where(t[ii] == t[jj], "co_mentioned", tail),
            "obj": canon[jj],
        }
    ).drop_duplicates(ignore_index=True)


def whole_groups(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Re-cut batches sorted by (conv_id, blk) at group edges. Each batch
    is held until the next one arrives or the input ends, so a partition
    that arrives as one batch is one chunk. When the next batch continues
    the held batch's last group, only that group is carried into it
    (never a whole partition); every chunk holds whole groups and there
    are at most as many chunks as batches."""
    held = None
    for pdf in batches:
        if not len(pdf):
            continue
        if held is None:
            held = pdf
            continue
        conv, blk = held["conv_id"].to_numpy(), held["blk"].to_numpy()
        if pdf["conv_id"].iat[0] != conv[-1] or pdf["blk"].iat[0] != blk[-1]:
            yield held
            held = pdf
            continue
        cut = len(held) - int(((conv == conv[-1]) & (blk == blk[-1])).sum())
        if cut:
            yield held.iloc[:cut]
        held = pd.concat([held.iloc[cut:], pdf], ignore_index=True)
    if held is not None:
        yield held


def chunk_triples(rows: pd.DataFrame, model, index, window_turns: int) -> pd.DataFrame:
    """The per-chunk body of ``block_triples``: block rows of whole
    (conv_id, blk) groups, each group's rows contiguous as ``whole_groups``
    yields them -> TRIPLES rows.

    Groups that own no turn are dropped first: every triple's subject turn
    is owned by its group, so such a group (block -1 below a conversation
    that starts at turn 0, or a block that only halo turns reach across a
    gap) can emit nothing, and the CRF need not run on it. Then
    ``mentions.link_rows`` runs once per remaining row (halo copies
    included) and ``pair_mentions`` keeps the triples whose subject turn
    the block owns."""
    from .mentions import link_rows

    conv, blk = rows["conv_id"].to_numpy(), rows["blk"].to_numpy()
    first = np.ones(len(rows), dtype=bool)
    first[1:] = (conv[1:] != conv[:-1]) | (blk[1:] != blk[:-1])
    group = np.cumsum(first) - 1
    owns = np.bincount(group, weights=rows["own"].to_numpy(dtype=bool)) > 0
    rows = rows[owns[group]]
    men = link_rows(rows["text"], model, index)
    row = men["row"].to_numpy()
    meta = [c for c in rows.columns if c != "text"]
    return pair_mentions(
        pd.DataFrame(
            {c: rows[c].to_numpy()[row] for c in meta}
            | {
                "begin_char": men["begin_char"].to_numpy(),
                "canonical": men["canonical"].to_numpy(dtype=object),
            }
        ),
        window_turns,
    )


def block_triples(
    turns: DataFrame, bc, window_turns: int = 2, new_col: str | None = None
) -> DataFrame:
    """turns -> TRIPLES in ONE mapInPandas behind ONE exchange.

    Turn t goes to blocks floor((t - window_turns) / BLOCK) ..
    floor(t / BLOCK) (its own block last): every block then holds each
    turn its subjects can pair with, for any ``window_turns``. The
    exchange is ``repartition(n, conv_id, blk)`` at the explicit
    ``spark.sql.shuffle.partitions`` width (AQE may not fold it into one
    task), sorted within partitions so that ``whole_groups`` can cut the
    Arrow batches at group edges. Each chunk of whole groups goes through
    ``chunk_triples``. ``new_col`` names a boolean column: only mentions
    of rows with it set become objects (the stream's new turns; subjects
    may come from the tail). ``bc`` comes from ``mentions.fused_broadcast``. Assumes
    (conv_id, turn_idx) is a key of ``turns``, as ``assemble_triples``'s
    role join does."""
    from .mentions import _load_model_bytes

    n = int(turns.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    t = F.col("turn_idx")
    home = F.floor(t / F.lit(BLOCK))
    first = F.floor((t - F.lit(window_turns)) / F.lit(BLOCK))
    tag = [F.col(new_col).alias("new")] if new_col else []
    blocks = (
        turns.select(
            "conv_id",
            "turn_idx",
            "text",
            "role",
            "tool",
            *tag,
            F.explode(F.sequence(first, home)).alias("blk"),
        )
        .withColumn("own", F.col("blk") == home)
        .repartition(n, "conv_id", "blk")
        .sortWithinPartitions("conv_id", "blk")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blob, index = bc.value
        model = _load_model_bytes(blob)
        for rows in whole_groups(batches):
            out = chunk_triples(rows, model, index, window_turns)
            if len(out):
                yield out

    return blocks.mapInPandas(run, schema=schemas.TRIPLES)


def assemble_triples_pandas(
    mentions: pd.DataFrame, turns: pd.DataFrame, window_turns: int = 2
) -> pd.DataFrame:
    """Single-process twin of ``assemble_triples`` for the golden generator.

    ``mentions`` needs columns (conv_id, turn_idx, begin_char, canonical);
    ``turns`` needs (conv_id, turn_idx, role, tool).
    """
    m = (
        mentions.dropna(subset=["canonical"])[
            ["conv_id", "turn_idx", "begin_char", "canonical"]
        ]
        .drop_duplicates()
    )
    meta = turns.set_index(["conv_id", "turn_idx"])[["role", "tool"]]
    out = []
    for conv_id, grp in m.groupby("conv_id", sort=False):
        rows = grp.sort_values(["turn_idx", "begin_char"]).to_numpy()
        # columns: conv_id, turn_idx, begin_char, canonical
        for i in range(len(rows)):
            _, t1, c1, subj = rows[i]
            for j in range(len(rows)):
                _, t2, c2, obj = rows[j]
                if t2 < t1 or t2 > t1 + window_turns:
                    continue
                if not (t1 < t2 or (t1 == t2 and c1 < c2)):
                    continue
                if subj == obj:
                    continue
                role, tool = meta.loc[(conv_id, t2)] if (conv_id, t2) in meta.index else ("", "")
                if t1 == t2:
                    pred = "co_mentioned"
                elif role == "assistant" and tool:
                    pred = f"derived_via_{tool}"
                elif role == "assistant":
                    pred = "answered_with"
                elif role == "user":
                    pred = "asked_about"
                elif role == "tool":
                    pred = "observed_with"
                else:
                    pred = "followed_by"
                out.append((conv_id, int(t1), subj, pred, obj))
    df = pd.DataFrame(
        out, columns=["conv_id", "window_start", "subj", "pred", "obj"]
    ).drop_duplicates()
    return df.reset_index(drop=True)
