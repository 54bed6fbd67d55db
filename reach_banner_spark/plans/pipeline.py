"""The end-to-end KG-construction pipeline (SURVEY.md §3.2 L1).

Stage shape of ``run_pipeline`` (dimension-scale lexicon, <= ``LEX_GATE``
rows) — ``triples.block_triples``:

    turns -> ONE exchange: repartition(n, conv_id, turn block) at explicit
             width, each turn also copied into the earlier block whose
             subjects can reach it (halo), sorted within partitions
          -> ONE mapInPandas per (conv_id, block) group: CRF mentions
             (P2-P11) -> parenthesis filter (P12) -> exact + LSH-fuzzy
             linking (G1/G2) -> component representative (G3), against a
             broadcast (model, lexicon index) built once per call in the
             application process -> vectorized window pairing (G4) with
             role and tool already on the row; each block emits only the
             triples whose subject turn it owns

There is no cache, join or distinct between turns and triples: every
linking and canonicalization decision is a function of the mention
surface and the static lexicon, so it folds into the mention batch, and
the halo puts every turn a subject can pair with into the subject's
block. Above the lexicon gate the alias graph needs the distributed
operators, and the pipeline runs the composition ``detect_mentions ->
link_mentions -> canonicalize`` over one mention cache, then
``assemble_triples``. ``run_pipeline_checkpointed`` (plans/checkpoint.py)
keeps that four-stage composition: its stage tables are the resume
points. Below the gate its linking is the same ``LexiconIndex.link`` the
block pass runs (one mapInPandas, no shuffle), and its canonicalization
is the same ``canonical_reps_pandas``; ``linking.local_lexicon`` decides
the side of the gate for every operator, at call time. ``run_pipeline``
and ``stream_kg`` decide it once, in ``fused_broadcast``; above the gate
they call the distributed bodies (``link_mentions_distributed``,
``canonical_rep_map_distributed``) directly.

Skew note (G5): transcript corpora have hot conversations (one conv with
1000x the median turns). The block key (conv_id, turn_idx // BLOCK)
splits a hot conversation into blocks of ``BLOCK`` turns spread over the
partitions, so the CRF, the dominant cost, is balanced per block, and the
pairing never leaves the block. The above-gate composition instead salts
the mention stage on hash(conv_id, turn_idx) (``salt_repartition``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import persist_swap
from ..operators.components import connected_components
from ..operators.linking import (
    canonical_reps_pandas,
    entity_edges,
    link_mentions_distributed,
    local_lexicon,
)
from ..operators.mentions import detect_mentions, fused_broadcast, paren_balanced
from ..operators.triples import assemble_triples, block_triples


def salt_repartition(turns: DataFrame) -> DataFrame:
    """Deterministic skew-busting repartition on hash(conv_id, turn_idx)
    into ``spark.sql.shuffle.partitions`` partitions.

    Salt is derived from turn_idx (not rand()) so a resumed run reproduces
    identical partitions (SURVEY.md §7 hard part #2). The count is
    EXPLICIT because the shuffle is byte-wise tiny (the turn text, ~1 MB
    at bench scale): without it AQE coalesces the salt shuffle into ONE
    partition whenever a second shuffle follows, and the CRF stage behind
    it runs as a single task (fanout.py documents the same single-split
    hazard for scans).
    """
    n = int(turns.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    key = F.pmod(F.hash(F.col("conv_id"), F.col("turn_idx")), F.lit(1 << 20))
    return turns.repartition(n, key)


def canonicalize(linked: DataFrame, lexicon: DataFrame) -> DataFrame:
    """Replace each mention's (entity_id, canonical) with its connected-
    component representative (min entity_id in the similarity component).

    Size-adaptive: the similarity graph lives on the *lexicon* (a dimension
    table), so it is usually tiny relative to the fact side. Up to
    ``LEX_GATE`` lexicon rows we run union-find on the driver (identical
    output, zero shuffle rounds) and only go to the distributed
    min-label-propagation loop for genuinely large alias graphs — the same
    decision a planner makes between broadcast and shuffle joins.
    """
    return apply_canonical(linked, canonical_rep_map(linked.sparkSession, lexicon))


def canonical_rep_map(spark, lexicon: DataFrame) -> DataFrame | None:
    """The entity_id -> (rep_id, rep_canonical) mapping ``canonicalize``
    applies — a pure function of the LEXICON, so a caller with a static
    lexicon can derive it once and ``apply_canonical`` it many times.
    Returns None when the lexicon has no similarity edges
    (canonicalization is then the identity)."""
    # ONE size-gate job: the fetch both decides the path and, on the
    # driver path, already holds the rows
    lex_pdf = local_lexicon(lexicon)
    if lex_pdf is not None:
        # dimension-scale lexicon: similarity graph, components and the
        # representative's canonical all computed locally (same shared
        # band/jaccard/union-find code as the distributed twins) — avoids
        # ~6 tiny Spark jobs whose fixed scheduling cost would dominate
        rep_pdf = canonical_reps_pandas(lex_pdf)
        return None if rep_pdf is None else spark.createDataFrame(rep_pdf)
    return canonical_rep_map_distributed(lexicon)


def canonical_rep_map_distributed(lexicon: DataFrame) -> DataFrame:
    """``canonical_rep_map`` above ``LEX_GATE``, for a caller that has
    already taken the gate: distributed components over
    ``entity_edges``, each joined to its representative's canonical."""
    comp = connected_components(entity_edges(lexicon))
    id2canon = (
        lexicon.select("entity_id", "canonical")
        .groupBy("entity_id")
        .agg(F.min("canonical").alias("rep_canonical"))
    )
    return (
        comp.join(id2canon, comp["comp"] == id2canon["entity_id"])
        .select(
            F.col("node").alias("entity_id"),
            F.col("comp").alias("rep_id"),
            "rep_canonical",
        )
    )


def apply_canonical(linked: DataFrame, rep: DataFrame | None) -> DataFrame:
    """Apply a ``canonical_rep_map`` to linked mentions (identity when
    the map is None — no similarity edges)."""
    if rep is None:
        return linked
    return (
        linked.join(F.broadcast(rep), "entity_id", "left")
        .withColumn("entity_id", F.coalesce("rep_id", "entity_id"))
        .withColumn("canonical", F.coalesce("rep_canonical", "canonical"))
        .drop("rep_id", "rep_canonical")
    )


def run_pipeline(
    turns: DataFrame,
    lexicon: DataFrame,
    model_path: str,
    window_turns: int = 2,
) -> DataFrame:
    """turns + lexicon -> triples DataFrame (no side effects)."""
    bc = fused_broadcast(turns.sparkSession, lexicon, model_path)
    if bc is not None:
        return block_triples(turns, bc, window_turns=window_turns)
    # large lexicon: linking fans the mention table into three branches
    # (exact, fuzzy, candidate bands) inside one action, so the CRF output
    # is persisted AND materialized first — a lazy cache would let every
    # branch recompute the Arrow UDF. Pruned before the salt shuffle,
    # which would otherwise move role/tool/ts bytes the CRF never reads.
    # ``fused_broadcast`` has already taken the gate, so the distributed
    # linking and representative bodies run without fetching it again.
    salted = salt_repartition(turns.select("conv_id", "turn_idx", "text"))
    mentions = persist_swap(
        detect_mentions(salted, model_path).filter(paren_balanced("surface"))
    )
    linked = apply_canonical(
        link_mentions_distributed(mentions, lexicon),
        canonical_rep_map_distributed(lexicon),
    )
    return assemble_triples(linked, turns, window_turns=window_turns)
