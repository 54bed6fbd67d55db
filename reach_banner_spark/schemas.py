"""Fixed StructType schemas for every engine table (SURVEY.md §1.2).

The reference's data model is an in-heap Java object graph (one
``banner.types.Sentence`` at a time, with ``Token``/``Mention`` children
[P ``banner.types.*``]); the engine re-expresses it as fixed columnar
schemas — nothing is schema-inferred at runtime.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input transcript turns (exact input_hint shape, BASELINE.json:15).
TURNS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Detected mentions (reference analogue: banner.types.Mention — sentence
# ref + token span + entity type; we add char offsets, surface, score and
# per-partition lineage for resumability).
MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("begin_tok", T.IntegerType(), False),
        T.StructField("end_tok", T.IntegerType(), False),
        T.StructField("begin_char", T.IntegerType(), False),
        T.StructField("end_char", T.IntegerType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
    ]
)

# Linked, canonicalized mentions: the fused mention pass's output
# (null entity_id/canonical where no lexicon alias matches).
LINKED_MENTIONS = T.StructType(
    MENTIONS.fields
    + [
        T.StructField("entity_id", T.LongType(), True),
        T.StructField("canonical", T.StringType(), True),
    ]
)

# Entity dictionary / lexicon (banner.tagging.dictionary.DictionaryTagger's
# term -> type map, extended with canonical ids for linking).
LEXICON = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("canonical", T.StringType(), False),
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("entity_type", T.StringType(), False),
    ]
)

# Similarity edges between entity ids (input to connected components).
EDGES = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("sim", T.DoubleType(), True),
    ]
)

# Canonicalized entities.
ENTITIES = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("canonical", T.StringType(), False),
        T.StructField("aliases", T.ArrayType(T.StringType()), True),
    ]
)

# Output graph triples.
TRIPLES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("window_start", T.IntegerType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ]
)

# Per-stage, per-partition checkpoint rows (lineage + counters).
CHECKPOINTS = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("sha", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Multimodal asset table (binary payload + typed metadata; SURVEY.md / brief).
ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

# events.props JSON object schema (verified by sampling sf0.001: '{"k": 87}').
EVENT_PROPS = T.StructType([T.StructField("k", T.IntegerType(), True)])
