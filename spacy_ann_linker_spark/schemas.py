"""Explicit schemas (never inferred — reference validates via pydantic,
spacy_ann/types.py:7-18 and api/types.py:20-40; SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import types as T

# Entity record: README.md:81, cli/create_index.py:37-41
ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
    ]
)

# Alias record: README.md:96, cli/create_index.py:42-43
ALIAS_SCHEMA = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("entities", T.ArrayType(T.StringType()), False),
        T.StructField("probabilities", T.ArrayType(T.DoubleType()), True),
    ]
)

# Input table per BASELINE.json input_hint
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Mention = reference Doc/Span surface (ann_linker.py:43-44,76-77; api/types.py:20-26)
MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("mention_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), True),
    ]
)

VECTOR_TYPE = T.ArrayType(T.FloatType())
