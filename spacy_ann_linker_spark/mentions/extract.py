"""Mention extraction from transcript text.

The reference receives mentions from an upstream spaCy NER/EntityRuler
(`doc.ents`, ann_linker.py:17-21,76-77; tests build an EntityRuler with
verbatim string patterns, tests/test_ann_linker.py:7-13). This module is that
upstream stage for transcripts: a dictionary (gazetteer) matcher.

Semantics mirror EntityRuler's verbatim phrase match: case-sensitive,
word-boundary-anchored, leftmost-longest, non-overlapping. F8-F10/C7: char
start/end offsets into the raw turn text; spans are re-derivable via
text[start:end] == mention (the reference's char_span validity filter,
api/app.py:64-66).

One extractor, `extract_mentions_gazetteer`, serves every caller: the
batch CLI/pipeline path and the foreachBatch streams. It is a
tokenize->join gazetteer with NO driver-side pattern list: turns explode
into word-run tokens with char offsets; tokens join the alias table on the
alias's first word; full-alias verification, word-boundary checks and the
greedy leftmost-longest fold are JVM expressions. Cost is one join on
first-word plus one per-turn groupBy — linear in corpus size, independent
of how the alias table is stored. An alias with no word character (e.g.
"++") has no first word to join on and is never matched.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Python's str \w (str.isalnum() or "_") as a Java regex class, for the
# gazetteer's JVM side. Java's \w is ASCII-only, so an alias like "Zürich"
# never joined; (?U)\w is closer but still counts combining marks as word
# characters (Devanagari vowel signs, NFD accents) and misses non-decimal
# numerics ("½"). This class agrees with Python on every code point both
# runtimes' Unicode tables assign.
_JAVA_WORD = r"\p{L}\p{N}_"

_TOKEN_RUNS = T.ArrayType(
    T.StructType(
        [T.StructField("tok", T.StringType()), T.StructField("pos", T.IntegerType())]
    )
)


@F.pandas_udf(_TOKEN_RUNS)
def word_runs_udf(texts: pd.Series) -> pd.Series:
    """(token, char offset) for every \\w+ run — the only Python step of the
    join gazetteer (offset-preserving tokenization)."""
    rx = re.compile(r"\w+")
    return texts.map(
        lambda t: [{"tok": m.group(0), "pos": m.start()} for m in rx.finditer(t or "")]
    )


def extract_mentions_gazetteer(
    turns: DataFrame,
    aliases_df: DataFrame,
    label: str | None = None,
    broadcast_aliases: bool = True,
    salt_buckets: int = 0,
) -> DataFrame:
    """Distributed gazetteer: turns (TRANSCRIPT_SCHEMA) x aliases_df(alias)
    -> mentions (MENTION_SCHEMA), with NO pattern list on the driver.

    Plan: tokenize turns into word runs with offsets (one pandas UDF) ->
    join tokens against each alias's FIRST word run (broadcast by default;
    drop the hint and the shuffle join handles alias tables of any size) ->
    verify the full alias via JVM substring equality + word-boundary checks
    -> greedy leftmost-longest fold per turn as a JVM `aggregate` over the
    sorted match array.

    Word characters are Python's \\w on both sides: the tokenizer runs in
    Python and the JVM patterns use the same class (`_JAVA_WORD`). An alias
    with no word character (e.g. "++") has no first word to join on and is
    dropped.

    salt_buckets (only with broadcast_aliases=False): a hot first word
    shared by many aliases ("The ...") funnels every matching token to one
    reducer in the shuffle join; salt_buckets > 0 salts the token side
    deterministically and replicates aliases into every bucket — identical
    results (verified in tests), max reducer load / salt_buckets."""
    al = (
        aliases_df.select("alias")
        .distinct()
        .withColumn("_plen", F.length(F.regexp_extract("alias", f"^[^{_JAVA_WORD}]*", 0)))
        .withColumn("_k", F.regexp_extract("alias", f"[{_JAVA_WORD}]+", 0))
        .filter(F.col("_k") != "")
        .withColumn("_alen", F.length("alias"))
    )

    toks = turns.select(
        "conv_id",
        "turn_idx",
        "text",
        F.explode(word_runs_udf(F.col("text"))).alias("_t"),
    ).select(
        "conv_id",
        "turn_idx",
        "text",
        F.col("_t.tok").alias("_k"),
        F.col("_t.pos").alias("_pos"),
    )

    slice_ = F.expr("substring(text, _start + 1, _alen)")
    if broadcast_aliases:
        paired = toks.join(F.broadcast(al), "_k")
    elif salt_buckets > 0:
        from spacy_ann_linker_spark.operators.salted import salted_join

        paired = salted_join(toks, al, key="_k", salt_buckets=salt_buckets)
    else:
        paired = toks.join(al, "_k")
    cands = (
        paired.withColumn("_start", F.col("_pos") - F.col("_plen"))
        .filter(F.col("_start") >= 0)
        .filter(slice_ == F.col("alias"))
        .withColumn("_end", F.col("_start") + F.col("_alen"))
        # word boundaries: char before start / after end must not be \w
        .filter(
            (F.col("_start") == 0)
            | ~F.expr("substring(text, _start, 1)").rlike(f"[{_JAVA_WORD}]")
        )
        .filter(
            (F.col("_end") >= F.length("text"))
            | ~F.expr("substring(text, _end + 1, 1)").rlike(f"[{_JAVA_WORD}]")
        )
    )

    m = cands.select(
        "conv_id",
        "turn_idx",
        F.struct(
            F.col("_start").alias("start"),
            (-F.col("_alen")).alias("neglen"),
            F.col("_end").alias("end"),
            slice_.alias("text"),
        ).alias("m"),
    )
    # greedy leftmost-longest: fold the (start asc, len desc)-sorted match
    # array — select iff start >= end of the previous selection
    acc0 = F.struct(
        F.lit(0).alias("cur"),
        F.array().cast(
            "array<struct<start:int,neglen:int,end:int,text:string>>"
        ).alias("sel"),
    )
    sel = (
        m.groupBy("conv_id", "turn_idx")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .select(
            "conv_id",
            "turn_idx",
            F.explode(
                F.aggregate(
                    "ms",
                    acc0,
                    lambda acc, x: F.when(
                        x["start"] >= acc["cur"],
                        F.struct(
                            x["end"].alias("cur"),
                            F.array_append(acc["sel"], x).alias("sel"),
                        ),
                    ).otherwise(acc),
                    lambda acc: acc["sel"],
                )
            ).alias("_s"),
        )
    )
    return sel.select(
        "conv_id",
        "turn_idx",
        F.xxhash64("conv_id", "turn_idx", F.col("_s.start")).alias("mention_id"),
        F.col("_s.text").alias("text"),
        F.col("_s.start").alias("start"),
        F.col("_s.end").alias("end"),
        F.lit(label).cast("string").alias("label"),
    )


def validate_spans(mentions: DataFrame, turns: DataFrame) -> DataFrame:
    """F10 span-reconstruction filter: keep mentions whose offsets slice the
    turn text back to the mention string (api/app.py:64-66)."""
    joined = mentions.join(
        turns.select("conv_id", "turn_idx", F.col("text").alias("_turn_text")),
        ["conv_id", "turn_idx"],
    )
    return joined.filter(
        F.expr("substring(_turn_text, start + 1, end - start)") == F.col("text")
    ).drop("_turn_text")
