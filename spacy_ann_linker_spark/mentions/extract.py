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

Two extractors, one output contract, one job each:

* `extract_mentions_gazetteer` — every caller that can aggregate: the batch
  CLI/pipeline path and the foreachBatch streams. A tokenize->join
  gazetteer with NO driver-side pattern list: turns explode into word-run
  tokens with char offsets; tokens join the alias table on the alias's
  first word; full-alias verification, word-boundary checks and the greedy
  leftmost-longest fold are JVM expressions. Cost is one join on first-word
  plus one per-turn groupBy — linear in corpus size, independent of how
  the alias table is stored.
* `extract_mentions` — the in-row matcher for unbounded streams
  (`link_stream`, `entity_counts_windowed`), where that per-turn groupBy
  fold is not allowed. An Aho-Corasick automaton (Aho & Corasick, CACM
  1975) scans each text once whatever the pattern count; the pattern list
  ships as one Spark broadcast per call and each python worker builds the
  automaton once per broadcast.

Both return the same spans except for aliases with no word character
(e.g. "++"): `extract_mentions` matches them, the gazetteer has no first
word to join on and drops them.
"""

from __future__ import annotations

import re
from collections import deque

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spacy_ann_linker_spark.schemas import SPAN_STRUCT

_WORD_RE = re.compile(r"\w")

# Python's str \w (str.isalnum() or "_") as a Java regex class, for the
# gazetteer's JVM side. Java's \w is ASCII-only, so an alias like "Zürich"
# never joined; (?U)\w is closer but still counts combining marks as word
# characters (Devanagari vowel signs, NFD accents) and misses non-decimal
# numerics ("½"). This class agrees with Python on every code point both
# runtimes' Unicode tables assign.
_JAVA_WORD = r"\p{L}\p{N}_"


class AhoCorasick:
    """Aho-Corasick multi-pattern automaton (public algorithm: Aho &
    Corasick, CACM 1975). goto/fail/output tables over dict transitions;
    `iter_matches` yields every raw occurrence (start, end) in one pass."""

    def __init__(self, patterns: list[str]):
        self.goto: list[dict] = [{}]
        self.out: list[tuple] = [()]
        for p in sorted({p for p in patterns if p}):
            s = 0
            for ch in p:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append(())
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s] = self.out[s] + (len(p),)
        self.fail = [0] * len(self.goto)
        q = deque(self.goto[0].values())
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def iter_matches(self, text: str):
        """Every raw pattern occurrence as (start, end), in end order."""
        s = 0
        goto, fail, out = self.goto, self.fail, self.out
        for i, ch in enumerate(text):
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            for ln in out[s]:
                yield i + 1 - ln, i + 1


def find_spans_ac(text: str, ac: AhoCorasick, label: str | None) -> list[dict]:
    """Word-boundary-anchored, leftmost-longest, non-overlapping spans of
    `ac`'s patterns in `text`: the matches a longest-first regex
    alternation `(?<!\\w)(?:p1|p2|...)(?!\\w)` finds with finditer."""
    if not text:
        return []
    n = len(text)
    best: dict[int, int] = {}
    for st, en in ac.iter_matches(text):
        if st > 0 and _WORD_RE.match(text[st - 1]):
            continue
        if en < n and _WORD_RE.match(text[en]):
            continue
        ln = en - st
        if ln > best.get(st, 0):
            best[st] = ln
    spans = []
    cur = 0
    for st in sorted(best):
        if st < cur:
            continue
        en = st + best[st]
        spans.append({"text": text[st:en], "start": st, "end": en, "label": label})
        cur = en
    return spans


# per-python-worker automata, keyed by broadcast id: built once per worker
# from the broadcast pattern list, not once per task or Arrow batch
_AUTOMATA: dict[int, AhoCorasick] = {}
_AUTOMATA_MAX = 64


def _automaton(bid: int, bc) -> AhoCorasick:
    # module-level on purpose: the UDF closure is pickled by value, and a
    # global it touched directly would arrive as a fresh copy in every task;
    # a call into this importable function reaches the worker's own cache
    ac = _AUTOMATA.get(bid)
    if ac is None:
        if len(_AUTOMATA) >= _AUTOMATA_MAX:  # bound worker memory across jobs
            _AUTOMATA.clear()
        ac = _AUTOMATA[bid] = AhoCorasick(bc.value)
    return ac


def _spans_udf(spark: SparkSession, patterns: list[str], label: str | None):
    """pandas UDF text -> array<SPAN_STRUCT> over one broadcast of
    `patterns` (the in-row matcher behind `extract_mentions`)."""
    bc = spark.sparkContext.broadcast(list(patterns))
    bid = bc._jbroadcast.id()

    @F.pandas_udf(T.ArrayType(SPAN_STRUCT))
    def spans_udf(texts: pd.Series) -> pd.Series:
        ac = _automaton(bid, bc)
        return texts.map(lambda t: find_spans_ac(t, ac, label))

    return spans_udf


def extract_mentions(
    turns: DataFrame,
    patterns: list[str],
    label: str | None = None,
) -> DataFrame:
    """turns (TRANSCRIPT_SCHEMA) -> mentions (MENTION_SCHEMA), in-row.

    The extractor for unbounded streams; callers that can aggregate use
    `extract_mentions_gazetteer`. Same spans as the gazetteer, plus aliases
    with no word character (e.g. "++"), which the gazetteer drops.

    mention_id = xxhash64(conv_id, turn_idx, start): deterministic and
    shuffle-free (no monotonically_increasing_id / zipWithIndex)."""
    spans_udf = _spans_udf(turns.sparkSession, patterns, label)
    return (
        turns.withColumn("_spans", spans_udf(F.col("text")))
        .select(
            "conv_id",
            "turn_idx",
            F.explode("_spans").alias("_s"),
        )
        .select(
            "conv_id",
            "turn_idx",
            F.xxhash64("conv_id", "turn_idx", F.col("_s.start")).alias("mention_id"),
            F.col("_s.text").alias("text"),
            F.col("_s.start").alias("start"),
            F.col("_s.end").alias("end"),
            F.col("_s.label").alias("label"),
        )
    )


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
    sorted match array (the selection `extract_mentions` makes in-row).

    Word characters are Python's \\w on both sides: the tokenizer runs in
    Python and the JVM patterns use the same class (`_JAVA_WORD`). Same
    spans as `extract_mentions`, except that an alias with no word
    character (e.g. "++") has no first word to join on and is dropped
    here.

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
