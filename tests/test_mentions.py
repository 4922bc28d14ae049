"""Gazetteer mention extraction (F8-F10, C7)."""

import random
import re

from pyspark.sql import functions as F

from spacy_ann_linker_spark.mentions.extract import (
    extract_mentions_gazetteer,
    validate_spans,
)

from conftest import gazetteer_mentions


def _regex_oracle(pats):
    """EntityRuler-style verbatim phrase match as one longest-first regex
    alternation with word-boundary lookarounds; `_regex_spans` scans it left
    to right (leftmost-longest, non-overlapping)."""
    body = "|".join(re.escape(p) for p in sorted(set(pats), key=len, reverse=True))
    return re.compile(rf"(?<!\w)(?:{body})(?!\w)")


def _regex_spans(text, rx):
    """(start, end, text) of every oracle match, left to right."""
    return [(m.start(), m.end(), m.group(0)) for m in rx.finditer(text or "")]


def _oracle_keys(turns, pats):
    rx = _regex_oracle(pats)
    return {
        (r["conv_id"], r["turn_idx"], *span)
        for r in turns.collect()
        for span in _regex_spans(r["text"], rx)
    }


def _turns(spark, text):
    return spark.createDataFrame(
        [("c1", 0, "user", text, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_basic_extraction(spark):
    t = _turns(spark, "I like NLP and machine learning a lot")
    rows = gazetteer_mentions(t, ["NLP", "machine learning"]).orderBy("start").collect()
    assert [(r["text"], r["start"], r["end"]) for r in rows] == [
        ("NLP", 7, 10),
        ("machine learning", 15, 31),
    ]


def test_longest_match_wins(spark):
    t = _turns(spark, "machine learning rocks")
    rows = gazetteer_mentions(t, ["machine", "machine learning"]).collect()
    assert [r["text"] for r in rows] == ["machine learning"]


def test_word_boundaries(spark):
    t = _turns(spark, "HTML is not ML but ML is ML")
    rows = gazetteer_mentions(t, ["ML"]).collect()
    assert len(rows) == 3  # not the one inside HTML


def test_case_sensitive_default(spark):
    t = _turns(spark, "nlp is lowercase NLP is upper")
    rows = gazetteer_mentions(t, ["NLP"]).collect()
    assert [r["start"] for r in rows] == [17]


def test_mention_ids_deterministic(spark):
    t = _turns(spark, "NLP and NLP again")
    a = gazetteer_mentions(t, ["NLP"]).orderBy("start").collect()
    b = gazetteer_mentions(t, ["NLP"]).orderBy("start").collect()
    assert [r["mention_id"] for r in a] == [r["mention_id"] for r in b]
    assert len({r["mention_id"] for r in a}) == 2


def test_validate_spans_filters_bad_offsets(spark):
    t = _turns(spark, "NLP here")
    good = gazetteer_mentions(t, ["NLP"])
    bad = good.withColumn("start", F.col("start") + 1)
    assert validate_spans(good, t).count() == 1
    assert validate_spans(bad, t).count() == 0


def test_gazetteer_matches_regex_on_golden_aliases(spark):
    """The distributed join gazetteer reproduces the regex oracle exactly
    over the golden alias list on synthetic transcripts."""
    from spacy_ann_linker_spark.data import golden_kb
    from spacy_ann_linker_spark.data.transcripts import generate_transcripts

    turns = generate_transcripts(spark, 300)
    aliases = golden_kb.load_aliases(spark).select("alias")
    pats = [r["alias"] for r in aliases.collect()]
    want = _oracle_keys(turns, pats)
    got = {
        (r["conv_id"], r["turn_idx"], r["start"], r["end"], r["text"])
        for r in extract_mentions_gazetteer(turns, aliases).collect()
    }
    assert want == got and len(want) > 100


def test_gazetteer_40k_alias_kb_bounded(spark):
    """Scale smoke (VERDICT item 5): 40k-alias synthetic KB, no driver-side
    pattern list — extraction completes in bounded time and the regex
    oracle agrees."""
    import time

    from spacy_ann_linker_spark.data.synthetic_kb import generate_kb
    from spacy_ann_linker_spark.data.transcripts import generate_transcripts

    _, aliases = generate_kb(spark, 20_000)  # 2 aliases per entity
    alias_names = aliases.select("alias")
    turns = generate_transcripts(spark, 500)
    t0 = time.perf_counter()
    got = extract_mentions_gazetteer(turns, alias_names).count()
    gaz_sec = time.perf_counter() - t0
    pats = [r["alias"] for r in alias_names.collect()]
    want = len(_oracle_keys(turns, pats))
    assert got == want
    assert gaz_sec < 120  # bounded even on a throttled host


def test_gazetteer_salted_join_equals_broadcast_on_hot_first_word(spark):
    """Skew path (VERDICT r2 item 6): an alias table where half the aliases
    share the first word "The" — the exact shape that funnels one join key
    to one reducer. The salted non-broadcast plan must replicate the alias
    side across buckets and return EXACTLY the broadcast path's mentions."""
    hot = [f"The topic {i}" for i in range(50)]
    cold = [f"subject{i} matter" for i in range(50)]
    aliases = spark.createDataFrame([(a,) for a in hot + cold], "alias string")
    texts = [
        f"we discussed The topic {i % 50} and subject{(i * 7) % 50} matter today"
        for i in range(120)
    ] + ["The unrelated thing", "no mentions here"]
    turns = spark.createDataFrame(
        [("c1", i, "user", s, "", None) for i, s in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )

    def key_set(df):
        return {
            (r["conv_id"], r["turn_idx"], r["start"], r["end"], r["text"])
            for r in df.collect()
        }

    want = key_set(extract_mentions_gazetteer(turns, aliases, broadcast_aliases=True))
    salted = extract_mentions_gazetteer(
        turns, aliases, broadcast_aliases=False, salt_buckets=8
    )
    assert key_set(salted) == want and len(want) >= 240
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, "salted replication missing from the physical plan"
    # plain shuffle path (no salting) also agrees
    plain = extract_mentions_gazetteer(turns, aliases, broadcast_aliases=False)
    assert key_set(plain) == want


def test_gazetteer_punctuation_aliases_match_regex(spark):
    """Aliases starting/ending with non-word chars (.NET, C++) and nested
    word-boundary traps (ML inside HTML) match as the regex oracle finds
    them."""
    t = spark.createDataFrame(
        [("c1", 0, "user", "use C++ and .NET and Neuro-linguistic programming today", "", None),
         ("c1", 1, "user", "nested ML in HTML but plain ML works; (ML) too", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    aliases = spark.createDataFrame(
        [("C++",), (".NET",), ("Neuro-linguistic programming",), ("ML",)], "alias string"
    )
    pats = ["C++", ".NET", "Neuro-linguistic programming", "ML"]
    want = sorted((k[1], k[2], k[4]) for k in _oracle_keys(t, pats))
    got = sorted(
        (r["turn_idx"], r["start"], r["text"])
        for r in extract_mentions_gazetteer(t, aliases).collect()
    )
    assert want == got and len(want) == 6


def test_gazetteer_unicode_aliases_match_extract_mentions(spark):
    """Aliases whose first word has non-ASCII letters (accents, umlauts,
    Devanagari with its combining vowel signs) join in the gazetteer
    exactly as the regex oracle finds them. The one pinned divergence:
    an alias with no word character ("++") is matched by the oracle but has
    no first word for the gazetteer to join on."""
    texts = [
        "Café Society met Élan Vital",
        "in Zürich: Über alles!",
        "NLP and हिन्दी and C ++ here",
    ]
    t = spark.createDataFrame(
        [("c1", i, "user", s, "", None) for i, s in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    pats = ["Café Society", "Élan Vital", "Zürich", "Über alles", "NLP", "हिन्दी", "++"]
    aliases = spark.createDataFrame([(p,) for p in pats], "alias string")
    want = sorted(k[1:] for k in _oracle_keys(t, pats))
    gaz = sorted(
        (r["turn_idx"], r["start"], r["end"], r["text"])
        for r in extract_mentions_gazetteer(t, aliases).collect()
    )
    assert [m[3] for m in want] == pats
    assert gaz == [m for m in want if m[3] != "++"]


def test_gazetteer_matches_regex_random_patterns(spark):
    """Seeded random pattern sets over a small alphabet (dense overlaps,
    shared prefixes and suffixes, boundary collisions), each run over the
    same random texts: the gazetteer returns the regex oracle's spans, in
    order."""
    rng = random.Random(7)
    texts = ["".join(rng.choice("ab_ .x") for _ in range(rng.randint(0, 40))) for _ in range(25)]
    turns = spark.createDataFrame(
        [("c1", i, "user", s, "", None) for i, s in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).cache()
    for _ in range(20):
        pats = ["".join(rng.choice("ab_ ") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 8))]
        pats = [p for p in pats if p.strip()]
        if not pats:
            continue
        rx = _regex_oracle(pats)
        want = [(i, *span) for i, s in enumerate(texts) for span in _regex_spans(s, rx)]
        got = [
            (r["turn_idx"], r["start"], r["end"], r["text"])
            for r in gazetteer_mentions(turns, pats).orderBy("turn_idx", "start").collect()
        ]
        assert got == want, (pats, sorted(set(want) ^ set(got))[:5])
    turns.unpersist()
