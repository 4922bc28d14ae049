"""Scale smoke: the candidate path at 20k entities / ~40k aliases — the
regime where alias vectors stop being toy-sized and the inverted-index join
does real work. Verifies exact-mention accuracy and fuzzy behavior hold."""

import time

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.candidates.generate import fit_candidate_model
from spacy_ann_linker_spark.data.synthetic_kb import generate_kb
from spacy_ann_linker_spark.kb.build import build_kb
from spacy_ann_linker_spark.link.linker import kb_get_candidates

N_ENT = 20_000


@pytest.fixture(scope="module")
def big_model(spark):
    entities, aliases = generate_kb(spark, N_ENT)
    kb = build_kb(entities, aliases)
    cand = fit_candidate_model(kb, min_df=2)
    for df in (kb.alias_map, cand.tfidf.vocab, cand.alias_vectors, cand.short_aliases):
        df.persist().count()
    return kb, cand


def test_exact_mentions_resolve(spark, big_model):
    kb, cand = big_model
    # 500 exact alias mentions, spread across the id space
    probes = (
        kb.alias_map.filter(F.col("entity_id").substr(2, 7).cast("long") % 40 == 0)
        .filter(F.col("ent_pos") == 0)
        .select(F.col("alias").alias("text"), F.col("entity_id").alias("gold"))
        .distinct()
    )
    n_probes = probes.count()
    assert n_probes >= 400
    t0 = time.perf_counter()
    got = kb_get_candidates(cand, kb, probes.select("text"), threshold=0.0)
    # exact surface form must include its gold entity among resolved rows
    joined = got.join(probes, "text")
    correct = joined.filter(F.col("entity_id") == F.col("gold")).select("text").distinct().count()
    wall = time.perf_counter() - t0
    assert correct / n_probes >= 0.995, (correct, n_probes)
    assert wall < 120, f"large-KB resolution too slow: {wall:.0f}s"


def test_fuzzy_rescue_salted_equals_broadcast(spark, big_model):
    """VERDICT r2 item 4: the JW rescue join with broadcast OFF (salted
    shuffle on the first-character block key) returns exactly the broadcast
    path's result on a 40k-alias KB — same rescued aliases, same scores."""
    from spacy_ann_linker_spark.link.linker import best_aliases

    kb, cand = big_model
    # the initials-family aliases (QNC42-style, len 4-6): a one-char edit
    # destroys most char-3-grams (cosine < 0.7) while JW stays ~0.92 — the
    # exact population the rescue exists for
    probes = (
        kb.alias_map.filter((F.length("alias") >= 5) & (F.length("alias") <= 6))
        .filter(F.col("ent_pos") == 0)
        .select("alias")
        .distinct()
        .limit(80)
        .withColumn(
            "text", F.concat(F.expr("substring(alias, 1, length(alias)-1)"), F.lit("x"))
        )
    )
    texts = probes.select("text").distinct().persist()
    n_texts = texts.count()

    no_rescue = best_aliases(cand, texts, exact_fast_path=True)
    n_base = no_rescue.count()
    assert n_base < n_texts, "fixture must leave some mentions unmatched for rescue"

    def keyed(df):
        return {(r["text"], r["alias"], round(r["similarity"], 9)) for r in df.collect()}

    bcast = keyed(
        best_aliases(cand, texts, exact_fast_path=True, fuzzy_rescue=True)
    )
    salted = keyed(
        best_aliases(
            cand,
            texts,
            exact_fast_path=True,
            fuzzy_rescue=True,
            broadcast_kb=False,
        )
    )
    assert bcast == salted
    assert len(bcast) > n_base, "rescue should have recovered extra mentions"


def test_fuzzy_argmax_is_exact(spark, big_model):
    """The engine's returned alias must score >= the perturbed source alias
    (true argmax over the whole 40k-alias space). The pool-composed aliases
    collide on words by design, so 'same alias wins' isn't ground truth —
    'nothing scores higher than the winner' is."""
    from spacy_ann_linker_spark.vectorize import tfidf

    kb, cand = big_model
    probes = (
        kb.alias_map.filter(F.length("alias") > 20)
        .filter(F.col("ent_pos") == 0)
        .select("alias", "entity_id")
        .limit(100)
        .withColumn("text", F.concat(F.expr("substring(alias, 1, length(alias)-1)"), F.lit("x")))
        .persist()
    )
    got = kb_get_candidates(cand, kb, probes.select("text"), threshold=0.0)

    # score the (text, source alias) pairs directly
    mvecs = tfidf.transform(cand.tfidf, probes.select("text"), "text", "text").withColumnRenamed(
        "weight", "w_m"
    )
    avecs = cand.alias_vectors.withColumnRenamed("weight", "w_a")
    gold_sims = (
        probes.select("text", "alias")
        .join(mvecs, "text")
        .join(avecs, ["alias", "idx"])
        .groupBy("text")
        .agg(F.sum(F.col("w_m") * F.col("w_a")).alias("gold_sim"))
    )
    cmp = got.select("text", "similarity").distinct().join(gold_sims, "text")
    below = cmp.filter(F.col("similarity") < F.col("gold_sim") - 1e-9).count()
    assert below == 0, f"{below} probes found a sub-optimal alias"
    # and fuzzy matches are strong (one char off a 20+-char string)
    weak = cmp.filter(F.col("similarity") < 0.8).count()
    assert weak <= 5, weak


def test_broadcasts_off_identical_links(spark, big_model):
    """VERDICT r3 item 3: the two remaining unconditional broadcasts —
    the J5 exact-fast-path alias table and the disambiguation entity-vector
    table — must have working shuffle fallbacks for gazetteers too big to
    broadcast. With broadcast_kb off, the full link output (alias pick, score,
    entity, context score) must be row-identical on a 20k-entity /
    ~40k-alias KB."""
    from spacy_ann_linker_spark.link.linker import link_mentions, release_memos
    from spacy_ann_linker_spark.mentions.extract import extract_mentions_gazetteer

    kb, cand = big_model
    # turns whose text embeds real alias surfaces so the gazetteer fires
    # against the big KB; extract mentions once and reuse for both runs
    turns = (
        kb.alias_map.filter(F.col("ent_pos") == 0)
        .select("alias").distinct().orderBy("alias").limit(60)
        .select(
            F.concat(F.lit("c"), F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("alias")
            ).cast("string")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(F.lit("We discussed "), F.col("alias"), F.lit(" at length today.")).alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        .persist()
    )
    mentions = extract_mentions_gazetteer(
        turns, kb.alias_map.select("alias").distinct()
    ).persist()
    assert mentions.count() > 0

    def keyed(df):
        return {
            (
                r["conv_id"], r["turn_idx"], r["mention_id"], r["text"], r["alias"],
                round(r["similarity"], 9), r["entity_id"],
                None if r["context_similarity"] is None else round(r["context_similarity"], 9),
            )
            for r in df.collect()
        }

    try:
        on = keyed(link_mentions(mentions, turns, kb, cand, exact_fast_path=True))
        off = keyed(
            link_mentions(
                mentions, turns, kb, cand, exact_fast_path=True, broadcast_kb=False,
            )
        )
    finally:
        release_memos()
        mentions.unpersist()
    assert len(on) > 0
    assert on == off
