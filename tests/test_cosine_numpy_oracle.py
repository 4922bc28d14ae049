"""Independent-oracle check of the whole vectorizer + sparse-cosine-join
stack: an off-Spark reimplementation (pure python/numpy, written from the
sklearn formulas, sharing no code with the engine beyond the analyzer
definition) must produce the same cosine matrix the DataFrame plan does."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.candidates.generate import generate_candidates
from spacy_ann_linker_spark.vectorize import tfidf


def _char_wb(text):
    # independent re-derivation of the analyzer (sklearn definition)
    out = []
    for w in (text or "").lower().split():
        p = f" {w} "
        out += [p[i : i + 3] for i in range(len(p) - 2)]
    return out


def _numpy_cosines(corpus, queries, min_df=2):
    docs = {d: Counter(_char_wb(t)) for d, t in corpus}
    n = len(corpus)
    df = Counter()
    for c in docs.values():
        for g in c:
            df[g] += 1
    vocab = {g for g, k in df.items() if k >= min_df}
    idf = {g: math.log((1 + n) / (1 + df[g])) + 1 for g in vocab}

    def vec(counter):
        v = {g: tf * idf[g] for g, tf in counter.items() if g in vocab}
        nrm = math.sqrt(sum(x * x for x in v.values()))
        return {g: x / nrm for g, x in v.items()} if nrm else {}

    dvecs = {d: vec(c) for d, c in docs.items()}
    out = {}
    for q, qt in queries:
        qv = vec(Counter(_char_wb(qt)))
        for d, dv in dvecs.items():
            s = sum(w * dv.get(g, 0.0) for g, w in qv.items())
            if s > 0:
                out[(q, d)] = s
    return out


CORPUS = [
    ("Machine learning", "Machine learning"),
    ("Research", "Research"),
    ("Computer science", "Computer science"),
    ("Statistics", "Statistics"),
    ("Meta Language", "Meta Language"),
    ("Operating system", "Operating system"),
    ("machine learning systems", "machine learning systems"),
]
QUERIES = [
    ("q1", "machne learning"),
    ("q2", "research"),
    ("q3", "computer sciences"),
    ("q4", "operating sistem"),
    ("q5", "meta language machine"),
]


def test_cosine_join_matches_numpy_oracle(spark):
    corpus_df = spark.createDataFrame(CORPUS, "alias string, text string").select("alias")
    model = tfidf.fit(corpus_df, "alias", "alias", min_df=2)
    avecs = tfidf.transform(model, corpus_df, "alias", "alias").withColumnRenamed("weight", "w_a")
    q_df = spark.createDataFrame(QUERIES, "qid string, text string")
    qvecs = tfidf.transform(model, q_df, "qid", "text").withColumnRenamed("weight", "w_q")
    sims = (
        qvecs.join(avecs, "idx")
        .groupBy("qid", "alias")
        .agg(F.sum(F.col("w_q") * F.col("w_a")).alias("sim"))
        .collect()
    )
    got = {(r["qid"], r["alias"]): r["sim"] for r in sims}
    want = _numpy_cosines([(a, a) for a, _ in CORPUS], QUERIES, min_df=2)
    assert set(got) == set(want), (set(got) ^ set(want))
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-9), k


def test_topk_matches_numpy_order(spark, golden_model):
    """Top-k ranks from the engine equal the numpy oracle's sort order on
    the golden KB (min_df=2, the reference's exact config)."""
    aliases = [r["alias"] for r in golden_model.cand.aliases.collect()]
    queries = [("m1", "researched"), ("m2", "machine lerning"), ("m3", "environmental chemist")]
    want = _numpy_cosines([(a, a) for a in aliases], queries, min_df=2)
    q_df = spark.createDataFrame([(t,) for _, t in queries], "text string")
    cands = generate_candidates(golden_model.cand, q_df, k=3).collect()
    text2qid = {t: q for q, t in queries}
    for r in cands:
        key = (text2qid[r["text"]], r["alias"])
        assert r["similarity"] == pytest.approx(want[key], abs=1e-9)
    # rank-1 rows carry the oracle's maximum similarity
    for q, t in queries:
        best_sim = max(s for (qq, _), s in want.items() if qq == q)
        got_best = [r for r in cands if r["text"] == t and r["rank"] == 1]
        assert got_best and got_best[0]["similarity"] == pytest.approx(best_sim, abs=1e-9)


def test_permuted_alias_ties_break_alias_asc_under_any_partitioning(spark):
    """Word permutations of one alias ("Argon Lambda Krypton" / "Krypton
    Argon Lambda") share one char_wb gram set, so their cosines are
    mathematically equal; the engine's raw sums differ in the last bit by
    summation order, which follows the shuffle partitioning. The documented
    alias-asc tie-break must win regardless: best candidate == rank 1 ==
    the alias-asc minimum of the oracle's tied set, at two partition counts."""
    import itertools

    from spacy_ann_linker_spark.candidates.generate import (
        CandidateModel,
        generate_best_candidates,
    )

    groups = [
        ("Argon", "Lambda", "Krypton"), ("Helium", "Boron", "Sigma"),
        ("Xenon", "Radon", "Omega"), ("Delta", "Neon", "Cobalt"),
        ("Argon", "Sigma", "Cobalt"), ("Boron", "Omega", "Lambda"),
    ]
    aliases = sorted({" ".join(p) for g in groups for p in itertools.permutations(g)})
    texts = sorted(
        {" ".join(g).replace("o", "q", 1) for g in groups}
        | {" ".join(g) + " Neon" for g in groups}
    )
    alias_df = spark.createDataFrame([(a,) for a in aliases], "alias string")
    vocab = tfidf.fit(alias_df, "alias", "alias", min_df=1)
    model = CandidateModel(
        tfidf=vocab,
        alias_vectors=tfidf.transform(vocab, alias_df, "alias", "alias"),
        short_aliases=alias_df.filter(F.lit(False)),
        aliases=alias_df,
    )
    oracle = _numpy_cosines([(a, a) for a in aliases], [(t, t) for t in texts], min_df=1)
    want = {}
    for t in texts:
        top = max(s for (q, _), s in oracle.items() if q == t)
        tied = [a for (q, a), s in oracle.items() if q == t and abs(s - top) < 1e-9]
        assert len(tied) == 6, (t, tied)  # the best is a whole permutation group
        want[t] = min(tied)

    q_df = spark.createDataFrame([(t,) for t in texts], "text string")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            best = {r["text"]: r["alias"] for r in generate_best_candidates(model, q_df).collect()}
            rank1 = {
                r["text"]: r["alias"]
                for r in generate_candidates(model, q_df, k=3).collect()
                if r["rank"] == 1
            }
            assert best == want, (n, {t: (best[t], want[t]) for t in texts if best[t] != want[t]})
            assert rank1 == want, (n, {t: (rank1[t], want[t]) for t in texts if rank1[t] != want[t]})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
