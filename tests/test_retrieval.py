"""extras/retrieval.py (BM25) + evaluate.cluster_pairwise_metrics.

BM25 values are checked against an independent pure-python computation of
the same Okapi/Lucene formula; cluster metrics against hand-counted pair
sets. Cross-engine DuckDB exactness is covered by the strict oracle gate
(`bm25_score`, `cluster_pairwise_metrics` in __spark_entry__.py).
"""

import math

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.evaluate import cluster_pairwise_metrics
from spacy_ann_linker_spark.extras.retrieval import bm25_score

DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog"),
    ("d2", "the quick red fox"),
    ("d3", "lazy summer dog days"),
    ("d4", "quick quick quick sort algorithm"),
    ("d5", ""),  # tokenless: counts toward N/avgdl, never matches
]


def _py_bm25(query_terms, k1=1.2, b=0.75):
    """Independent reference: dict-based BM25 over DOCS."""
    toks = {d: t.lower().split() for d, t in DOCS}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for ws in toks.values():
        for t in set(ws):
            df[t] = df.get(t, 0) + 1
    out = {}
    for d, ws in toks.items():
        s, matched = 0.0, 0
        for t in set(query_terms):
            tf = ws.count(t)
            if tf == 0:
                continue
            matched += 1
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(ws) / avgdl)
            )
        if matched:
            out[d] = (matched, s)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def test_bm25_matches_python_reference(spark, docs_df):
    qs = spark.createDataFrame(
        [("q1", "quick fox"), ("q2", "lazy dog")],
        "query_id string, query_text string",
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["n_matched_terms"], r["score"])
        for r in bm25_score(docs_df, qs).collect()
    }
    for qid, qtext in [("q1", "quick fox"), ("q2", "lazy dog")]:
        expect = _py_bm25(qtext.split())
        for d, (m, s) in expect.items():
            gm, gs = got[(qid, d)]
            assert gm == m, (qid, d)
            assert gs == pytest.approx(s, abs=1e-12), (qid, d)
        # no phantom zero-overlap rows
        assert {d for (q, d) in got if q == qid} == set(expect)


def test_bm25_rare_term_outscores_common(spark, docs_df):
    """idf ordering: 'summer' (df=1) must outrank 'quick' (df=3) at tf=1
    and comparable dl."""
    qs = spark.createDataFrame(
        [("q", "summer quick")], "query_id string, query_text string"
    )
    rows = {r["doc_id"]: r["score"] for r in bm25_score(docs_df, qs).collect()}
    assert rows["d3"] > rows["d2"]  # summer match beats quick match


def test_bm25_duplicate_query_terms_counted_once(spark, docs_df):
    one = spark.createDataFrame([("q", "quick")], "query_id string, query_text string")
    dup = spark.createDataFrame(
        [("q", "quick quick quick")], "query_id string, query_text string"
    )
    a = sorted((r["doc_id"], r["score"]) for r in bm25_score(docs_df, one).collect())
    b = sorted((r["doc_id"], r["score"]) for r in bm25_score(docs_df, dup).collect())
    assert a == b


def test_bm25_plan_is_jvm_only_with_broadcast_probe(spark, docs_df):
    qs = spark.createDataFrame([("q", "quick fox")],
                               "query_id string, query_text string")
    plan = bm25_score(docs_df, qs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # query-term probe never shuffles tf
    assert "SortMergeJoin" not in plan


def test_bm25_corpus_scanned_exactly_twice(spark, docs_df, tmp_path):
    """Linear lineage: the corpus contributes exactly 2 scans (stats
    branch + filtered words branch). A third scan means df regressed to
    the branching groupBy+join shape that re-executes the explode/shuffle
    subtree (ReuseExchange does not rescue it — measured on the AQE-final
    plan)."""
    p = str(tmp_path / "docs.parquet")
    docs_df.write.parquet(p)
    docs = spark.read.parquet(p)
    qs = spark.createDataFrame([("q", "quick fox")],
                               "query_id string, query_text string")
    plan = bm25_score(docs, qs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan[:3000]


# ---------------------------------------------------------- cluster metrics


def test_cluster_pairwise_metrics_hand_counted(spark):
    # pred: {a,b,c} {d,e}   gold: {a,b} {c,d,e}
    # pred_pairs = 3 + 1 = 4; gold_pairs = 1 + 3 = 4
    # tp cells: (p1,g1)={a,b}->1, (p1,g2)={c}->0, (p2,g2)={d,e}->1 => tp=2
    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 2)], "id string, cluster int"
    )
    gold = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 20), ("d", 20), ("e", 20)], "id string, cluster int"
    )
    r = cluster_pairwise_metrics(pred, gold).first()
    assert (r["tp_pairs"], r["pred_pairs"], r["gold_pairs"]) == (2, 4, 4)
    assert r["precision"] == pytest.approx(0.5)
    assert r["recall"] == pytest.approx(0.5)
    assert r["f1"] == pytest.approx(0.5)


def test_cluster_pairwise_metrics_perfect_and_singletons(spark):
    pred = spark.createDataFrame([("a", 1), ("b", 1), ("c", 2)], "id string, cluster int")
    r = cluster_pairwise_metrics(pred, pred).first()
    assert (r["tp_pairs"], r["pred_pairs"], r["gold_pairs"]) == (1, 1, 1)
    assert r["f1"] == pytest.approx(1.0)

    # all-singleton prediction: zero pred pairs must not divide by zero
    singles = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, cluster int"
    )
    gold = spark.createDataFrame([("a", 1), ("b", 1), ("c", 1)], "id string, cluster int")
    r = cluster_pairwise_metrics(singles, gold).first()
    assert (r["tp_pairs"], r["pred_pairs"], r["gold_pairs"]) == (0, 0, 3)
    assert (r["precision"], r["recall"], r["f1"]) == (0.0, 0.0, 0.0)


def test_cluster_pairwise_metrics_population_is_id_intersection(spark):
    pred = spark.createDataFrame([("a", 1), ("b", 1), ("zz", 9)], "id string, cluster int")
    gold = spark.createDataFrame([("a", 1), ("b", 1), ("yy", 9)], "id string, cluster int")
    r = cluster_pairwise_metrics(pred, gold).first()
    # zz/yy drop out; only {a,b} remains on both sides
    assert (r["tp_pairs"], r["pred_pairs"], r["gold_pairs"]) == (1, 1, 1)


# ---- blocking_quality -------------------------------------------------------


def _bq(spark, rows):
    from spacy_ann_linker_spark.evaluate import blocking_quality

    df = spark.createDataFrame(rows, "id int, block string, cluster string")
    return blocking_quality(df, "id", "block", "cluster").first().asDict()


def test_blocking_quality_hand_counted(spark):
    # 6 records; blocks: b1={1,2,3} b2={4,5}, unblocked={6}
    # gold: g1={1,2,6} g2={3,4,5}
    rows = [
        (1, "b1", "g1"), (2, "b1", "g1"), (3, "b1", "g2"),
        (4, "b2", "g2"), (5, "b2", "g2"), (6, None, "g1"),
    ]
    m = _bq(spark, rows)
    assert m["n_records"] == 6 and m["total_pairs"] == 15
    assert m["candidate_pairs"] == 3 + 1        # C(3,2)+C(2,2)
    assert m["gold_pairs"] == 3 + 3             # two gold triples
    # covered: (1,2) in b1/g1; (4,5) in b2/g2
    assert m["covered_pairs"] == 2
    assert m["reduction_ratio"] == pytest.approx(1 - 4 / 15)
    assert m["pairs_completeness"] == pytest.approx(2 / 6)
    assert m["pairs_quality"] == pytest.approx(2 / 4)


def test_blocking_quality_perfect_block_equals_gold(spark):
    rows = [(i, f"b{i % 3}", f"b{i % 3}") for i in range(12)]
    m = _bq(spark, rows)
    assert m["pairs_completeness"] == 1.0
    assert m["pairs_quality"] == 1.0
    assert m["covered_pairs"] == m["gold_pairs"] == m["candidate_pairs"]


def test_blocking_quality_degenerate_zero_guards(spark):
    # all unblocked + all-singleton gold: every ratio defined as 0 except rr
    rows = [(1, None, "g1"), (2, None, "g2")]
    m = _bq(spark, rows)
    assert m["candidate_pairs"] == 0 and m["gold_pairs"] == 0
    assert m["reduction_ratio"] == 1.0
    assert m["pairs_completeness"] == 0.0 and m["pairs_quality"] == 0.0


def test_blocking_quality_single_universal_block(spark):
    # one block holding everything: no reduction, full completeness
    rows = [(i, "b", "g" if i < 3 else "h") for i in range(6)]
    m = _bq(spark, rows)
    assert m["reduction_ratio"] == 0.0
    assert m["pairs_completeness"] == 1.0


# ---- bcubed_metrics ---------------------------------------------------------


def test_bcubed_hand_counted(spark):
    # pred {a,b,c}{d,e}, gold {a,b}{c,d,e} — same fixture as the pairwise
    # hand-count so the two metrics can be compared on one example.
    # P per item: a 2/3, b 2/3, c 1/3, d 1, e 1 -> 11/15
    # R per item: a 1,   b 1,   c 1/3, d 2/3, e 2/3 -> 11/15
    from spacy_ann_linker_spark.evaluate import bcubed_metrics

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 2)], "id string, cluster int"
    )
    gold = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 20), ("d", 20), ("e", 20)], "id string, cluster int"
    )
    r = bcubed_metrics(pred, gold).first()
    assert r["n_items"] == 5
    assert r["bcubed_precision"] == pytest.approx(11 / 15)
    assert r["bcubed_recall"] == pytest.approx(11 / 15)
    assert r["bcubed_f1"] == pytest.approx(11 / 15)


def test_bcubed_perfect_and_singletons(spark):
    from spacy_ann_linker_spark.evaluate import bcubed_metrics

    pred = spark.createDataFrame([("a", 1), ("b", 1), ("c", 2)], "id string, cluster int")
    r = bcubed_metrics(pred, pred).first()
    assert (r["bcubed_precision"], r["bcubed_recall"], r["bcubed_f1"]) == (1.0, 1.0, 1.0)

    # all-singleton prediction against one gold cluster of n=3:
    # precision 1.0 (each |C(i)|=1 fully inside gold), recall 1/3
    singles = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, cluster int"
    )
    gold = spark.createDataFrame([("a", 1), ("b", 1), ("c", 1)], "id string, cluster int")
    r = bcubed_metrics(singles, gold).first()
    assert r["bcubed_precision"] == pytest.approx(1.0)
    assert r["bcubed_recall"] == pytest.approx(1 / 3)
    assert r["bcubed_f1"] == pytest.approx(2 * 1.0 * (1 / 3) / (1 + 1 / 3))


def test_bcubed_matches_python_definition_on_random_clustering(spark):
    """Per-item definition computed independently in python vs the
    contingency-cell identity the Spark plan uses."""
    import random

    from spacy_ann_linker_spark.evaluate import bcubed_metrics

    rng = random.Random(7)
    ids = list(range(120))
    p = {i: rng.randrange(9) for i in ids}
    g = {i: rng.randrange(6) for i in ids}
    pc = {}
    gc = {}
    for i in ids:
        pc.setdefault(p[i], set()).add(i)
        gc.setdefault(g[i], set()).add(i)
    prec = sum(len(pc[p[i]] & gc[g[i]]) / len(pc[p[i]]) for i in ids) / len(ids)
    rec = sum(len(pc[p[i]] & gc[g[i]]) / len(gc[g[i]]) for i in ids) / len(ids)
    pred = spark.createDataFrame([(i, p[i]) for i in ids], "id int, cluster int")
    gold = spark.createDataFrame([(i, g[i]) for i in ids], "id int, cluster int")
    r = bcubed_metrics(pred, gold).first()
    assert r["bcubed_precision"] == pytest.approx(prec)
    assert r["bcubed_recall"] == pytest.approx(rec)
    assert r["bcubed_f1"] == pytest.approx(2 * prec * rec / (prec + rec))


def test_bcubed_population_is_id_intersection_and_empty_guard(spark):
    from spacy_ann_linker_spark.evaluate import bcubed_metrics

    pred = spark.createDataFrame([("a", 1), ("b", 1), ("zz", 9)], "id string, cluster int")
    gold = spark.createDataFrame([("a", 1), ("b", 1), ("yy", 9)], "id string, cluster int")
    r = bcubed_metrics(pred, gold).first()
    assert r["n_items"] == 2 and r["bcubed_f1"] == pytest.approx(1.0)

    empty = pred.filter(F.lit(False))
    r = bcubed_metrics(empty, gold).first()
    assert (r["n_items"], r["bcubed_precision"], r["bcubed_recall"], r["bcubed_f1"]) == (
        0, 0.0, 0.0, 0.0,
    )


# ---- cluster_agreement_metrics (ARI + V-measure) ----------------------------


def _agreement_py(p, g):
    """Independent per-definition computation: ARI via pair confusion,
    V-measure via entropies — no contingency-identity shortcuts."""
    import itertools
    import math

    ids = sorted(p)
    n = len(ids)
    tp = fp = fn = tn = 0
    for a, b in itertools.combinations(ids, 2):
        sp, sg = p[a] == p[b], g[a] == g[b]
        tp += sp and sg
        fp += sp and not sg
        fn += (not sp) and sg
        tn += (not sp) and (not sg)
    if fp == 0 and fn == 0:
        ari = 1.0
    else:
        ari = 2.0 * (tp * tn - fn * fp) / ((tp + fn) * (fn + tn) + (tp + fp) * (fp + tn))

    from collections import Counter

    pc, gc = Counter(p.values()), Counter(g.values())
    cells = Counter((p[i], g[i]) for i in ids)
    hg = -sum(c / n * math.log(c / n) for c in gc.values())
    hp = -sum(c / n * math.log(c / n) for c in pc.values())
    hg_p = -sum(c / n * math.log(c / pc[k[0]]) for k, c in cells.items())
    hp_g = -sum(c / n * math.log(c / gc[k[1]]) for k, c in cells.items())
    h = 1.0 if hg == 0 else 1 - hg_p / hg
    c = 1.0 if hp == 0 else 1 - hp_g / hp
    v = 0.0 if h + c == 0 else 2 * h * c / (h + c)
    return ari, h, c, v


def test_agreement_matches_python_definition_random(spark):
    import random

    from spacy_ann_linker_spark.evaluate import cluster_agreement_metrics

    rng = random.Random(13)
    ids = list(range(150))
    p = {i: rng.randrange(8) for i in ids}
    g = {i: rng.randrange(5) for i in ids}
    ari, h, c, v = _agreement_py(p, g)
    pred = spark.createDataFrame([(i, p[i]) for i in ids], "id int, cluster int")
    gold = spark.createDataFrame([(i, g[i]) for i in ids], "id int, cluster int")
    r = cluster_agreement_metrics(pred, gold).first()
    assert r["ari"] == pytest.approx(ari)
    assert r["homogeneity"] == pytest.approx(h)
    assert r["completeness"] == pytest.approx(c)
    assert r["v_measure"] == pytest.approx(v)


def test_agreement_degenerate_conventions(spark):
    from spacy_ann_linker_spark.evaluate import cluster_agreement_metrics

    same = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "id string, cluster int"
    )
    r = cluster_agreement_metrics(same, same).first()
    assert (r["ari"], r["v_measure"]) == (1.0, 1.0)

    # singletons vs one gold cluster: homogeneity 1 (H(g)=0 convention is
    # NOT hit here - every pred cluster is pure), completeness 0, ari 0
    singles = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, cluster int"
    )
    onec = spark.createDataFrame(
        [("a", 9), ("b", 9), ("c", 9)], "id string, cluster int"
    )
    r = cluster_agreement_metrics(singles, onec).first()
    assert r["homogeneity"] == pytest.approx(1.0)
    assert r["completeness"] == pytest.approx(0.0)
    assert r["v_measure"] == pytest.approx(0.0)
    assert r["ari"] == pytest.approx(0.0)

    # both trivial-identical partitions (all singletons): sklearn's 1.0
    r = cluster_agreement_metrics(singles, singles).first()
    assert (r["ari"], r["v_measure"]) == (1.0, 1.0)

    # empty input: documented degenerate reading, no nulls/NaNs
    empty = singles.filter(F.lit(False))
    r = cluster_agreement_metrics(empty, empty).first()
    assert (r["n_items"], r["ari"], r["homogeneity"], r["completeness"], r["v_measure"]) == (
        0, 1.0, 1.0, 1.0, 1.0,
    )


# ---- threshold_sweep_metrics ------------------------------------------------


def test_threshold_sweep_hand_computed(spark):
    from spacy_ann_linker_spark.evaluate import threshold_sweep_metrics

    df = spark.createDataFrame(
        [(0.9, 1), (0.9, 0), (0.7, 1), (0.5, 0), (0.3, 1), (None, 1)],
        "score double, is_match int",
    )
    got = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"], r["precision"], r["recall"])
        for r in threshold_sweep_metrics(df).collect()
    }
    # NULL score dropped entirely (also from the positives total)
    assert set(got) == {0.9, 0.7, 0.5, 0.3}
    assert got[0.9] == (1, 1, 2, 0.5, pytest.approx(1 / 3))
    assert got[0.7] == (2, 1, 1, pytest.approx(2 / 3), pytest.approx(2 / 3))
    assert got[0.3][:3] == (3, 2, 0)
    assert got[0.3][4] == pytest.approx(1.0)


def test_threshold_sweep_matches_sklearn_style_bruteforce(spark):
    import random

    from spacy_ann_linker_spark.evaluate import threshold_sweep_metrics

    rng = random.Random(11)
    rows = [(round(rng.random(), 2), rng.randint(0, 1)) for _ in range(300)]
    df = spark.createDataFrame(rows, "score double, is_match int")
    got = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"])
        for r in threshold_sweep_metrics(df).collect()
    }
    thresholds = sorted({s for s, _ in rows})
    tot_pos = sum(y for _, y in rows)
    for t in thresholds:
        tp = sum(y for s, y in rows if s >= t)
        fp = sum(1 - y for s, y in rows if s >= t)
        assert got[t] == (tp, fp, tot_pos - tp), t


def test_threshold_sweep_round_scores_collapses_buckets(spark):
    from spacy_ann_linker_spark.evaluate import threshold_sweep_metrics

    df = spark.createDataFrame(
        [(0.70000001, 1), (0.70000002, 0), (0.5, 1)], "score double, is_match int"
    )
    out = threshold_sweep_metrics(df, round_scores=3).collect()
    assert {r["threshold"] for r in out} == {0.7, 0.5}
    by = {r["threshold"]: r for r in out}
    assert (by[0.7]["tp"], by[0.7]["fp"]) == (1, 1)


# ---------------------------------------------------------- QLM + RRF


def _py_qlm(query_terms, mu=2000.0):
    """Independent reference: dict-based Dirichlet QLM (Zhai's
    matched-terms-only rank-equivalent form) over DOCS."""
    toks = {d: t.lower().split() for d, t in DOCS}
    total = sum(len(v) for v in toks.values())
    cf = {}
    for ws in toks.values():
        for t in ws:
            cf[t] = cf.get(t, 0) + 1
    out = {}
    qlen = len(query_terms)
    for d, ws in toks.items():
        s, matched = 0.0, 0
        for t in set(query_terms):
            tf = ws.count(t)
            if tf == 0:
                continue
            matched += 1
            qtf = query_terms.count(t)
            s += qtf * math.log(1.0 + tf / (mu * cf[t] / total))
        if matched:
            out[d] = (matched, s + qlen * math.log(mu / (len(ws) + mu)))
    return out


def test_qlm_matches_python_reference(spark, docs_df):
    from spacy_ann_linker_spark.extras.retrieval import qlm_score

    qs = spark.createDataFrame(
        [("q1", "quick fox"), ("q2", "lazy dog")],
        "query_id string, query_text string",
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["n_matched_terms"], r["score"])
        for r in qlm_score(docs_df, qs).collect()
    }
    for qid, terms in (("q1", ["quick", "fox"]), ("q2", ["lazy", "dog"])):
        ref = _py_qlm(terms)
        assert {d for q, d in got if q == qid} == set(ref)
        for d, (m, s) in ref.items():
            gm, gs = got[(qid, d)]
            assert gm == m
            assert gs == pytest.approx(s, abs=1e-12)


def test_qlm_rank_equivalent_to_full_dirichlet_log_prob(spark, docs_df):
    """The matched-terms-only form must order docs exactly as the FULL
    smoothed log P(q|d) = sum over q of ln((tf + mu*p(t|C)) / (dl + mu))
    does — the property that justifies dropping unmatched terms."""
    from spacy_ann_linker_spark.extras.retrieval import qlm_score

    mu = 2000.0
    toks = {d: t.lower().split() for d, t in DOCS}
    total = sum(len(v) for v in toks.values())
    cf = {}
    for ws in toks.values():
        for t in ws:
            cf[t] = cf.get(t, 0) + 1
    query = ["quick", "dog"]

    def full(d):
        ws = toks[d]
        return sum(
            math.log((ws.count(t) + mu * cf[t] / total) / (len(ws) + mu))
            for t in query
        )

    qs = spark.createDataFrame([("q", "quick dog")], "query_id string, query_text string")
    got = {r["doc_id"]: r["score"] for r in qlm_score(docs_df, qs).collect()}
    matched = sorted(got, key=lambda d: got[d], reverse=True)
    by_full = sorted(got, key=full, reverse=True)
    assert matched == by_full


def test_qlm_length_normalization_prefers_shorter_at_equal_tf(spark):
    from spacy_ann_linker_spark.extras.retrieval import qlm_score

    df = spark.createDataFrame(
        [
            ("short", "target word here"),
            ("long", "target word here plus many extra unrelated filler tokens"),
        ],
        "doc_id string, text string",
    )
    qs = spark.createDataFrame([("q", "target")], "query_id string, query_text string")
    got = {r["doc_id"]: r["score"] for r in qlm_score(df, qs).collect()}
    assert got["short"] > got["long"]


def test_rrf_hand_computed_with_missing_docs(spark):
    from spacy_ann_linker_spark.extras.retrieval import rrf_fuse

    # system A ranks d1 > d2 > d3; system B ranks d2 > d1 and has no d3
    a = spark.createDataFrame(
        [("q", "d1", 3.0), ("q", "d2", 2.0), ("q", "d3", 1.0)],
        "query_id string, doc_id string, score double",
    )
    b = spark.createDataFrame(
        [("q", "d2", 9.0), ("q", "d1", 8.0)],
        "query_id string, doc_id string, score double",
    )
    got = {
        r["doc_id"]: (r["n_systems"], r["rrf_score"])
        for r in rrf_fuse([a, b], k=60).collect()
    }
    assert got["d1"] == (2, pytest.approx(1 / 61 + 1 / 62))
    assert got["d2"] == (2, pytest.approx(1 / 62 + 1 / 61))
    assert got["d3"] == (1, pytest.approx(1 / 63))


def test_rrf_tie_break_and_score_rounding(spark):
    from spacy_ann_linker_spark.extras.retrieval import rrf_fuse

    # scores equal after 6-dp rounding -> rank by doc_id ascending
    a = spark.createDataFrame(
        [("q", "dB", 1.0000004), ("q", "dA", 1.0000001)],
        "query_id string, doc_id string, score double",
    )
    got = {
        r["doc_id"]: r["rrf_score"]
        for r in rrf_fuse([a], k=60, score_round=6).collect()
    }
    assert got["dA"] == pytest.approx(1 / 61)
    assert got["dB"] == pytest.approx(1 / 62)
    # unrounded, dB genuinely outranks dA
    got2 = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse([a], k=60).collect()}
    assert got2["dB"] == pytest.approx(1 / 61)


# ------------------------------------------------------- ranking metrics


def test_ranking_metrics_hand_computed(spark):
    from spacy_ann_linker_spark.evaluate import ranking_metrics

    # ranked order: d1 d2 d3 d4; relevant: d1 (rel 2), d3 (rel 1), d9 (rel 1,
    # never retrieved — must count against AP denominator and ideal DCG)
    ranked = spark.createDataFrame(
        [("q", "d1", 4.0), ("q", "d2", 3.0), ("q", "d3", 2.0), ("q", "d4", 1.0)],
        "query_id string, doc_id string, score double",
    )
    qrels = spark.createDataFrame(
        [("q", "d1", 2), ("q", "d3", 1), ("q", "d9", 1)],
        "query_id string, doc_id string, rel int",
    )
    row = ranking_metrics(ranked, qrels, k=10).collect()[0]
    dcg = (2**2 - 1) / math.log2(2) + (2**1 - 1) / math.log2(4)
    idcg = (2**2 - 1) / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert row["ndcg_at_k"] == pytest.approx(dcg / idcg)
    # AP: hits at ranks 1 (prec 1/1) and 3 (prec 2/3); denominator 3 rel
    assert row["ap"] == pytest.approx((1.0 + 2.0 / 3.0) / 3)
    assert (row["n_retrieved"], row["n_rel"]) == (4, 3)


def test_ranking_metrics_perfect_and_zero(spark):
    from spacy_ann_linker_spark.evaluate import ranking_metrics

    ranked = spark.createDataFrame(
        [("p", "d1", 2.0), ("p", "d2", 1.0), ("z", "d1", 2.0)],
        "query_id string, doc_id string, score double",
    )
    qrels = spark.createDataFrame(
        [("p", "d1", 1), ("p", "d2", 1)],
        "query_id string, doc_id string, rel int",
    )
    by = {r["query_id"]: r for r in ranking_metrics(ranked, qrels, k=10).collect()}
    assert by["p"]["ndcg_at_k"] == pytest.approx(1.0)
    assert by["p"]["ap"] == pytest.approx(1.0)
    # query with no relevant docs at all: well-defined zeros, row kept
    assert by["z"]["ndcg_at_k"] == 0.0 and by["z"]["ap"] == 0.0 and by["z"]["n_rel"] == 0


def test_ranking_metrics_k_cutoff(spark):
    from spacy_ann_linker_spark.evaluate import ranking_metrics

    # relevant doc sits at rank 3; with k=2 it is outside the DCG window
    ranked = spark.createDataFrame(
        [("q", "d1", 3.0), ("q", "d2", 2.0), ("q", "d3", 1.0)],
        "query_id string, doc_id string, score double",
    )
    qrels = spark.createDataFrame(
        [("q", "d3", 1)], "query_id string, doc_id string, rel int"
    )
    row = ranking_metrics(ranked, qrels, k=2).collect()[0]
    assert row["ndcg_at_k"] == 0.0
    # AP has no cutoff: hit at rank 3, one relevant doc
    assert row["ap"] == pytest.approx(1.0 / 3.0)


def test_rocchio_prf_terms_matches_python_reference(spark):
    """Expansion-term selection replayed in plain python: BM25 first pass,
    top-2 feedback docs (rounded-score rank, doc tie), candidate terms =
    feedback vocabulary minus query terms, weight = summed BM25 contribution
    with TRUE corpus df, top-3 by (rounded weight, term)."""
    import math

    from spacy_ann_linker_spark.extras.retrieval import rocchio_prf_terms

    corpus = [
        (1, "hash join merge join strategies for distributed engines"),
        (2, "the hash join outperforms sort merge join on skewed keys"),
        (3, "broadcast strategies beat shuffle joins on small dimensions"),
        (4, "gardening tips for spring tomatoes"),
        (5, "merge sort is a stable comparison sort"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id int, text string")
    qs = spark.createDataFrame([("q1", "hash join")], "query_id string, query_text string")
    got = {
        (r.query_id, r.term, r.rank): r.weight
        for r in rocchio_prf_terms(docs, qs, fb_docs=2, fb_terms=3).collect()
    }

    k1, b = 1.2, 0.75
    toks = {d: t.lower().split() for d, t in corpus}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for v in toks.values():
        for t in set(v):
            df[t] = df.get(t, 0) + 1

    def contrib(t, d):
        tf = toks[d].count(t)
        idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks[d]) / avgdl))

    qt = {"hash", "join"}
    base = {d: sum(contrib(t, d) for t in qt if t in toks[d]) for d in toks
            if any(t in toks[d] for t in qt)}
    fb = sorted(base, key=lambda d: (-round(base[d], 6), d))[:2]
    cands = {t for d in fb for t in toks[d]} - qt
    w = {t: sum(contrib(t, d) for d in fb if t in toks[d]) for t in cands}
    top = sorted(w, key=lambda t: (-round(w[t], 6), t))[:3]
    want = {("q1", t, i + 1): w[t] for i, t in enumerate(top)}
    assert set(got) == set(want)
    for key in want:
        assert abs(got[key] - want[key]) < 1e-9


def test_bm25_prf_surfaces_expansion_only_docs(spark):
    """The point of PRF: a doc sharing NO term with the query but matching
    the expansion vocabulary must appear in the second pass (absent from
    the first), and original-term matches must keep a weight-1 head start
    over beta-weighted expansion matches of equal strength."""
    from spacy_ann_linker_spark.extras.retrieval import bm25_prf_score, bm25_score

    corpus = [
        (1, "hash join merge join strategies for distributed engines"),
        (2, "the hash join outperforms sort merge join on skewed keys"),
        (3, "skewed keys need salting strategies"),  # no query term
        (4, "gardening tips for spring tomatoes"),
        (5, "merge sort is a stable comparison sort"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id int, text string")
    qs = spark.createDataFrame([("q1", "hash join")], "query_id string, query_text string")
    base_ids = {r.doc_id for r in bm25_score(docs, qs).collect()}
    # fb_terms=8 reaches past the df=1 head of this tiny corpus down to the
    # shared terms ("strategies" rank 8, "for" rank 7 — verified ordering)
    prf = bm25_prf_score(docs, qs, fb_docs=2, fb_terms=8, beta=0.5)
    prf_ids = {r.doc_id for r in prf.collect()}
    assert 3 not in base_ids
    assert 3 in prf_ids  # surfaced through "strategies"
    assert 4 in prf_ids  # surfaced through "for"
    assert base_ids < prf_ids


def test_bm25_prf_beta_zero_keeps_first_pass_scores(spark):
    """beta = 0: expansion terms join the match set (n_matched_terms grows)
    but contribute zero weight — every score equals the first pass where
    the doc appeared there."""
    from spacy_ann_linker_spark.extras.retrieval import bm25_prf_score, bm25_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    qs = spark.createDataFrame(
        [("q1", "hash join merge")], "query_id string, query_text string"
    )
    base = {r.doc_id: r.score for r in bm25_score(docs, qs).collect()}
    prf = {r.doc_id: r.score for r in bm25_prf_score(docs, qs, beta=0.0).collect()}
    for d, s in base.items():
        assert abs(prf[d] - s) < 1e-9
