"""Blocked (LSH + sorted-neighborhood) candidate generation vs the exact
join — recall validation, the role HNSW recall tuning plays in the
reference. Plus salted-join equivalence."""

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.candidates.blocking import (
    lsh_pairs,
    sorted_neighborhood_pairs,
)
from spacy_ann_linker_spark.candidates.generate import _sims_blocked, _sims_exact
from spacy_ann_linker_spark.operators.salted import salted_count_by_key, salted_join


@pytest.fixture(scope="module")
def prod_model(spark):
    from spacy_ann_linker_spark.pipeline import build_golden_model

    return build_golden_model(spark, min_df=1).cand


@pytest.fixture(scope="module")
def mention_corpus(spark):
    # verbatim aliases + typo'd variants (the realistic query mix)
    rows = [
        ("Research",), ("research",), ("Reserch",), ("Resarch",),
        ("Machine learning",), ("Machin lerning",), ("machine learning",),
        ("Natural language processing",), ("Natual language procesing",),
        ("Operating system",), ("Oprating system",), ("Statistics",),
        ("Stereochemistry",), ("Agronomy",), ("Agronmy",), ("ML",), ("OS",),
    ]
    return spark.createDataFrame(rows, "text string")


def test_blocked_recall_vs_exact(spark, prod_model, mention_corpus):
    exact = _sims_exact(prod_model, mention_corpus)
    blocked = _sims_blocked(prod_model, mention_corpus)
    # every above-threshold exact candidate must be found by the blocked path
    e = {(r["text"], r["alias"]) for r in exact.filter(F.col("similarity") > 0.7).collect()}
    b = {(r["text"], r["alias"]) for r in blocked.filter(F.col("similarity") > 0.7).collect()}
    missing = e - b
    assert not missing, f"blocked path missed: {missing}"
    # and similarities agree exactly where both produce the pair (same cosine)
    es = {(r["text"], r["alias"]): r["similarity"] for r in exact.collect()}
    for r in blocked.collect():
        key = (r["text"], r["alias"])
        if key in es:
            assert r["similarity"] == pytest.approx(es[key], abs=1e-12)


def test_lsh_pairs_find_identical_strings(spark, prod_model):
    t = spark.createDataFrame([("research",), ("Research",)], "text string")
    pairs = lsh_pairs(t, prod_model.aliases)
    got = {(r["text"], r["alias"]) for r in pairs.collect()}
    assert ("research", "Research") in got and ("Research", "Research") in got


def test_sorted_neighborhood_catches_suffix_typos(spark, prod_model):
    t = spark.createDataFrame([("Reseqqqqq",)], "text string")  # LSH-hostile
    pairs = sorted_neighborhood_pairs(t, prod_model.aliases)
    assert ("Reseqqqqq", "Research") in {(r["text"], r["alias"]) for r in pairs.collect()}


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(k, i) for k in ["hot", "warm", "cold"] for i in range(50 if k == "hot" else 5)],
        "k string, v int",
    )
    small = spark.createDataFrame([("hot", 1.0), ("cold", 2.0)], "k string, w double")
    plain = big.join(small, "k").orderBy("k", "v").collect()
    salted = salted_join(big, small, "k", salt_buckets=8).orderBy("k", "v").collect()
    assert plain == salted


def test_salted_count_equals_groupby(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", i) for i in range(7)], "k string, v int"
    )
    want = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    got = {r["k"]: r["count"] for r in salted_count_by_key(df, "k").collect()}
    assert got == want


def test_linker_with_blocking_keeps_f1(spark):
    """VERDICT item 6: the blocked candidate path wired into link_transcripts
    keeps pairwise F1 >= 0.99 on synthetic transcripts."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.data.transcripts import generate_full
    from spacy_ann_linker_spark.evaluate import pairwise_f1
    from spacy_ann_linker_spark.pipeline import build_golden_model, link_transcripts

    model = build_golden_model(spark, min_df=1)
    full = generate_full(spark, 2000)
    turns = full.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    mentions = full.filter(F.col("mention").isNotNull()).select(
        "conv_id", "turn_idx",
        F.xxhash64("conv_id", "turn_idx", "start").alias("mention_id"),
        F.col("mention").alias("text"), "start", "end",
        F.lit(None).cast("string").alias("label"),
    )
    labels = full.filter(F.col("mention").isNotNull()).select(
        "conv_id", "turn_idx", "start", "mention", "gold_entity", "block_key"
    )
    links = link_transcripts(
        model, turns, mentions=mentions, fuzzy_rescue=True, use_blocking=True
    )
    m = pairwise_f1(links, labels)
    assert m["precision"] >= 0.99
    assert m["f1"] >= 0.99


def test_max_gram_df_bounds_join_and_keeps_exact_hits(spark):
    """The hot-gram df-cap prunes posting lists monotonically: capped
    similarity <= exact, verbatim aliases still score 1.0 via branches, and
    a tiny cap strictly shrinks the pair set."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.candidates.generate import (
        fit_candidate_model,
        generate_best_candidates,
        _sims_exact,
    )
    from spacy_ann_linker_spark.data import golden_kb
    from spacy_ann_linker_spark.kb.build import build_kb

    kb = build_kb(golden_kb.load_entities(spark), golden_kb.load_aliases(spark))
    model = fit_candidate_model(kb, min_df=1)
    texts = spark.createDataFrame(
        [("machine lerning",), ("neuro linguistic programing",), ("Research",)],
        "text string",
    )
    exact = {
        (r["text"], r["alias"]): r["similarity"]
        for r in _sims_exact(model, texts).collect()
    }
    capped_rows = _sims_exact(model, texts, max_gram_df=3).collect()
    capped = {(r["text"], r["alias"]): r["similarity"] for r in capped_rows}
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v <= exact[k] + 1e-12
    # a 1-df cap kills (almost) every posting -> far fewer pairs
    tiny = _sims_exact(model, texts, max_gram_df=0).count()
    assert tiny == 0
    # verbatim mention still links at 1.0 through the exact fast path
    best = generate_best_candidates(
        model, texts, exact_fast_path=True, max_gram_df=3
    ).collect()
    by_text = {r["text"]: (r["alias"], r["similarity"]) for r in best}
    assert by_text["Research"] == ("Research", 1.0)


def test_alias_band_keys_cached_per_params(spark, prod_model):
    """The alias-side LSH band keys are static per model: repeated calls
    (the serve loop / every streaming micro-batch) must reuse one persisted
    table per (num_hashes, bands), not re-run the signature groupBys."""
    a = prod_model.alias_band_keys(24, 12)
    b = prod_model.alias_band_keys(24, 12)
    assert a is b
    c = prod_model.alias_band_keys(16, 8)
    assert c is not a
    # and the cached table agrees with a fresh computation
    from spacy_ann_linker_spark.candidates.blocking import minhash_band_keys

    fresh = minhash_band_keys(prod_model.aliases, "alias", 24, 12)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, fresh.collect()))


def test_minhash_band_keys_single_groupby_no_seed_explode(spark, prod_model):
    """The per-batch mention side of the blocked path must build its minhash
    signatures with ONE map-side-combined groupBy holding num_hashes min
    aggregators — never an explode over seeds, which multiplies the gram
    shuffle input num_hashes-fold on every micro-batch."""
    from spacy_ann_linker_spark.candidates.blocking import minhash_band_keys

    t = spark.createDataFrame([("research",), ("statistics",)], "text string")
    keys = minhash_band_keys(t, "text", 24, 12)
    plan = keys._sc._jvm.PythonSQLUtils.explainString(
        keys._jdf.queryExecution(), "formatted"
    )
    # the old seed explode materialized explode(sequence(0, num_hashes-1)) as
    # an extra Generate BEFORE the aggregation; the only Generates allowed are
    # the gram explode (pre-agg) and the in-row band explode (post-agg), and
    # the whole signature computation is ONE map-side-combined exchange
    assert plan.count("+- Generate") + plan.count(":- Generate") == 2, plan[:2000]
    assert plan.count("+- Exchange") == 1, plan[:2000]
    assert "partial_min" in plan  # map-side combine over the gram rows
    # contract: every string emits exactly `bands` (band, bucket) rows,
    # deterministic run to run
    rows = keys.collect()
    assert len(rows) == 2 * 12
    assert sorted(map(tuple, rows)) == sorted(map(tuple, minhash_band_keys(t, "text", 24, 12).collect()))


def test_lsh_pairs_rejects_both_alias_args(spark, prod_model):
    import pytest as _pytest

    t = spark.createDataFrame([("research",)], "text string")
    keys = prod_model.alias_band_keys(24, 12)
    with _pytest.raises(ValueError, match="exactly one"):
        lsh_pairs(t, prod_model.aliases, alias_keys=keys)
    with _pytest.raises(ValueError, match="exactly one"):
        lsh_pairs(t)


def test_sorted_neighborhood_salted_identical_on_zipf_hot_prefix(spark):
    """Zipf-hot prefix blocks (most aliases share one 3-char prefix, as with
    "con"/"the"/"sta" on real gazetteers): the salted variant must return the
    IDENTICAL pair set as the plain join while splitting the hot block key
    across salt buckets. Also pins that salting replicates the text side, so
    every (text, alias) pair in the hot block still meets exactly once."""
    from spacy_ann_linker_spark.candidates.blocking import sorted_neighborhood_pairs

    # 400 aliases, 320 of them in one hot "con" block (Zipf head)
    aliases = spark.createDataFrame(
        [(f"Consolidated Corp {i}",) for i in range(320)]
        + [(f"Zeta Labs {i}",) for i in range(80)],
        "alias string",
    )
    texts = spark.createDataFrame(
        [("consolidated corp 7",), ("Connecticut",), ("zeta labs 3",), ("Quark",)],
        "text string",
    )
    plain = sorted_neighborhood_pairs(texts, aliases)
    salted = sorted_neighborhood_pairs(texts, aliases, salt_buckets=8)
    p = {(r["text"], r["alias"]) for r in plain.collect()}
    s = {(r["text"], r["alias"]) for r in salted.collect()}
    assert p == s
    assert len(p) == 2 * 320 + 80  # hot-block pairs present, Quark matches none


# ---- token_block_pairs ------------------------------------------------------


def test_token_block_pairs_hand_counted_weights_and_threshold(spark):
    from spacy_ann_linker_spark.candidates.blocking import token_block_pairs

    recs = spark.createDataFrame(
        [
            (1, "acme steel works"),
            (2, "acme steel supply"),
            (3, "acme consulting"),
            (4, "zenith labs"),
        ],
        "id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["common_blocks"]
        for r in token_block_pairs(recs, min_common=1).collect()
    }
    # (1,2) share acme+steel=2; (1,3)/(2,3) share acme=1; 4 shares nothing
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
    strict = {
        (r["id_a"], r["id_b"]): r["common_blocks"]
        for r in token_block_pairs(recs, min_common=2).collect()
    }
    assert strict == {(1, 2): 2}


def test_token_block_pairs_hot_token_purge(spark):
    """max_token_df drops stop-word-like blocks BEFORE the self-join: with
    'inc' in every record, the cap removes it and only the rare-token pair
    survives; tokens are distinct per record (repeats count once)."""
    from spacy_ann_linker_spark.candidates.blocking import token_block_pairs

    recs = spark.createDataFrame(
        [
            (1, "alpha inc inc"),
            (2, "alpha inc"),
            (3, "beta inc"),
            (4, "gamma inc"),
        ],
        "id int, text string",
    )
    uncapped = {
        (r["id_a"], r["id_b"]): r["common_blocks"]
        for r in token_block_pairs(recs, min_common=1).collect()
    }
    assert uncapped == {(1, 2): 2, (1, 3): 1, (1, 4): 1, (2, 3): 1, (2, 4): 1, (3, 4): 1}
    capped = {
        (r["id_a"], r["id_b"]): r["common_blocks"]
        for r in token_block_pairs(recs, min_common=1, max_token_df=3).collect()
    }
    # 'inc' (df=4) purged by the cap; 'beta'/'gamma' (df=1) dropped by the
    # >=2 floor; only 'alpha' (df=2) survives -> one pair, weight 1
    assert capped == {(1, 2): 1}


def test_token_block_pairs_matches_python_reference_random(spark):
    import itertools
    import random
    import re

    from spacy_ann_linker_spark.candidates.blocking import token_block_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.sample(vocab, rng.randrange(1, 5)))) for i in range(40)
    ]
    toksets = {i: set(re.split(r"[^a-z0-9]+", t.lower())) - {""} for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(toksets), 2):
        c = len(toksets[a] & toksets[b])
        if c >= 2:
            want[(a, b)] = c
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        (r["id_a"], r["id_b"]): r["common_blocks"]
        for r in token_block_pairs(df, min_common=2).collect()
    }
    assert got == want


# ---- meta_block_prune -------------------------------------------------------


def _pairs_df(spark, rows):
    return spark.createDataFrame(rows, "id_a int, id_b int, common_blocks bigint")


def test_meta_block_wep_strict_mean_cut(spark):
    from spacy_ann_linker_spark.candidates.blocking import meta_block_prune

    # weights 1,1,2,4 -> mean 2.0; strict > keeps only the 4
    pairs = _pairs_df(spark, [(1, 2, 1), (1, 3, 1), (2, 3, 2), (3, 4, 4)])
    got = {(r["id_a"], r["id_b"]) for r in meta_block_prune(pairs, "wep").collect()}
    assert got == {(3, 4)}


def test_meta_block_cnp_topk_union_and_ties(spark):
    from spacy_ann_linker_spark.candidates.blocking import meta_block_prune

    # node 1 has three edges; k=1 keeps its best (weight 5 -> (1,4)); but
    # (1,2) survives via node 2's side (it is node 2's only edge), and
    # (1,3) survives via node 3. The union redistribution keeps all three.
    pairs = _pairs_df(spark, [(1, 2, 1), (1, 3, 2), (1, 4, 5)])
    got = {
        (r["id_a"], r["id_b"], r["common_blocks"])
        for r in meta_block_prune(pairs, "cnp", k=1).collect()
    }
    assert got == {(1, 2, 1), (1, 3, 2), (1, 4, 5)}

    # star from 0 to 1..4, equal weights: deterministic tie-break keeps the
    # LOWEST peer for node 0 at k=1; every leaf keeps its only edge anyway
    star = _pairs_df(spark, [(0, i, 7) for i in range(1, 5)])
    got = {(r["id_a"], r["id_b"]) for r in meta_block_prune(star, "cnp", k=1).collect()}
    assert got == {(0, 1), (0, 2), (0, 3), (0, 4)}
    # ...so isolate the center's own choice: drop leaf-side retention by
    # checking which edge appears when leaves also prefer a different hub
    two_hubs = _pairs_df(
        spark, [(0, 10, 7), (0, 11, 7), (10, 11, 9)]
    )
    got = {(r["id_a"], r["id_b"]) for r in meta_block_prune(two_hubs, "cnp", k=1).collect()}
    # node 0 keeps (0,10) (tie on 7 -> lowest peer); 10 and 11 keep (10,11)
    assert got == {(0, 10), (10, 11)}


def test_meta_block_cnp_matches_python_reference_random(spark):
    import random

    from spacy_ann_linker_spark.candidates.blocking import meta_block_prune

    rng = random.Random(23)
    edges = {}
    while len(edges) < 120:
        a, b = rng.randrange(30), rng.randrange(30)
        if a != b:
            edges[(min(a, b), max(a, b))] = rng.randint(1, 6)
    k = 3
    adj = {}
    for (a, b), w in edges.items():
        adj.setdefault(a, []).append((w, b))
        adj.setdefault(b, []).append((w, a))
    keep = set()
    for node, lst in adj.items():
        for w, peer in sorted(lst, key=lambda t: (-t[0], t[1]))[:k]:
            keep.add((min(node, peer), max(node, peer)))
    df = _pairs_df(spark, [(a, b, w) for (a, b), w in edges.items()])
    got = {(r["id_a"], r["id_b"]) for r in meta_block_prune(df, "cnp", k=k).collect()}
    assert got == keep

    # WEP against the same reference
    mean = sum(edges.values()) / len(edges)
    want = {(a, b) for (a, b), w in edges.items() if w > mean}
    got = {(r["id_a"], r["id_b"]) for r in meta_block_prune(df, "wep").collect()}
    assert got == want


def test_meta_block_unknown_method_raises(spark):
    from spacy_ann_linker_spark.candidates.blocking import meta_block_prune

    with pytest.raises(ValueError):
        meta_block_prune(_pairs_df(spark, [(1, 2, 1)]), "nope")


# ----------------------------------------------- sliding-window SN


def test_sliding_window_sn_exact_pairs_small(spark):
    from spacy_ann_linker_spark.candidates.blocking import sliding_window_sn_pairs

    rows = [(1, "anna"), (2, "anne"), (3, "bob"), (4, "bobby"), (5, "carl")]
    df = spark.createDataFrame(rows, "rid int, name string")
    got = {
        (r["id_a"], r["id_b"], r["w_dist"])
        for r in sliding_window_sn_pairs(df, "rid", "name", window=3).collect()
    }
    # sort order: anna(1) anne(2) bob(3) bobby(4) carl(5); w=3 -> dist 1,2
    assert got == {
        (1, 2, 1), (1, 3, 2), (2, 3, 1), (2, 4, 2),
        (3, 4, 1), (3, 5, 2), (4, 5, 1),
    }


def test_sliding_window_sn_bounded_under_zipf_hot_key(spark):
    """The property that distinguishes it from equi-key blocking: a hot
    key contributes w-1 pairs per record, NEVER a quadratic block."""
    from spacy_ann_linker_spark.candidates.blocking import sliding_window_sn_pairs

    n = 200
    rows = [(i, "constantine") for i in range(n)] + [(n, "zeta")]
    df = spark.createDataFrame(rows, "rid int, name string")
    w = 5
    out = sliding_window_sn_pairs(df, "rid", "name", window=w)
    # an equi-key block on this input holds C(200, 2) = 19900 id pairs;
    # the window emits sum_d (n+1-d) — linear in n
    expect = sum((n + 1) - d for d in range(1, w))
    assert out.count() == expect


def test_sliding_window_sn_bucket_prefix_len_invariant(spark):
    """The two-level rank must be EXACT for any order-compatible bucket
    granularity — longer prefixes only change parallelism."""
    from spacy_ann_linker_spark.candidates.blocking import sliding_window_sn_pairs

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_name"
    )
    base = sorted(
        map(tuple, sliding_window_sn_pairs(cust, "c_custkey", "c_name", window=4).collect())
    )
    for p in (2, 4):
        got = sorted(
            map(
                tuple,
                sliding_window_sn_pairs(
                    cust, "c_custkey", "c_name", window=4, bucket_prefix_len=p
                ).collect(),
            )
        )
        assert got == base


def test_sliding_window_sn_window_validation(spark):
    from spacy_ann_linker_spark.candidates.blocking import sliding_window_sn_pairs

    df = spark.createDataFrame([(1, "a")], "rid int, name string")
    with pytest.raises(ValueError):
        sliding_window_sn_pairs(df, "rid", "name", window=1)


def test_suffix_block_pairs_catches_head_typos(spark):
    from spacy_ann_linker_spark.candidates.blocking import suffix_block_pairs

    df = spark.createDataFrame(
        [(1, "kristina"), (2, "christina"), (3, "bob")], "id int, text string"
    )
    got = {(r.id_a, r.id_b) for r in suffix_block_pairs(df, "id", "text").collect()}
    assert (1, 2) in got  # share suffixes "ristina".."tina" despite no common prefix


def test_suffix_block_pairs_matches_python_reference(spark):
    import itertools
    import random

    from spacy_ann_linker_spark.candidates.blocking import suffix_block_pairs

    rng = random.Random(13)
    rows = [
        (i, "".join(rng.choice("abcd") for _ in range(rng.randint(0, 10))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    min_len, cap = 3, 8

    def suffixes(t):
        t = " ".join(t.lower().split())
        return {t[i:] for i in range(len(t) - min_len + 1)} if len(t) >= min_len else set()

    post = {}
    for i, t in rows:
        for s in suffixes(t):
            post.setdefault(s, set()).add(i)
    want = {}
    for s, ids in post.items():
        if 2 <= len(ids) <= cap:
            for a, b in itertools.combinations(sorted(ids), 2):
                want[(a, b)] = want.get((a, b), 0) + 1
    got = {
        (r.id_a, r.id_b): r.n_common_suffixes
        for r in suffix_block_pairs(df, "id", "text", min_len, cap).collect()
    }
    assert got == want


def test_suffix_block_purges_hot_blocks(spark):
    from spacy_ann_linker_spark.candidates.blocking import suffix_block_pairs

    # 20 records ending in "street": the "street" suffix block (df=20)
    # exceeds the cap and is purged; unique-tail pairs still form
    rows = [(i, f"{chr(97 + i)}{chr(97 + i)} street") for i in range(20)]
    rows += [(100, "qq street"), (101, "zz lane"), (102, "zz lane")]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {(r.id_a, r.id_b) for r in suffix_block_pairs(df, "id", "text", 4, 5).collect()}
    # "q street"/"qq street" records pair through their shared rare suffix
    assert (16, 100) in got  # "qq street" twice (chr(97+16)='q')
    assert (101, 102) in got
    # no pair exists PURELY through the purged hot "street"-suffix blocks:
    # e.g. (0, 1) ("aa street" vs "bb street") must not pair
    assert (0, 1) not in got
