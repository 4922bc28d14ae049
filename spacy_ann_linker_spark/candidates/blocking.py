"""Blocking-based candidate generation — the declared 100 TB path.

The exact path (candidates/generate.py) computes cosine for every
(mention, alias) pair sharing >= 1 vocabulary ngram. Its cost is the join on
ngram `idx`, and a pathologically hot ngram (" a ", "ing") multiplies both
sides. This module bounds that cost the way the north_star prescribes:
MinHash-LSH over char 3-gram sets + sorted-neighborhood prefix blocks
produce a candidate PAIR set first; the exact cosine then runs only on those
pairs. Recall is tunable (num_hashes/bands, prefix length) and is validated
against the exact join in tests — the same role efSearch plays for the
reference's HNSW (candidate_generator.py:39,157).

All stages are joins/aggregations on hashes — no Python in the pair
generation at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spacy_ann_linker_spark.functions.ngrams import char_wb_ngrams_col


def _gram_set(df: DataFrame, col: str, out: str = "g") -> DataFrame:
    """(col, g): distinct char_wb 3-grams per string (same analyzer as the
    vectorizer, so LSH blocks agree with cosine features)."""
    return df.select(
        F.col(col), F.explode(F.array_distinct(char_wb_ngrams_col(F.col(col)))).alias(out)
    )


def minhash_band_keys(
    df: DataFrame, col: str, num_hashes: int = 24, bands: int = 12
) -> DataFrame:
    """(col, band, bucket): LSH band keys from minhash signatures over the
    string's 3-gram set. rows-per-band = num_hashes // bands; with r=2,
    b=12, pairs at Jaccard s collide with prob 1-(1-s^2)^12 (>=0.96 at
    s=0.5).

    ONE groupBy with num_hashes min-aggregators (the extras/dedup.py
    _minhash_wide shape) — NOT an explode over seeds, which multiplied
    the shuffle input num_hashes-fold on every call; this runs per BATCH on
    the mention side of the declared 100 TB blocked path, so the map-side
    partial aggregation seeing each gram row exactly once is the property
    that keeps the per-batch shuffle linear in gram rows. Band buckets then
    derive in-row: xxhash64 over the band's r minhash longs directly (no
    second groupBy, no string concat)."""
    r = num_hashes // bands
    grams = _gram_set(df, col)
    aggs = [
        F.min(F.xxhash64("g", F.lit(s))).alias(f"_mh{s}") for s in range(num_hashes)
    ]
    wide = grams.groupBy(col).agg(*aggs)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"_mh{b * r + i}") for i in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    return (
        wide.select(F.col(col), F.explode(F.array(*band_structs)).alias("_bb"))
        .select(col, F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))
    )


def lsh_pairs(
    texts: DataFrame,
    aliases: DataFrame | None = None,
    num_hashes: int = 24,
    bands: int = 12,
    alias_keys: DataFrame | None = None,
    dedup: bool = True,
) -> DataFrame:
    """(text, alias) candidate pairs whose 3-gram minhash bands collide.

    Exactly ONE of `aliases` / `alias_keys` must be given. alias_keys is a
    precomputed `minhash_band_keys(aliases, "alias", ...)` — the alias side
    is static per model, so callers in a per-batch loop pass the cached
    table (CandidateModel.alias_band_keys) instead of re-running the
    signature groupBys every call; passing both is rejected rather than
    silently ignoring `aliases` (a stale alias_keys from a DIFFERENT alias
    table would yield wrong candidate pairs with no error).

    dedup=False returns the raw collision multiset (one row per colliding
    band) — for callers that union several blocking keys and pay ONE
    distinct over the union instead of one per block source
    (_sims_blocked); the default keeps the set contract."""
    if (aliases is None) == (alias_keys is None):
        raise ValueError("lsh_pairs: pass exactly one of aliases / alias_keys")
    t = minhash_band_keys(texts, "text", num_hashes, bands)
    a = alias_keys if alias_keys is not None else minhash_band_keys(
        aliases, "alias", num_hashes, bands
    )
    out = t.join(a, ["band", "bucket"]).select("text", "alias")
    return out.distinct() if dedup else out


def sorted_neighborhood_pairs(
    texts: DataFrame,
    aliases: DataFrame,
    prefix_len: int = 3,
    salt_buckets: int = 0,
    dedup: bool = True,
) -> DataFrame:
    """(text, alias) pairs sharing a lowercase prefix block — the
    sorted-neighborhood component: catches suffix-heavy typos that LSH's
    set-similarity can miss, since real-world typos rarely touch the first
    characters. Block key = first `prefix_len` chars; equivalent to a
    sort-merge neighborhood of width |block|.

    Skew: the prefix key is Zipf-hot on real gazetteers ("con", "the",
    "sta"...). Default (salt_buckets=0) is a plain equi-join — AQE skew-join
    (on in the session) splits oversized sort-merge partitions at runtime.
    For 10^8-alias gazetteers under static planning, salt_buckets>0 salts
    the ALIAS side (each alias picks a deterministic bucket from its own
    string) and replicates the per-batch text side into all buckets — the
    operators/salted.py pattern the 1-char JW rescue join uses
    (link/linker.py); pair set is identical either way (skew test asserts
    it on a Zipf-hot block).

    dedup=False returns the raw block-join multiset (the lsh_pairs
    union-of-blocks contract: callers pay one distinct over the combined
    candidate stream instead of one per source)."""
    t = texts.withColumn("_bk", F.lower(F.substring("text", 1, prefix_len)))
    a = aliases.withColumn("_bk", F.lower(F.substring("alias", 1, prefix_len)))
    if salt_buckets > 0:
        from spacy_ann_linker_spark.operators.salted import salted_join

        out = salted_join(
            big=a, small=t, key="_bk", salt_buckets=salt_buckets,
            salt_source="alias",
        ).select("text", "alias")
        return out.distinct() if dedup else out
    out = t.join(a, "_bk").select("text", "alias")
    return out.distinct() if dedup else out


def sliding_window_sn_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    bucket_prefix_len: int = 1,
) -> DataFrame:
    """TRUE sliding-window sorted neighborhood (Hernández & Stolfo,
    SIGMOD'95 merge/purge): impose ONE global order on all records by
    (key, id) and pair every record with the `window - 1` records that
    follow it — exactly w-1 candidate pairs per record regardless of how
    keys cluster. This is the bounded-output complement to the equi-key
    variant above (`sorted_neighborhood_pairs` pairs whole prefix BLOCKS:
    a hot prefix makes a quadratic block; the sliding window by
    construction cannot).

    The global rank is the distributed-SN crux — a bare
    row_number() OVER (ORDER BY key) collapses to ONE reducer. Standard
    two-level recipe instead: records bucket by an ORDER-COMPATIBLE key
    prefix (prefix buckets are contiguous under the same lexicographic
    order, so per-bucket ranks + bucket offsets compose to the exact
    global rank); per-bucket row_numbers run in parallel; offsets come
    from one cumulative window over the |buckets|-row count table (tiny —
    that is the only globally-ordered window, and it never sees record
    rows). `bucket_prefix_len` is the parallelism/skew knob: each bucket
    is one window partition, so lengthen the prefix until the hottest
    bucket fits a reducer.

    Neighbor join: each record explodes to w-1 (rank + d) probes and
    equi-joins on the successor rank — ranks are DENSE integers, so the
    join keys are perfectly uniform (no skew by construction, the reason
    SN survives Zipf keys that break block joins). Records orient by rank
    (id_a precedes id_b in sort order). -> (id_a, id_b, key_a, key_b,
    w_dist), w_dist in [1, window-1]."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from spacy_ann_linker_spark.operators.rank import global_row_number

    keyed = df.select(F.col(id_col).alias("_rid"), F.col(key_col).alias("_k"))
    ranked = global_row_number(
        keyed,
        ["_k", "_rid"],
        F.substring("_k", 1, bucket_prefix_len),
        out_col="_rank",
    )
    probes = ranked.select(
        F.col("_rid").alias("id_a"),
        F.col("_k").alias("key_a"),
        F.col("_rank").alias("_ra"),
        F.explode(F.array(*[F.lit(d) for d in range(1, window)])).alias("w_dist"),
    ).withColumn("_rb", F.col("_ra") + F.col("w_dist"))
    succ = ranked.select(
        F.col("_rid").alias("id_b"),
        F.col("_k").alias("key_b"),
        F.col("_rank").alias("_rb"),
    )
    return probes.join(succ, "_rb").select("id_a", "id_b", "key_a", "key_b", "w_dist")


def token_block_pairs(
    records: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    min_common: int = 2,
    max_token_df: int | None = None,
) -> DataFrame:
    """Token blocking with common-block weighting — the meta-blocking
    recipe (Papadakis et al.): every distinct lowercase token of a record
    is a block key; candidate pairs are records sharing >= min_common
    tokens, and `common_blocks` is the CBS edge weight (number of shared
    blocks), so min_common IS weight-edge pruning with a constant
    threshold. Complements the linker-side blocks (LSH / prefix
    key texts against a gazetteer): this one is records×records
    over a single table — the dedup/ER shape.

    Cost is Σ_tok df(tok)² — the posting-list self-join — so the hot-token
    cap `max_token_df` is the scale knob (the analogue of the exact path's
    max_gram_df): stop-word-like tokens whose df exceeds the cap are
    dropped BEFORE the join (standard block purging; they carry no
    discriminating signal and quadratic cost). When the cap is on,
    singleton tokens (df=1) are also dropped — they cannot produce a pair
    but would ride the join input. The df filter joins on the same key the
    self-join shuffles on, so it adds no extra shuffle of the posting
    table. Output: (id_a, id_b, common_blocks) with id_a < id_b."""
    toks = records.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(
                F.array_remove(
                    F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), ""
                )
            )
        ).alias("tok"),
    )
    if max_token_df is not None:
        keep = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter((F.col("_df") <= max_token_df) & (F.col("_df") >= 2))
            .select("tok")
        )
        toks = toks.join(keep, "tok")
    a = toks.select(F.col("_id").alias("id_a"), "tok")
    b = toks.select(F.col("_id").alias("id_b"), "tok")
    return (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common_blocks"))
        .filter(F.col("common_blocks") >= min_common)
    )


def suffix_block_pairs(
    records: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    min_suffix_len: int = 4,
    max_block_size: int = 50,
) -> DataFrame:
    """Suffix-array blocking (Aizawa & Oyama 2005) — the blocking key that
    catches HEAD typos, which prefix / sorted-neighborhood blocking
    structurally cannot ("kristina"/"christina" share no prefix but share
    the suffixes "ristina".."tina"): every suffix of the normalized value
    with length >= min_suffix_len is a block key; candidate pairs are
    records sharing any surviving suffix block.

    Cost is Σ_suffix df² — the posting self-join — so `max_block_size` is
    the standard suffix-blocking purge rule: blocks bigger than the cap
    ("...street", "...corp") carry no discrimination and all the quadratic
    cost, so they are dropped BEFORE the join (the token_block_pairs /
    max_gram_df discipline; singleton blocks drop too — they cannot pair).
    Suffix generation is fully IN-ROW (transform over a sequence — no UDF);
    a record contributes len - min_suffix_len + 1 posting rows, the
    df filter joins on the same key the self-join shuffles on (no extra
    shuffle of the posting table), and `n_common_suffixes` comes back as
    the edge weight for meta-blocking-style pruning downstream.
    -> (id_a, id_b, n_common_suffixes), id_a < id_b."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    sufs = F.when(
        F.length(norm) >= min_suffix_len,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (min_suffix_len - 1)),
            lambda i: norm.substr(i, F.length(norm)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    posting = records.select(
        F.col(id_col).alias("_id"), F.explode(F.array_distinct(sufs)).alias("suf")
    )
    keep = (
        posting.groupBy("suf")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") <= max_block_size) & (F.col("_df") >= 2))
        .select("suf")
    )
    posting = posting.join(keep, "suf")
    a = posting.select(F.col("_id").alias("id_a"), "suf")
    b = posting.select(F.col("_id").alias("id_b"), "suf")
    return (
        a.join(b, "suf")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common_suffixes"))
    )


def meta_block_prune(
    pairs: DataFrame,
    method: str = "wep",
    k: int = 5,
    id_a: str = "id_a",
    id_b: str = "id_b",
    weight_col: str = "common_blocks",
) -> DataFrame:
    """Meta-blocking edge pruning (Papadakis et al., TKDE 2014) over a
    weighted candidate-pair graph — the step between block building
    (token_block_pairs' CBS weights) and pairwise matching that discards
    the low-signal majority of candidate pairs before the expensive
    comparisons.

    method="wep" (Weighted Edge Pruning): keep edges whose weight exceeds
    the GLOBAL mean edge weight (strictly >, the paper's convention). The
    mean is a one-row aggregate broadcast back over the edge table — one
    pass, no shuffle of the edges at all (the filter is a map).

    method="cnp" (Cardinality Node Pruning): per NODE, keep the top-k
    incident edges by (weight desc, neighbor asc — deterministic ties);
    an edge survives if EITHER endpoint retains it (the paper's
    redistribution union). Each undirected edge is viewed from both
    endpoints (one cheap union = a 2× map-side expansion, nothing like a
    blow-up), then one groupBy(node) top-k — rank<=k is a
    WindowGroupLimit, so partial top-k runs map-side before the single
    shuffle — and a semi-join-free distinct on the surviving directed
    views restores the undirected edge set. Scale shape: linear in edges;
    hot nodes cost df(node)·log k in the per-partition heap, never a
    quadratic re-join.

    Output keeps (id_a, id_b, weight_col)."""
    w = F.col(weight_col).cast("double")
    if method == "wep":
        mean = pairs.agg(F.avg(w).alias("_mw"))
        return (
            pairs.crossJoin(F.broadcast(mean))
            .filter(w > F.col("_mw"))
            .drop("_mw")
        )
    if method != "cnp":
        raise ValueError(f"unknown meta-blocking method: {method!r}")
    directed = pairs.select(
        F.col(id_a).alias("node"), F.col(id_b).alias("peer"), F.col(weight_col)
    ).unionByName(
        pairs.select(
            F.col(id_b).alias("node"), F.col(id_a).alias("peer"), F.col(weight_col)
        )
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy("node").orderBy(
            F.col(weight_col).cast("double").desc(), F.col("peer").asc()
        )
    )
    kept = directed.withColumn("_r", rank).filter(F.col("_r") <= k)
    return (
        kept.select(
            F.least("node", "peer").alias(id_a),
            F.greatest("node", "peer").alias(id_b),
            F.col(weight_col),
        )
        .distinct()
    )
