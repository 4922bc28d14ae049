"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash-LSH, SimHash, embedding-cosine near-dup.

All hash-based operators use a CROSS-ENGINE 60-bit hash (first 15 hex chars
of md5 as a bigint — `_h60`), computable identically in Spark and DuckDB, so
MinHash-LSH and SimHash are exactly oracle-checkable, not rows-only. The LSH
band-join is the 100 TB path (the Jaccard self-join is quadratic per shared
ngram and exists as the small-scale ground truth the LSH variants are
validated against in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spacy_ann_linker_spark.extras.text_analysis import _words


def _h60(col):
    """60-bit hash identical across engines:
    Spark  conv(substring(md5(x), 1, 15), 16, 10)::bigint
    DuckDB ('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT
    (15 hex chars = 60 bits, always non-negative, fits bigint in both)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def normalize(text_col):
    return F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup on normalized text:
    (canonical_id = min id, n_dups). Map-side combine; one shuffle."""
    return (
        df.select(F.col(id_col).alias("doc_id"), normalize(F.col(text_col)).alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("canonical_id", "n_dups")
    )


def char_ngrams_col(text_col, n: int = 3):
    """Distinct character n-grams of normalized text — pure JVM (sequence +
    transform + substr), no UDF. Texts shorter than n yield an EMPTY array:
    Spark's sequence(1, 0) defaults to step -1 and would emit [1, 0] (bogus
    whole-string/empty grams), so the sequence is guarded — matching DuckDB's
    generate_series(1, 0) = empty and plain set semantics."""
    norm = normalize(text_col)
    grams = F.when(
        F.length(norm) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (n - 1)),
            lambda i: norm.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _grams_with_size(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, sz, g) posting rows with the doc's DISTINCT-gram count
    riding each row IN-ROW. The explode(array(<expr>)) Generate barrier
    materializes the gram array exactly once per record (CollapseProject
    would otherwise re-evaluate the whole ngram expression separately for
    size() and for explode() — the known ~50x trap documented on the
    winnowing operators), so the per-doc size costs nothing — where the
    previous count-over-doc_id window paid a full exchange + sort of the
    posting stream before the join's own gram exchange. Requires unique
    ids per input row (both the window and in-row forms assume it)."""
    barrier = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(char_ngrams_col(F.col(text_col), n))).alias("_arr"),
    )
    return barrier.select(
        "doc_id", F.size("_arr").alias("sz"), F.explode("_arr").alias("g")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    join_partitions: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (id_a < id_b) with
    jaccard > threshold. Inverted-index self-join: |A ∩ B| via groupBy on
    shared grams, |A ∪ B| = |A| + |B| - |A ∩ B|.

    Each posting row carries its doc's gram-set size IN-ROW
    (_grams_with_size — no window, no sizes join). Both posting sides are
    hash-partitioned on the gram at an explicit count (join_partitions,
    None = defaultParallelism) — the prefix_filter_jaccard_pairs
    exploding-join discipline: candidate output >> posting input, so
    byte-based AQE coalescing would serialize the pair aggregation onto a
    couple of tasks."""
    grams = _grams_with_size(df, id_col, text_col, n)
    nparts = join_partitions or df.sparkSession.sparkContext.defaultParallelism
    a = grams.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "g"
    ).repartition(nparts, "g")
    b = grams.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "g"
    ).repartition(nparts, "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") > F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_wide(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int
) -> DataFrame:
    """(doc_id, _mh0.._mh{num_hashes-1}): the wide signature row.

    ONE groupBy with num_hashes min-aggregators — not an explode over seeds
    (which would multiply the shuffle input num_hashes-fold); the map-side
    partial aggregation sees each gram row once and maintains all mins."""
    grams = df.select(
        F.col(id_col).alias("doc_id"), F.explode(char_ngrams_col(F.col(text_col), n)).alias("g")
    )
    aggs = [
        F.min(_h60(F.concat_ws(":", F.lit(s), F.col("g")))).alias(f"_mh{s}")
        for s in range(num_hashes)
    ]
    return grams.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """(doc_id, seed, minhash) long form — the OUTPUT/ORACLE adapter over the
    wide signature row; h_s(doc) = min over grams g of _h60(s || ':' || g).
    Internal consumers (minhash_lsh_pairs) band off the wide row directly
    and never materialize this."""
    wide = _minhash_wide(df, id_col, text_col, n, num_hashes)
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"_mh{s}") for s in range(num_hashes)])).alias(
            "seed", "minhash"
        ),
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(doc_id, band, bucket): LSH band keys derived IN-ROW from the wide
    signature (xxhash64 over each band's r minhash longs, one explode of
    `bands` structs) — the plan shape proven on the link path at
    candidates/blocking.py:minhash_band_keys. Exactly ONE Exchange (the
    signature groupBy, plan-asserted) ahead of any bucket join; the previous
    long-form shape re-shuffled docs x num_hashes rows through a second
    groupBy + collect_list + per-band md5 string — at a 10^10-doc corpus
    that second shuffle is pure waste. Bucket equality vs the oracle's
    md5-of-concat bucket is pair-identical because both collide exactly on
    equal (band, r-tuple) signatures (xxhash64 cross-tuple collisions are
    ~2^-64 and deterministic, asserted value-exact in the driver gate)."""
    r = num_hashes // bands
    wide = _minhash_wide(df, id_col, text_col, n, num_hashes)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"_mh{b * r + i}") for i in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    return wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("_bb")
    ).select("doc_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature (rows_per_band =
    num_hashes/bands), bucket-join on (band, band-signature hash). This is
    the shingle->minhash->band->bucket-join scale path: cost is linear in
    corpus size + bucket collisions, never all-pairs. Band keys derive
    in-row from the wide signature row (see minhash_band_keys)."""
    band_keys = minhash_band_keys(df, id_col, text_col, n, num_hashes, bands)
    a = band_keys.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = band_keys.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_verified_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """The composed 100 TB dedup recipe: MinHash-LSH candidate pairs, then
    EXACT n-gram Jaccard computed only on those candidates — precision is
    exact (every emitted pair truly exceeds the threshold), recall is the
    LSH collision probability (1-(1-s^r)^b; tunable via num_hashes/bands).

    Cost shape: candidate generation is linear in corpus + bucket
    collisions (never all-pairs — contrast ngram_jaccard_pairs, whose
    inverted-index self-join is quadratic per shared gram and exists as
    small-scale ground truth). Verification joins each doc's DISTINCT gram
    ARRAY onto the candidate pairs (two hash joins keyed by id, payload
    rides only on candidate-pair-sized rows) and folds the Jaccard in-row
    with array_intersect — no explode, no per-gram shuffle.
    -> (id_a, id_b, jaccard), jaccard > threshold."""
    cands = minhash_lsh_pairs(df, id_col, text_col, n, num_hashes, bands)
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(char_ngrams_col(F.col(text_col), n)).alias("grams"),
    )
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("_ga"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size("_ga") + F.size("_gb") - inter
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") > F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    join_partitions: int | None = None,
) -> DataFrame:
    """EXACT word-token Jaccard self-join via prefix filtering (AllPairs,
    Bayardo et al. WWW'07) — the exact-recall scale path between the two
    existing extremes: ngram_jaccard_pairs (exact but inverted-index
    quadratic per shared token) and lsh_verified_jaccard_pairs (linear but
    probabilistic recall). Guarantee: with tokens in one GLOBAL rare-first
    order, J(A,B) >= t implies A and B share a token inside their first
    |X| - ceil(t*|X|) + 1 ordered tokens — so joining on PREFIX tokens
    only loses nothing, and the join input shrinks by the factor t (and in
    practice far more, because prefixes hold the RAREST tokens, whose
    posting lists are the shortest — the quadratic df² cost concentrates
    exactly where df is smallest).

    Plan shape: token df is a corpus stat (one groupBy(tok), the idf
    discipline of vectorize/tfidf.py), joined back and re-assembled to an
    ordered in-row array (docs×tokens rows through one join + one groupBy
    — the same cost TF-IDF fit pays, paid once); candidate generation
    explodes ONLY the prefix slice, with each posting row CARRYING its
    doc's ordered token array — so the prefix self-join both generates a
    candidate and hands verification its inputs in the same row. The
    length filter min >= t*max and the exact in-row Jaccard
    (array_intersect/array_union) then run map-side in the join stage, and
    the only post-join exchange is a distinct over the SURVIVORS
    (threshold-selective), not over the raw candidate multiset. This
    replaces the former verify shape — distinct over all candidates, then
    two id-keyed hash joins back to the token arrays — which shuffled the
    (often millions-deep) candidate set three times and re-executed the
    ordered-token subtree once per join side. Never all-pairs, no false
    negatives (brute-force parity is property-tested).

    join_partitions (None = sparkContext.defaultParallelism, i.e. total
    cluster cores): both prefix-posting sides are hash-partitioned on the
    join key at this EXPLICIT count before the self-join. The posting
    table's shuffle bytes are tiny relative to the join's OUTPUT (an
    exploding join: candidate rows >> posting rows), so byte-based AQE
    coalescing would otherwise shrink the probe stage to a handful of
    tasks and serialize the whole candidate-verification workload;
    explicit partitioning keeps the explosion spread across the cluster,
    and because it is the exact exchange the equi-join needs anyway, it
    costs nothing extra at scale.

    Float guard: ceil(t*L) and the length filter subtract 1e-9 before
    ceil/compare, so IEEE round-up (e.g. 0.3*10 -> 3.0000000000000004) can
    only ever LENGTHEN a prefix or ADMIT a borderline pair — errors fall
    on the safe (verify-side) slope. Records tokenizing to empty are
    excluded (Jaccard undefined).
    -> (id_a, id_b, jaccard), jaccard >= threshold, id_a < id_b."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.array_remove(
                    F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), ""
                )
            )
        ).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    # tokens re-coded to dense ints via the EXACT two-level global rank
    # over the vocabulary (operators/rank.py — a bijection, so intersect
    # sizes and the pair set are unchanged): array_intersect over int
    # arrays takes the primitive-hash path, measured 2.7x cheaper than
    # string hashing at verify volume, and the posting shuffle carries
    # 8-byte LongType codes instead of token strings (guide §2.3 narrower
    # types). The rank's bucket prefix only needs injectivity here, not global
    # order; vocab-sized machinery, paid once per corpus.
    from spacy_ann_linker_spark.operators.rank import global_row_number

    coded = global_row_number(
        dfreq, ["tok"], F.substring("tok", 1, 2), out_col="_code"
    )
    ordered = (
        toks.join(coded, "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("tok"), F.col("_code")))
            ).alias("_ranked")
        )
        .select(
            "doc_id",
            F.transform(F.col("_ranked"), lambda s: s["_code"]).alias("toks"),
        )
        .withColumn("sz", F.size("toks"))
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    ).cast("int")
    pre = ordered.select(
        "doc_id", "sz", "toks", F.explode(F.slice("toks", 1, prefix_len)).alias("ptok")
    )
    nparts = join_partitions or df.sparkSession.sparkContext.defaultParallelism
    a = pre.select(
        F.col("doc_id").alias("id_a"),
        F.col("sz").alias("_sza"),
        F.col("toks").alias("_ta"),
        "ptok",
    ).repartition(nparts, "ptok")
    b = pre.select(
        F.col("doc_id").alias("id_b"),
        F.col("sz").alias("_szb"),
        F.col("toks").alias("_tb"),
        "ptok",
    ).repartition(nparts, "ptok")
    inter = F.size(F.array_intersect("_ta", "_tb"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| over distinct-element arrays: the sizes
    # already ride the row, so the second per-row set build (array_union)
    # is pure waste at candidate volume
    union = F.col("_sza") + F.col("_szb") - inter
    return (
        a.join(b, "ptok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("_sza", "_szb")
                >= F.lit(threshold) * F.greatest("_sza", "_szb") - F.lit(1e-9)
            )
        )
        .withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """Edit-distance record pairs under sorted-neighborhood prefix blocking:
    candidates share a `prefix_len`-char normalized prefix, then exact
    Levenshtein verifies ONLY the candidates — the classic typo-tolerant ER
    comparator (the reference's cosine path never sees transpositions;
    Jaro-Winkler in functions/stringsim.py covers the rescue branch, this
    covers bounded-edit matching on its own).

    The verify uses Spark's THRESHOLD form `levenshtein(a, b, k)` — the
    banded O(k·n) early-exit DP, not the full O(n·m) matrix — so cost per
    candidate pair is bounded by the acceptance band regardless of string
    length (the property that keeps verification affordable when a hot
    block produces many candidates; -1 sentinel rows are filtered). Callers
    should pre-dedup exact strings (exact_dedup / groupBy) so pair count is
    quadratic in DISTINCT values per block, not rows; a Zipf-hot prefix is
    governed by prefix_len or the salted variant of the blocking join
    (candidates/blocking.py sorted_neighborhood_pairs salt_buckets).
    -> (id_a, id_b, distance), distance <= max_distance."""
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.lower(F.trim(F.col(text_col))).alias("_t"),
    ).withColumn("_bk", F.substring("_t", 1, prefix_len))
    a = keyed.select(
        F.col("_id").alias("id_a"), F.col("_t").alias("_ta"), "_bk"
    )
    b = keyed.select(
        F.col("_id").alias("id_b"), F.col("_t").alias("_tb"), "_bk"
    )
    return (
        a.join(b, "_bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("_ta", "_tb", max_distance))
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )


def qgram_edit_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
    q: int = 2,
) -> DataFrame:
    """EXACT-RECALL edit-distance self-join via positional q-gram count
    filtering (Gravano et al., VLDB'01 "Approximate String Joins in a
    Database (Almost) for Free") — the recall-GUARANTEED alternative to
    `edit_distance_pairs`' prefix blocking, which silently misses any pair
    whose typo falls inside the first prefix_len characters.

    Three provably-necessary filters for ed(a, b) <= k, then exact verify:

      * length:   abs(len_a - len_b) <= k
      * position: a q-gram of `a` only counts against a q-gram of `b` at
                  position offset <= k (one edit displaces grams by <= 1)
      * count:    matching positional q-grams >= max(len) - q + 1 - k*q
                  (one edit destroys at most q of the len - q + 1 grams)

    survivors verified with Spark's banded `levenshtein(a, b, k)` (O(k*n)
    early-exit DP, -1 sentinel filtered) — so precision is exact and, by
    the necessity of each filter, recall is exact too (brute-force parity
    is the oracle). The candidate join counts ALL cross matches of a
    duplicated gram (more than the bipartite matching the bound is stated
    on) — overcounting only ADMITS extra candidates, never drops one.

    Short strings make the count bound vacuous (threshold <= 0 when
    len <= q - 1 + k*q): they route through a DIRECT length-bucketed pair
    path against every string of length <= short_max + k (equi-join on an
    exploded candidate-length column — no inequality join). Safe at scale
    because the operator contract is DISTINCT values (pre-dedup exact
    strings, as edit_distance_pairs documents): distinct strings of
    bounded length are capped by |alphabet|^len — a data-independent
    bound, not a corpus-sized one.

    Hot-gram shape: the position filter is folded INTO the equi-join key —
    positions bucket at width k+1, so |pos_a - pos_b| <= k implies the
    buckets are equal or adjacent, and one side explodes its 3 admissible
    buckets. A stop-gram like "00" or "e " therefore joins per (gram,
    bucket), dividing its posting self-join by ~string-length/(k+1)
    instead of pairing every occurrence against every other — the
    difference between O(df²·occ²) and O(df²·occ) on long keys (the same
    reasoning as interval_join's bucketization; the residual |pa-pb| <= k
    filter keeps exactness, and a (gram-occurrence) pair can match in only
    ONE of the 3 exploded buckets, so no dedup pass is needed).
    -> (id_a, id_b, distance), distance <= max_distance, id_a < id_b."""
    k, ql = max_distance, q
    base = df.select(
        F.col(id_col).alias("_id"), F.lower(F.trim(F.col(text_col))).alias("_t")
    ).withColumn("_len", F.length("_t"))
    short_max = ql - 1 + k * ql

    # -- long path: positional q-grams + count/position filters ------------
    long_side = base.filter(F.col("_len") > short_max)
    t = F.col("_t")
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.col("_len") - (ql - 1)), lambda i: t.substr(i, F.lit(ql))
    )
    grams = long_side.select(
        "_id", "_len", F.posexplode(gram_arr).alias("_p0", "g")
    ).select("_id", "_len", (F.col("_p0") + 1).alias("pos"), "g")
    bucket = F.floor((F.col("pos") - 1) / (k + 1))
    ga = grams.select(
        F.col("_id").alias("id_a"),
        F.col("_len").alias("_la"),
        F.col("pos").alias("_pa"),
        "g",
        F.explode(
            F.array(bucket - 1, bucket.cast("bigint"), bucket + 1)
        ).alias("_bk"),
    )
    gb = grams.select(
        F.col("_id").alias("id_b"),
        F.col("_len").alias("_lb"),
        F.col("pos").alias("_pb"),
        "g",
        bucket.cast("bigint").alias("_bk"),
    )
    need = F.greatest("_la", "_lb") - F.lit(ql - 1) - F.lit(k * ql)
    long_cands = (
        ga.join(gb, ["g", "_bk"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= k)
            & (F.abs(F.col("_pa") - F.col("_pb")) <= k)
        )
        .groupBy("id_a", "id_b", "_la", "_lb")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= need)
        .select("id_a", "id_b")
    )

    # -- short path: length-bucketed direct pairs --------------------------
    # a short string's match partner has len <= short_max + k; explode the
    # probe's admissible lengths so the pair join stays an EQUI-join
    shorts = base.filter(F.col("_len") <= short_max)
    probe = shorts.select(
        F.col("_id").alias("id_a"),
        F.explode(
            F.sequence(F.greatest(F.col("_len") - k, F.lit(0)), F.col("_len") + k)
        ).alias("_lb"),
    )
    pool = base.filter(F.col("_len") <= short_max + k).select(
        F.col("_id").alias("id_b"), F.col("_len").alias("_lb")
    )
    short_cands = (
        probe.join(pool, "_lb")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b"))
        .distinct()
    )

    # -- exact verify (both branches are length-disjoint, union is clean) --
    cands = long_cands.unionByName(short_cands)
    va = base.select(F.col("_id").alias("id_a"), F.col("_t").alias("_ta"))
    vb = base.select(F.col("_id").alias("id_b"), F.col("_t").alias("_tb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("distance", F.levenshtein("_ta", "_tb", k))
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, n: int = 3, bits: int = 60) -> DataFrame:
    """60-bit SimHash over char n-grams: per-bit majority vote of gram
    hashes (cross-engine _h60, so the whole signature is oracle-exact in
    DuckDB).

    Entirely IN-ROW — zero shuffles, pure projection: the distinct gram-hash
    array materializes ONCE per doc behind an explode-of-one-element Generate
    barrier (each gram md5-hashed once; without the barrier Catalyst's
    CollapseProject would inline the O(grams) hash transform into all `bits`
    vote references — the ~50x winnow_fingerprints trap documented below),
    then a nested higher-order fold computes the per-bit majority votes and
    packs the signature: O(bits x grams) arithmetic where the doc already
    sits. The previous shape exploded every gram row x `bits` positions into
    a groupBy(doc_id, bit) — a 60x row multiplication of the gram stream
    feeding the aggregation. Docs whose normalized text is shorter than n
    (empty gram set) are dropped, matching the explode semantics and the
    oracle's unnest(empty)."""
    hs = F.transform(char_ngrams_col(F.col(text_col), n), _h60)
    hashed = df.select(F.col(id_col).alias("doc_id"), F.explode(F.array(hs)).alias("_hs"))
    sig = F.expr(
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, b) -> acc + "
        "CASE WHEN aggregate(_hs, 0, (v, h) -> "
        "v + (CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        "THEN shiftleft(cast(1 as bigint), b) ELSE cast(0 as bigint) END)"
    )
    return (
        hashed.filter(F.size("_hs") >= 1)
        .select("doc_id", sig.alias("simhash"))
    )


def simhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash banded neighbor join — the bucketed (non-all-pairs) way to
    QUERY simhash signatures at scale, same shape as `minhash_lsh_pairs`:
    split the signature into `bands` contiguous bit bands, bucket-join on
    (band, band bits), then verify hamming(sig_a, sig_b) <= max_hamming on
    the candidates (one JVM bit_count(xor), no Python).

    By pigeonhole, any pair with hamming <= bands - 1 shares at least one
    intact band, so with the defaults (4 bands, max_hamming 3) recall vs the
    brute-force hamming join is EXACTLY 1.0 — asserted in tests. Cost is
    linear in corpus size + band-bucket collisions, never quadratic.
    -> (id_a, id_b, hamming)"""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for the "
            "pigeonhole recall guarantee; raise bands or lower max_hamming"
        )
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash(df, id_col, text_col, n=n, bits=bits)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn("bucket", F.expr(f"(simhash >> (band * {width})) & {mask}"))
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "bucket"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute-force exact; the
    LSH/IVF-bucketed variant is in similarity_search)."""
    from spacy_ann_linker_spark.link.embedding import dot_product

    norms = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    a = norms.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = norms.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb") + F.lit(1e-12)))
        .filter(F.col("cosine") > F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """MOSS-style near-duplicate pair detection: documents sharing >=
    `min_shared` winnowing fingerprints -> (id_a, id_b, n_shared_fps).
    By the winnowing guarantee, any pair sharing a substring of length >=
    k + w - 1 shares at least one fingerprint — this is the
    shared-substring pair finder (plagiarism / boilerplate / quote
    detection), complementary to MinHash (whole-doc set overlap) and
    SimHash (global near-identity).

    Scale shape: the DISTINCT fingerprint SET per doc is derived fully
    IN-ROW (the same Generate-barrier array as winnow_fingerprints, minus
    positions — array_distinct before the explode, so no pre-join
    dedup shuffle), then the classic inverted-index self-join + pair
    groupBy. Same join shape as ngram_jaccard_pairs but over the winnowed
    stream — ~2/(w+1) the density, so ~(w+1)/2 x less join input at equal
    guarantee length. Cost is still quadratic PER SHARED FINGERPRINT;
    `max_df` drops fingerprints appearing in more than max_df docs (the
    MOSS "too common to mean anything" rule — boilerplate headers) via
    one window count over the exploded stream, bounding the worst bucket
    at C(max_df, 2) pairs."""
    t = normalize(F.col(text_col))
    n_grams = F.length(t) - F.lit(k) + 1
    hs_expr = F.when(
        n_grams >= 1,
        F.transform(F.sequence(F.lit(1), n_grams), lambda i: _h60(F.substring(t, i, F.lit(k)))),
    ).otherwise(F.array().cast("array<bigint>"))
    hashed = df.select(F.col(id_col), F.explode(F.array(hs_expr)).alias("_hs"))
    hsc = F.col("_hs")
    n_wins = F.size(hsc) - F.lit(w) + 1
    win_idx = F.when(n_wins >= 1, F.sequence(F.lit(1), n_wins)).otherwise(
        F.array().cast("array<int>")
    )
    fp_set = F.array_distinct(F.transform(win_idx, lambda j: F.array_min(F.slice(hsc, j, w))))
    fps = hashed.select(F.col(id_col).alias("doc_id"), F.explode(fp_set).alias("fp"))
    if max_df is not None:
        from pyspark.sql import Window

        fps = fps.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))).filter(
            F.col("_df") <= max_df
        ).drop("_df")
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS local fingerprinting algorithm): hash every char k-gram of
    the normalized text, slide a window of w consecutive hashes, select the
    window minimum (rightmost on ties), dedupe selections. Guarantees every
    w-gram window contributes >= 1 fingerprint (detects any shared substring
    of length >= k + w - 1) while keeping ~2/(w+1) of the gram hashes.

    Entirely IN-ROW (transform/slice/array_min over the gram-hash array —
    no shuffle, no window function, no Python): each document computes its
    own fingerprints where it sits; only the exploded (id, pos, fp) output
    rows move. Hashes are the cross-engine `_h60` md5 form, so the operator
    is value-exact against a DuckDB list-lambda oracle.

    The gram-hash array goes through an explode-of-one-element Generate
    BARRIER before the window pass: Catalyst's CollapseProject would
    otherwise inline the O(n) md5 transform into every one of the O(n x w)
    per-window references and re-hash the whole document per window
    (measured ~50x slower without the barrier).
    -> (id, pos int [1-based gram index], fp bigint), distinct."""
    t = normalize(F.col(text_col))
    n_grams = F.length(t) - F.lit(k) + 1
    # sequence(1, 0) generates DESCENDING [1, 0] — sub-k docs would hash two
    # phantom partial grams (emitting bogus fingerprints whenever w <= 2);
    # guard to an empty array like functions/ngrams does
    hs = F.when(
        n_grams >= 1,
        F.transform(F.sequence(F.lit(1), n_grams), lambda i: _h60(F.substring(t, i, F.lit(k)))),
    ).otherwise(F.array().cast("array<bigint>"))
    hashed = df.select(F.col(id_col), F.explode(F.array(hs)).alias("_hs"))
    hsc = F.col("_hs")
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs
    n_wins = F.size(hsc) - F.lit(w) + 1
    win_idx = F.when(n_wins >= 1, F.sequence(F.lit(1), n_wins)).otherwise(
        F.array().cast("array<int>")
    )

    def select_in_window(j):
        win_min = F.array_min(F.slice(hsc, j, w))
        # rightmost in-window offset holding the min (the robust-winnowing
        # tie rule); offsets 0..w-1
        off = F.element_at(
            F.filter(
                F.sequence(F.lit(0), F.lit(w - 1)),
                lambda x: F.element_at(hsc, j + x) == win_min,
            ),
            -1,
        )
        return F.struct((j + off).alias("pos"), win_min.alias("fp"))

    return (
        hashed.select(
            F.col(id_col),
            F.explode(F.array_distinct(F.transform(win_idx, select_in_window))).alias("_s"),
        )
        # no trailing distinct: one row per doc pre-explode and
        # array_distinct already guarantees unique (pos, fp) per doc — a
        # distinct here would re-shuffle the whole fingerprint output
        .select(id_col, F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\n{2,}",
    joiner: str = "\n\n",
) -> DataFrame:
    """(id, clean_text, n_paras, n_kept): paragraph-granular exact dedup —
    the Dolma/RefinedWeb recipe where boilerplate (headers, footers, cookie
    banners) repeats ACROSS documents that are not duplicates as wholes.
    Documents split on `sep`; each distinct paragraph survives only at its
    first occurrence (global (id, position) order), every later copy is
    dropped — including repeats inside one document; surviving paragraphs
    reassemble in original order with `joiner`. Docs whose every paragraph
    was seen earlier come back with clean_text = '' (row kept, so the
    caller can gate on n_kept).

    Scale shape: explode -> one map-side-combined groupBy(md5) taking
    min(struct(id, idx)) as the winner -> hash-join back (same key) ->
    one groupBy(id) to reassemble. Two shuffles total, both linear in
    paragraph count; no windows, no driver loops. The md5 key keeps the
    shuffle rows narrow (paragraph text never rides the winner agg).
    """
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("_idx", "_p"),
        )
        .filter(F.col("_p") != "")
        .withColumn("_k", F.md5(F.col("_p")))
    )
    winners = paras.groupBy("_k").agg(
        F.min(F.struct(F.col(id_col), F.col("_idx"))).alias("_w")
    )
    kept = paras.join(winners, "_k").filter(
        (F.col(id_col) == F.col(f"_w.{id_col}")) & (F.col("_idx") == F.col("_w._idx"))
    )
    reasm = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_p"))),
                lambda s: s["_p"],
            ),
            joiner,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(reasm, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicate SPANS at token k-gram granularity — the
    suffix-array substring-dedup recipe of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed relationally:
    instead of one global suffix array (inherently sequential), mark every
    token position whose k-gram occurs >= `min_count` times in the WHOLE
    corpus (same doc or not — verbatim self-repetition is a duplicate too,
    per the paper), then merge overlapping/adjacent marked k-gram intervals
    into maximal spans per document with one gaps-and-islands window. Any
    substring of >= k tokens appearing twice anywhere is covered end-to-end
    by emitted spans (every window of k consecutive tokens inside it is a
    duplicated k-gram); substrings shorter than k are invisible — k is the
    paper's minimum-match length knob (they use 50 BPE tokens).

    Plan shape (linear, never all-pairs): token k-grams hash in-row to
    `_h60` longs behind the explode-of-one Generate barrier (without it
    Catalyst's CollapseProject re-runs the O(n) split once per gram — the
    winnow_fingerprints trap); one map-side-combined groupBy(gh) counts
    occurrences; the count table filters to dup grams BEFORE joining back
    (the join-back, unlike a count window over gh, lets AQE split a
    boilerplate-hot gram across reducers, and the dup-gram build side is
    the post-filter minority); one window over (doc, pos) merges islands.
    Only the 60-bit hash ever shuffles — no text rides any exchange
    (the decontaminate_overlap discipline).
    -> (doc_id, span_start, span_end, n_dup_grams), token positions
    1-based inclusive; span_end = last covered token."""
    from pyspark.sql import Window

    toks = F.col("_toks")
    n_grams = F.size(toks) - F.lit(k) + 1
    gh_arr = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.struct(
                i.alias("pos"), _h60(F.array_join(F.slice(toks, i, k), " ")).alias("gh")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gh:bigint>>"))
    grams = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array(_words(F.col(text_col)))).alias("_toks"),
        )
        .select("doc_id", F.explode(gh_arr).alias("_g"))
        .select("doc_id", F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh"))
    )
    dup_ghs = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("gh")
    )
    marked = grams.join(dup_ghs, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # intervals [pos, pos+k-1] merge when overlapping OR adjacent: a new
    # island starts iff the gap to the previous marked gram exceeds k
    flagged = marked.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > k),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_isl", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_dup_grams")
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 2,
    joiner: str = " ",
) -> DataFrame:
    """The composed substring-dedup CLEANER: remove every token covered by a
    duplicate_spans span and reassemble the survivors in order (Lee et al.
    cut the duplicated bytes out of the document rather than dropping whole
    docs — repeated boilerplate dies, unique prose survives).

    NOTE this removes ALL occurrences of a duplicated substring, including
    the first (the paper's ExactSubstr variant keeps one copy; choosing a
    canonical copy requires a global occurrence order — a keep-first
    refinement would reuse the dedup_paragraphs winner pattern on span
    hashes). All-duplicate docs come back with clean_text = '' and row
    intact so callers can gate on n_removed < n_tokens.

    Scale shape: spans per doc collapse to one in-row array (groupBy doc —
    spans are rare, rows are tiny) and left-join back onto the token arrays;
    the keep/drop decision and reassembly are pure in-row array ops.
    -> (doc_id, clean_text, n_tokens, n_removed)."""
    spans = (
        duplicate_spans(df, id_col, text_col, k=k, min_count=min_count)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
        )
    )
    base = df.select(
        F.col(id_col).alias("doc_id"), _words(F.col(text_col)).alias("_toks")
    )
    covered = lambda i: F.size(
        F.filter(
            F.col("_spans"),
            lambda s: (s["span_start"] <= i) & (i <= s["span_end"]),
        )
    ) > 0
    # guard the sequence like clean_text below: sequence(1, 0) defaults to
    # step -1 and yields [1, 0], so an empty/whitespace-only doc grew two
    # phantom kept indices and reported n_removed = -2 (ADVICE r5)
    kept_idx = F.filter(
        F.when(
            F.size("_toks") >= 1, F.sequence(F.lit(1), F.size("_toks"))
        ).otherwise(F.array().cast("array<int>")),
        lambda i: ~covered(i),
    )
    return (
        base.join(spans, "doc_id", "left")
        .withColumn("_spans", F.coalesce("_spans", F.array()))
        .select(
            "doc_id",
            F.when(
                F.size("_toks") >= 1,
                F.array_join(
                    F.transform(kept_idx, lambda i: F.element_at("_toks", i)),
                    joiner,
                ),
            )
            .otherwise(F.lit(""))
            .alias("clean_text"),
            F.size("_toks").alias("n_tokens"),
            (F.size("_toks") - F.size(kept_idx)).alias("n_removed"),
        )
    )


def overlap_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by the overlap coefficient
    |A ∩ B| / min(|A|, |B|) over char n-gram sets — catches near-SUPERSET
    relations Jaccard structurally cannot: a transcript snippet quoted
    inside a much longer conversation scores overlap ~1 while Jaccard
    ~|small|/|large| -> 0. The standard containment-dedup companion to
    ngram_jaccard_pairs (same inverted-index shape, different denominator);
    pair orientation is reported explicitly (contained_id = the smaller
    gram set, the side whose coverage the coefficient measures; ties by
    doc-id order stay id_a < id_b).

    Scale shape: identical to ngram_jaccard_pairs — inverted-index
    self-join on shared grams + one pair groupBy (sizes ride the posting
    rows IN-ROW via _grams_with_size, explicit join partitioning spreads
    the exploding probe; see ngram_jaccard_pairs); quadratic only PER
    SHARED GRAM, with the same LSH escape hatch at corpus scale.
    -> (id_a, id_b, contained_id, overlap), overlap > threshold,
    id_a < id_b."""
    grams = _grams_with_size(df, id_col, text_col, n)
    nparts = df.sparkSession.sparkContext.defaultParallelism
    a = grams.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "g"
    ).repartition(nparts, "g")
    b = grams.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "g"
    ).repartition(nparts, "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.withColumn("overlap", F.col("shared") / F.least("sz_a", "sz_b"))
        .filter(F.col("overlap") > F.lit(threshold))
        .withColumn(
            "contained_id",
            F.when(F.col("sz_a") < F.col("sz_b"), F.col("id_a"))
            .when(F.col("sz_b") < F.col("sz_a"), F.col("id_b"))
            .otherwise(F.least("id_a", "id_b")),
        )
        .select("id_a", "id_b", "contained_id", "overlap")
    )


def prefix_filter_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    join_partitions: int | None = None,
) -> DataFrame:
    """EXACT idf-weighted cosine self-join via L2 prefix filtering — the
    weighted companion of prefix_filter_jaccard_pairs (AllPairs, Bayardo
    et al. WWW'07, cosine case). Vectors: DISTINCT lowercase word tokens,
    idf = ln(1 + N/df), L2-normalized per record (the soft-TFIDF / TF-IDF
    weighting discipline), so cos(A,A) = 1.

    Guarantee: order each record's tokens rare-first (df asc — the
    HIGHEST-weight tokens first) and take the shortest prefix whose
    remaining suffix has L2 norm < t. If a pair shares no token in either
    prefix, every shared token lies in both suffixes, so
    cos = sum(wa*wb) <= ||A_suf||*||B_suf|| < t^2 <= t — therefore the
    prefix-prefix equi-join misses nothing (brute-force parity is
    property-tested). Prefixes hold the RAREST tokens, so posting lists in
    the candidate join are the short ones — same cost concentration as the
    Jaccard variant, never all-pairs.

    Float guard (the AllPairs epsilon discipline): the prefix grows while
    suffix_norm^2 >= t^2 - 1e-9, so IEEE noise can only LENGTHEN a prefix
    — errors fall on the safe slope. The in-row cumulative-sumsq uses
    aggregate-over-slice (O(k^2) per record in its distinct-token count k
    — fine for names/titles/docs up to a few hundred distinct tokens).

    Verification folds the exact dot product in-row INSIDE the candidate
    join stage: each prefix posting row carries its record's (token ->
    normalized-weight) map, so the equi-join on prefix tokens hands the
    dot product both operands map-side (array_intersect over the map keys
    folded with element_at — pure JVM, no re-join), and the only
    post-join exchange is a distinct over the threshold survivors. This
    replaces the former shape — distinct over the raw candidate multiset,
    then two id-keyed joins back to the weight maps — which shuffled the
    candidate set three times and re-executed the ranked-token subtree
    once per join side. join_partitions (None = defaultParallelism)
    hash-partitions both posting sides on the join key explicitly — the
    prefix_filter_jaccard_pairs exploding-join discipline: byte-based AQE
    coalescing cannot see that candidate output >> posting input and
    would serialize the verify onto a couple of tasks.
    -> (id_a, id_b, cosine), cosine >=
    threshold, id_a < id_b. Empty-token records are excluded."""
    t2 = threshold * threshold
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.array_remove(
                    F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), ""
                )
            )
        ).alias("tok"),
    )
    n_docs = toks.select(F.countDistinct("doc_id").alias("_n"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    # same exact int re-coding as prefix_filter_jaccard_pairs: the verify
    # intersect runs on int arrays (primitive-hash path, 2.7x cheaper than
    # string hashing) and the weight maps key on ints; the (_df, tok) sort
    # is unchanged so array order — and therefore every float summation
    # order, the prefix sets and the candidate pair set — is identical.
    from spacy_ann_linker_spark.operators.rank import global_row_number

    coded = global_row_number(
        dfreq, ["tok"], F.substring("tok", 1, 2), out_col="_code"
    )
    ranked = (
        toks.join(coded, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "_df",
            "_code",
            F.log(1.0 + F.col("_n") / F.col("_df")).alias("_w"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_df"), F.col("tok"), F.col("_w"), F.col("_code"))
                )
            ).alias("_r")
        )
        .select(
            "doc_id",
            F.transform("_r", lambda s: s["_code"]).alias("toks"),
            F.transform("_r", lambda s: s["_w"]).alias("_ws"),
        )
    )
    norm = F.sqrt(
        F.aggregate("_ws", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    vecs = ranked.select(
        "doc_id",
        "toks",
        F.transform("_ws", lambda x: x / norm).alias("wn"),
    ).withColumn("sz", F.size("toks"))
    # prefix p: count positions i where the suffix AFTER i is still >= t
    # (then one more token is needed); capped at sz
    cum_i = lambda i: F.aggregate(
        F.slice("wn", F.lit(1), i), F.lit(0.0), lambda acc, x: acc + x * x
    )
    need = F.size(
        F.filter(
            F.sequence(F.lit(1), F.col("sz")),
            lambda i: F.lit(1.0) - cum_i(i) >= F.lit(t2) - F.lit(1e-9),
        )
    )
    pre = (
        vecs.withColumn("_p", F.least(F.col("sz"), need + F.lit(1)))
        .select(
            "doc_id",
            "toks",
            F.map_from_arrays("toks", "wn").alias("wm"),
            F.explode(F.slice("toks", F.lit(1), F.col("_p"))).alias("ptok"),
        )
    )
    nparts = join_partitions or df.sparkSession.sparkContext.defaultParallelism
    a = pre.select(
        F.col("doc_id").alias("id_a"),
        F.col("toks").alias("_ta"),
        F.col("wm").alias("_ma"),
        "ptok",
    ).repartition(nparts, "ptok")
    b = pre.select(
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("_tb"),
        F.col("wm").alias("_mb"),
        "ptok",
    ).repartition(nparts, "ptok")
    dot = F.aggregate(
        F.array_intersect("_ta", "_tb"),
        F.lit(0.0),
        lambda acc, tok: acc + F.element_at("_ma", tok) * F.element_at("_mb", tok),
    )
    return (
        a.join(b, "ptok")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot)
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
        .distinct()
    )
