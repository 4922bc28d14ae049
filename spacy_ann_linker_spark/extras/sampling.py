"""Deterministic dataset splitting and sequence packing — training-data
pipeline operators (no reference analog; the reference is a linker, but a
100 TB corpus feeding one needs reproducible splits and packed sequences).

Both operators are pure column expressions / window aggregates — no UDFs,
no RNG state. Determinism matters more than randomness quality here: a
train/val/test split must give the SAME answer on every run, every cluster
size, every partitioning, or downstream eval leaks. Hash-based bucketing
(md5 — cross-engine, DuckDB-oracle-exact like extras/dedup.py:_h60) is the
standard way to get that: the split is a FUNCTION of the row key, not of a
sampled permutation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: buckets for the hash split: md5 nibbles -> [0, 1) with 1/RESOLUTION steps
_RESOLUTION = 1_000_000


def deterministic_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (e.g. train/val/test) by hashing
    `key_col`. Properties a `randomSplit` cannot give:

      * stable across runs, partitionings, and cluster sizes (pure function
        of the key — no sampled permutation, no RNG state);
      * group-safe: hash a GROUP key (conv_id, doc_id) and every row of the
        group lands in the same split — the leakage-safe way to split
        conversations/documents with multiple rows;
      * incremental: rows added tomorrow fall into the same proportions
        without reshuffling yesterday's assignment.

    weights: {"train": 0.9, "val": 0.05, "test": 0.05} — need not sum to 1;
    they are normalized. Split boundaries are cumulative over the dict's
    insertion order, and compared as INTEGER buckets (md5 value mod
    RESOLUTION vs round(cum_weight * RESOLUTION)) — float accumulation of
    weights (0.8 + 0.1 == 0.9000000000000001) would otherwise flip the
    boundary bucket vs any engine using exact literals."""
    total = float(sum(weights.values()))
    keyed = F.concat(F.lit(seed), F.col(key_col).cast("string"))
    bucket = F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("bigint") % _RESOLUTION
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < F.lit(int(round(acc * _RESOLUTION)))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str,
    seed: str = "",
) -> DataFrame:
    """EXACT-count deterministic stratified sample: the n rows per stratum
    whose md5(seed || key) sorts lowest (all rows when a stratum is
    smaller). The balanced-training-mix operator — "100k docs per source /
    per language" — with the same reproducibility contract as
    deterministic_split: a pure function of (seed, key), stable across
    runs, partitionings, and cluster sizes, and incremental-friendly (a
    grown stratum only swaps rows at the hash boundary).

    `df.sampleBy` can do none of that: it is Bernoulli per row (approximate
    count, no exact n), and resampling the grown corpus reshuffles
    yesterday's picks.

    Scale shape: row_number over (partition by stratum order by hash) looks
    like a full sort of every stratum, but Spark >= 3.5 plans the rank <= n
    filter as WindowGroupLimit — each MAP task pre-prunes to its local
    top-n per stratum BEFORE the exchange, so the shuffle carries at most
    n * num_input_partitions rows per stratum, not the stratum
    (tests/test_sampling.py plan-asserts the WindowGroupLimit node; a
    Zipf-hot stratum therefore costs the reducer O(n * partitions), not
    O(|stratum|)).

    Ties: md5 collisions aside, (hash, key) is a total order, so the cut is
    unique — DuckDB replays it exactly (`stratified_sample` oracle).
    """
    hash_col = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        hash_col.asc(), F.col(key_col).cast("string").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str,
    weight_col: str,
    seed: str = "",
) -> DataFrame:
    """EXACT-count deterministic WEIGHTED sample without replacement: n rows
    per stratum, inclusion probability proportional to `weight_col` —
    Efraimidis & Spirakis (2006) A-Res reservoir keys, derandomized the same
    way stratified_sample derandomizes uniform sampling.

    Each row gets u = deterministic uniform in (0,1) from md5(seed || key)
    (60-bit hash + 0.5, scaled), then rank key ln(u) / w — monotone in the
    A-Res key u^(1/w), so the top-n per stratum IS a weight-proportional
    sample without replacement. The quality-weighted corpus-mix operator
    ("sample 1M docs per source, proportional to quality score") with the
    deterministic_split contract: pure function of (seed, key, weight),
    stable across runs / partitionings / cluster sizes, incremental (a new
    row only enters by beating the boundary key).

    Rows with NULL or non-positive weight are excluded (they have zero
    selection probability; ln(u)/0 is undefined).

    Scale shape: identical to stratified_sample — the rank <= n filter
    plans as WindowGroupLimit, so map tasks pre-prune to local top-n per
    stratum and the shuffle carries <= n * num_partitions rows per stratum.
    Cross-engine: ln over the same IEEE doubles (DuckDB oracle
    `weighted_sample_docs`); tie-break (skey desc, key asc) totalizes the
    order."""
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    skey = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(strata_col).orderBy(
        skey.desc(), F.col(key_col).cast("string").asc()
    )
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.7,
    target_frac: float = 0.5,
    seed: str = "",
) -> DataFrame:
    """Temperature-weighted corpus mixing — the multilingual / multi-source
    LM sampling rule (Conneau & Lample 2019; alpha = 1/temperature, XLM-R
    uses alpha 0.3, T5-style mixes 0.7): downsample each group so the
    EXPECTED output shares follow p_g ∝ n_g^alpha, flattening the Zipf head
    (alpha < 1 boosts low-resource groups' share; alpha = 1 keeps natural
    proportions; alpha = 0 equalizes expected counts). The overall expected
    output size is target_frac * N; per-group keep rates are

        r_g = min(1, target_frac * N * p_g / n_g)

    — a FILTER, so rates clamp at 1 (no upsampling: a group too small for
    its temperature share keeps everything; true upsampling is a separate
    replication step, deliberately not hidden inside a sampler).

    Selection is the deterministic_split contract: row survives iff its
    md5(seed || key) bucket (mod RESOLUTION) < round(r_g * RESOLUTION) —
    a pure function of (seed, key, group counts), stable across runs,
    partitionings, and cluster sizes, and cross-engine exact (the bucket
    compare is INTEGER; rates round to whole ppm in both engines, so an
    ulp of pow() divergence cannot flip a row). Plan shape: one map-side
    group count, one-row corpus aggregate broadcast, rate table broadcast
    back onto rows (group dims — languages, sources — are small by
    nature); zero shuffles of the data rows themselves.
    -> input rows that survive, plus keep_rate_ppm (the group's rate,
    parts-per-million)."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    tot = counts.agg(
        F.sum("_n").alias("_tot"), F.sum(F.pow("_n", F.lit(alpha))).alias("_z")
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(target_frac)
                    * F.col("_tot")
                    * (F.pow("_n", F.lit(alpha)) / F.col("_z"))
                    / F.col("_n"),
                )
                * _RESOLUTION,
                0,
            )
            .cast("bigint")
            .alias("keep_rate_ppm"),
        )
    )
    keyed = F.concat(F.lit(seed), F.col(key_col).cast("string"))
    bucket = F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("bigint") % _RESOLUTION
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(bucket < F.col("keep_rate_ppm"))
    )


def pack_sequences(
    df: DataFrame,
    shard_col: str,
    order_col: str,
    size_col: str,
    budget: int,
    out_col: str = "pack_id",
) -> DataFrame:
    """Greedy sequential packing: within each shard, walk rows in
    `order_col` order and cut a new pack whenever the running `size_col`
    total would exceed `budget` (a document larger than the budget gets a
    pack of its own). This is the concatenate-documents-into-context-windows
    step of an LLM training pipeline. `order_col` must be unique within a
    shard (ties would make pack assignment depend on input partitioning)
    and `size_col` non-negative.

    Scale shape: parallelism = shard count and no global sort exists.
    Shard by a stable key (e.g.
    `pmod(xxhash64(doc_id), n_shards)`) sized so one shard's rows fit a
    task; greedy-within-shard is the standard approximation (exact global
    bin packing is NP-hard and needs a sequential pass).

    The greedy reset-cumsum is inherently sequential per shard (floor
    division of a cumsum is NOT greedy when items straddle boundaries), so
    this is one of the rare places the brief's route (b) applies: an
    Arrow-batched applyInPandas whose inner loop is O(#packs * log n) numpy
    (cumsum + searchsorted per pack boundary), not per-row Python. A
    window-prefix formulation would be expressible without Python but
    carries an O(rows^2) collected prefix per shard — the applyInPandas
    shape is the one that survives wide shards."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, LongType())])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy(dtype=np.int64)
        cs = np.cumsum(sizes)
        n = len(pdf)
        packs = np.zeros(n, dtype=np.int64)
        start, base, pack_id = 0, 0, 0
        while start < n:
            j = int(np.searchsorted(cs, base + budget, side="right")) - 1
            if j < start:
                j = start  # item larger than budget -> its own pack
            packs[start : j + 1] = pack_id
            pack_id += 1
            base = int(cs[j])
            start = j + 1
        pdf[out_col] = packs
        return pdf

    return df.groupBy(shard_col).applyInPandas(pack, schema=out_schema)


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    mask: int = 63,
    min_len: int = 32,
    max_len: int = 2048,
) -> DataFrame:
    """Content-defined chunking: split each document at positions where the
    k-gram hash satisfies h % (mask+1) == 0 (expected chunk length ~mask+1
    chars), clamped to [min_len, max_len]. The public CDC idea behind
    rsync/LBFS/Gear dedup: boundaries depend only on LOCAL content, so an
    edit reshuffles at most its own chunk while every other chunk keeps its
    identity — byte-shifted copies still dedupe chunk-by-chunk, which plain
    fixed-width splitting cannot do.

    Entirely in-row (the gram-hash array materializes once behind a Generate
    barrier, boundary selection is a fold over candidate cut positions), so
    each document chunks where it sits; only (id, chunk_idx, start, chunk)
    rows move. Hash is the cross-engine md5 `_h60`, oracled in DuckDB.
    -> (id, chunk_idx int [0-based], start int [1-based], chunk string)"""
    from spacy_ann_linker_spark.extras.dedup import _h60

    t = F.col(text_col)
    n = F.length(t)
    n_grams = n - F.lit(k) + 1
    # sequence(1, 0) generates a DESCENDING [1, 0] (greatest() does not save
    # you) — sub-k-length docs would grow two phantom partial-gram cut
    # flags; guard to an empty array like functions/ngrams does
    cut_flags = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: (_h60(F.substring(t, i, F.lit(k))) % (mask + 1) == 0).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    hashed = df.select(F.col(id_col), t.alias("_t"), F.explode(F.array(cut_flags)).alias("_cf"))
    nn = F.length(F.col("_t"))
    # fold over candidate boundaries accumulating accepted cut positions
    # (1-based char index a chunk ENDS before): accept a flagged position
    # only if it is >= min_len past the previous cut; then force max_len
    # cuts by post-splitting oversized spans
    cand_pos = F.when(
        F.size(F.col("_cf")) >= 1,
        F.sequence(F.lit(1), F.size(F.col("_cf"))),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.aggregate(
        F.filter(cand_pos, lambda i: F.element_at(F.col("_cf"), i) == 1),
        F.array().cast("array<int>"),
        lambda acc, p: F.when(
            p - F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0)) >= min_len,
            F.concat(acc, F.array(p)),
        ).otherwise(acc),
    )
    # bounds are INCLUSIVE chunk-end char positions; the doc end closes the
    # final chunk (array_distinct: a cut exactly at the end would duplicate)
    bounds = F.array_distinct(F.concat(cuts, F.array(nn)))
    spans = F.filter(
        F.transform(
            bounds,
            lambda e, idx: F.struct(
                (
                    F.when(idx == 0, F.lit(0)).otherwise(F.element_at(bounds, idx))
                    + 1
                ).alias("s"),
                e.alias("e"),
            ),
        ),
        lambda x: x["e"] >= x["s"],
    )
    # max_len clamp: explode each inclusive span into ceil(len/max_len) parts
    sub = F.flatten(
        F.transform(
            spans,
            lambda x: F.transform(
                F.sequence(
                    F.lit(0), F.floor((x["e"] - x["s"]) / F.lit(max_len)).cast("int")
                ),
                lambda j: F.struct(
                    (x["s"] + j * max_len).alias("s"),
                    F.least(x["e"], x["s"] + (j + 1) * max_len - 1).alias("e"),
                ),
            ),
        )
    )
    return (
        hashed.select(
            F.col(id_col),
            F.col("_t"),
            F.posexplode(sub).alias("chunk_idx", "_sp"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.col("_sp.s").alias("start"),
            F.expr("substring(_t, _sp.s, _sp.e - _sp.s + 1)").alias("chunk"),
        )
    )


def contrastive_negatives(
    anchors: DataFrame,
    pool: DataFrame,
    k: int = 5,
    anchor_id_col: str = "anchor_id",
    pool_id_col: str = "doc_id",
    positives: DataFrame | None = None,
    bucket=None,
) -> DataFrame:
    """Deterministic random negatives for contrastive training pairs: each
    anchor draws `k` pseudo-random pool records via hash probes — the
    in-batch-negatives / random-negatives recipe of bi-encoder training
    (DPR, Karpukhin et al. 2020), made REPRODUCIBLE: probe i of anchor a
    lands at pool index h60(a:i) mod N, so the same (anchors, pool, k)
    always yields the same pairs on any cluster and any partitioning —
    no rand(), no wall clock, re-runnable lineage.

    Plan shape: the pool gets an exact dense 1..N index from
    operators/rank.global_row_number (two-level bucketed rank — no
    single-reducer window; `bucket` must be order-compatible with
    pool_id_col, default floor(id / 4096) for numeric ids); anchors explode
    to k probe rows; the probe→pool join is 1:1 equi on DENSE integers —
    perfectly uniform keys, no skew by construction. N rides as a one-row
    broadcast, never a driver pull.

    Collisions: two probes of one anchor can land on the same pool row
    (~k²/2N chance per anchor), and `positives` pairs (anchor_id, pool_id)
    — pass the gold links plus self-pairs — are anti-joined OUT; both make
    an anchor come back with FEWER than k negatives (the standard
    oversample-and-filter treatment: raise k rather than re-probe, which
    would serialize). probe_idx keeps the smallest drawing index per
    surviving pair. -> (anchor_id, neg_id, probe_idx)."""
    from spacy_ann_linker_spark.extras.dedup import _h60
    from spacy_ann_linker_spark.operators.rank import global_row_number

    if bucket is None:
        bucket = F.floor(F.col(pool_id_col) / F.lit(4096))
    ranked = global_row_number(
        pool.select(pool_id_col), [pool_id_col], bucket, out_col="_prank"
    ).withColumnRenamed(pool_id_col, "_pid")
    n_pool = ranked.agg(F.count(F.lit(1)).alias("_n"))
    probes = (
        anchors.select(F.col(anchor_id_col).alias("anchor_id"))
        .distinct()
        .select(
            "anchor_id",
            F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("probe_idx"),
        )
        .crossJoin(F.broadcast(n_pool))
        .withColumn(
            "_prank",
            F.pmod(
                _h60(F.concat_ws(":", F.col("anchor_id"), F.col("probe_idx"))),
                F.col("_n"),
            )
            + F.lit(1),
        )
    )
    pairs = probes.join(ranked, "_prank").select(
        "anchor_id", F.col("_pid").alias("neg_id"), "probe_idx"
    )
    if positives is not None:
        pos = positives.select(
            F.col(anchor_id_col).alias("anchor_id"), F.col(pool_id_col).alias("neg_id")
        )
        pairs = pairs.join(pos, ["anchor_id", "neg_id"], "left_anti")
    return pairs.groupBy("anchor_id", "neg_id").agg(
        F.min("probe_idx").alias("probe_idx")
    )
