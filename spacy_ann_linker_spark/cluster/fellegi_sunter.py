"""Fellegi-Sunter probabilistic record linkage: pair scoring (Fellegi &
Sunter 1969, "A Theory for Record Linkage"; the model behind Splink /
FEBRL / the Census Bureau matchers).

This is the COMPARE/CLASSIFY stage of the ER pipeline this engine builds:

    block (candidates/blocking.py)  ->  agreement vectors on pairs
    -> fellegi_sunter_score         ->  threshold                (here)
    -> connected_components (cluster/cc.py)
    -> golden_records (cluster/survivorship.py)

Model: for each comparison field i, m_i = P(agree_i | match) and
u_i = P(agree_i | non-match). A pair's log-likelihood-ratio score is

    score = sum_i  agree_i     * log2(m_i / u_i)            (agreement weight)
                 + (1-agree_i) * log2((1-m_i) / (1-u_i))    (disagreement weight)

NULL agreement (a field missing on either record) contributes 0 — the
standard convention: an unobserved comparison carries no evidence.

Scale shape:
  - `fellegi_sunter_score` is a PURE PROJECTION over the pair table: the
    per-field log-weights are computed once at plan-build time and enter
    the plan as literals, so the whole score is constant-folded JVM
    arithmetic — zero shuffles, zero Python, runs where the pairs sit.
  - `fellegi_sunter_score_tf` adds one broadcast join per field against
    a (value, tf) dimension, then the same literal projection.

The reference has no probabilistic-linkage surface (it ranks candidates
by TF-IDF cosine only); this is a beyond-reference ER operator like
cluster/survivorship.py. Oracle: `fellegi_sunter_score` in
__spark_entry__.py (identical double literals + same-order sums in DuckDB,
value-exact); `fs_tf_adjusted` is the TF-adjusted scorer's oracle. The
m/u weights are inputs: this module does not estimate them.
"""

from __future__ import annotations

import math
from typing import Mapping

from pyspark.sql import DataFrame, functions as F


def fs_weights(weights: Mapping[str, tuple[float, float]]) -> dict[str, tuple[float, float]]:
    """(agreement_weight, disagreement_weight) per field from (m, u):
    log2(m/u) and log2((1-m)/(1-u)). Validates 0 < u, m < 1."""
    out = {}
    for field, (m, u) in weights.items():
        if not (0.0 < m < 1.0 and 0.0 < u < 1.0):
            raise ValueError(f"{field}: m={m}, u={u} must be strictly inside (0, 1)")
        out[field] = (math.log2(m / u), math.log2((1.0 - m) / (1.0 - u)))
    return out


def fellegi_sunter_score(
    pairs: DataFrame,
    weights: Mapping[str, tuple[float, float]],
    score_col: str = "fs_score",
) -> DataFrame:
    """Add the Fellegi-Sunter log2-likelihood-ratio score over the given
    agreement columns. `pairs` carries one column per field in `weights`,
    valued 1/true (agree), 0/false (disagree), or NULL (missing -> 0
    contribution). `weights` maps field -> (m, u).

    Pure projection (see module docstring): per-field weights are python
    floats baked into the plan as literals, summed in deterministic field
    order — the oracle replays the identical doubles in the identical
    order, so the score is cross-engine byte-exact."""
    w = fs_weights(weights)
    terms = [
        F.when(F.col(f).isNull(), F.lit(0.0))
        .when(F.col(f).cast("int") == 1, F.lit(wa))
        .otherwise(F.lit(wd))
        for f, (wa, wd) in w.items()
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return pairs.withColumn(score_col, score)


def term_frequencies(records: DataFrame, field: str) -> DataFrame:
    """(value, tf): relative frequency of each non-null value of `field`
    in the records corpus — the value-specific u-probability proxy for
    TF adjustment. One map-side-combined groupBy over the records table;
    the result is a VALUES dimension (distinct values, not records), small
    enough to broadcast for any real field."""
    nonnull = records.select(F.col(field).alias("value")).filter(F.col("value").isNotNull())
    counts = nonnull.groupBy("value").agg(F.count(F.lit(1)).alias("_n"))
    total = nonnull.select(F.count(F.lit(1)).alias("_tot"))
    return counts.crossJoin(F.broadcast(total)).select(
        "value", (F.col("_n") / F.col("_tot")).alias("tf")
    )


def fellegi_sunter_score_tf(
    pairs: DataFrame,
    weights: Mapping[str, tuple[float, float]],
    tf_tables: Mapping[str, DataFrame],
    suffixes: tuple[str, str] = ("_a", "_b"),
    tf_weight: float = 1.0,
    score_col: str = "fs_score",
    broadcast_tf: bool = True,
) -> DataFrame:
    """Term-frequency-adjusted Fellegi-Sunter scoring (the Splink
    `tf_adjustments` idea): agreeing on a RARE value is stronger evidence
    than agreeing on a common one, so when a pair agrees on field f with
    value v the agreement weight log2(m/u) gets the correction

        + tf_weight * log2(u / tf(v))        (net: ~log2(m / tf(v)))

    while disagreement and NULL contributions stay the global-weight
    model of `fellegi_sunter_score`. `pairs` carries the VALUE columns
    f+suffix_a / f+suffix_b per field (agreement = non-null equality);
    `tf_tables[f]` is a (value, tf) table, normally `term_frequencies`
    over the records corpus. A value absent from the TF table (e.g. the
    corpus predates the pair) falls back to the unadjusted weight.

    Scale shape: one broadcast hash join per field against the values
    dimension (map-side, no shuffle; `broadcast_tf=False` for a giant
    value domain), then the score is a single projection of literal m/u
    doubles + log2 arithmetic — same constant-folded discipline as the
    base scorer. Oracle rounds to 6 dp (log2 may differ in the last ulp
    across engines, unlike the literal-only base score)."""
    sa, sb = suffixes
    w = fs_weights(weights)
    out = pairs
    for f in w:
        tf = tf_tables[f].select(
            F.col("value").alias(f"{f}{sa}"), F.col("tf").alias(f"_tf_{f}")
        )
        out = out.join(F.broadcast(tf) if broadcast_tf else tf, f"{f}{sa}", "left")
    terms = []
    for f, (wa, wd) in w.items():
        _, u = weights[f]
        a, b, tfc = F.col(f"{f}{sa}"), F.col(f"{f}{sb}"), F.col(f"_tf_{f}")
        adj = F.when(tfc.isNotNull(), F.lit(tf_weight) * F.log2(F.lit(u) / tfc)).otherwise(
            F.lit(0.0)
        )
        terms.append(
            F.when(a.isNull() | b.isNull(), F.lit(0.0))
            .when(a == b, F.lit(wa) + adj)
            .otherwise(F.lit(wd))
        )
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return out.withColumn(score_col, score).drop(*[f"_tf_{f}" for f in w])
