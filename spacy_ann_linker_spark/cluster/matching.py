"""Mutual-best-match pairing — the conservative merge rule for entity
resolution.

Connected components (cluster/cc.py) merges transitively: a chain
a~b~c collapses even when a and c are nothing alike (the north-rule
default, but also the classic over-merge failure on dense similarity
graphs).
This module is the OTHER end of the precision spectrum: keep a pair only
when each side is the other's single best match. The surviving edges form
a MATCHING — every record merges with at most one partner — which is the
standard one-to-one constraint for record linkage between two registries
(a patient links to at most one insurance record and vice versa) and the
first round of greedy agglomerative merging for dedup. Reference analog:
the linker's per-mention argmax (T3) is one-directional; this is the
bidirectional version used when BOTH sides are entity tables.

Plan shape: one map-side-combined `min_by` per direction over the
symmetrized pair list, then a self-equi-join of the two directed winners
— two linear shuffles, no windows, no pair-space blowup beyond the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mutual_best_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
) -> DataFrame:
    """Keep (a, b) iff b is a's highest-scoring neighbor AND a is b's.

    Input is an undirected scored pair list (duplicate rows allowed —
    the max score per unordered pair wins first, so asymmetric duplicates
    cannot make the two directions disagree about the score). Ties are
    deterministic: equal scores resolve to the SMALLEST neighbor id (ids
    must be orderable; `min_by` over struct(-score, neighbor) — so the
    result is a pure function of the pair set, never of partitioning.

    For BIPARTITE linkage (left registry vs right registry) feed pairs
    whose two id spaces are disjoint (e.g. prefix or sign tag) and the
    matching property IS the one-to-one link constraint.

    -> (id_a, id_b, score), id_a < id_b, each id appearing at most once
    across the whole result (matching property, asserted in tests)."""
    canon = (
        pairs.filter(
            F.col(id_a).isNotNull()
            & F.col(id_b).isNotNull()
            & (F.col(id_a) != F.col(id_b))  # a self-pair would win its own
            # best slot and silently unmatch the node from real partners
        )
        .select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
            F.col(score_col).cast("double").alias("s"),
        )
        .groupBy("u", "v")
        .agg(F.max("s").alias("s"))
    )
    sym = canon.union(canon.select(F.col("v"), F.col("u"), F.col("s")))
    best = sym.groupBy("u").agg(
        F.min_by(
            F.struct(F.col("v"), F.col("s")),
            F.struct((-F.col("s")).alias("ns"), F.col("v")),
        ).alias("_b")
    ).select("u", F.col("_b.v").alias("v"), F.col("_b.s").alias("s"))
    # materialize once: `back` is a projection of `best`, and without the
    # cut the self-join would execute the whole upstream pair-generation
    # subtree (often an LSH/Jaccard self-join) twice
    best = best.localCheckpoint(eager=True)
    back = best.select(F.col("u").alias("v"), F.col("v").alias("u"))
    return (
        best.join(back, ["u", "v"])
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("id_a"), F.col("v").alias("id_b"), F.col("s").alias("score"))
    )
