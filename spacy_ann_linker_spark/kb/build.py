"""KnowledgeBase build stage — the Spark equivalent of `create_index`
(reference cli/create_index.py:48-114, SURVEY.md §3.1).

The spaCy KnowledgeBase (a driver-local keyed store) becomes two tables:

    kb_entities(id, name, description, label, freq, vector, vnorm)
    kb_alias_map(alias, entity_id, prior, ent_pos)

plus a `short_aliases(alias)` side table (len < 4, the exact-match bypass
population, candidate_generator.py:98).

Reference behaviors preserved:
  * F7 entity dedup, first record per id wins (create_index.py:90-91)
  * F6 aliases keep only entity ids present in the KB; alias dropped if none
    remain (create_index.py:94-96)
  * J6 priors forced UNIFORM over surviving entities — input probabilities
    ignored (create_index.py:97)
  * freq hardcoded 100 (create_index.py:68)
  * V3 entity vector = mean-pooled description embedding
    (create_index.py:79-84), here from the seeded vector table stand-in
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spacy_ann_linker_spark.link.embedding import DIM, embed_texts

SHORT_ALIAS_MAX_LEN = 4  # strict <: len(alias) < 4 (candidate_generator.py:98)


@dataclass
class KnowledgeBase:
    entities: DataFrame  # id, name, description, label, freq, vector, vnorm
    alias_map: DataFrame  # alias, entity_id, prior, ent_pos
    short_aliases: DataFrame  # alias
    dim: int  # entity vector length = the linker's context embedding dim

    def aliases(self) -> DataFrame:
        """Distinct alias strings — `kb.get_alias_strings()`
        (create_index.py:104), the vectorizer's fit corpus."""
        return self.alias_map.select("alias").distinct()

    def save(self, path: str) -> None:
        self.entities.write.mode("overwrite").parquet(f"{path}/kb_entities")
        self.alias_map.write.mode("overwrite").parquet(f"{path}/kb_alias_map")
        self.short_aliases.write.mode("overwrite").parquet(f"{path}/short_aliases")

    @staticmethod
    def load(spark, path: str) -> "KnowledgeBase":
        entities = spark.read.parquet(f"{path}/kb_entities")
        return KnowledgeBase(
            entities=entities,
            alias_map=spark.read.parquet(f"{path}/kb_alias_map"),
            short_aliases=spark.read.parquet(f"{path}/short_aliases"),
            dim=vector_dim(entities),
        )


def vector_dim(entities: DataFrame) -> int:
    """Entity vector length of a stored KB, read once at load from one
    row's `size(vector)` (a single limit-1 job); an empty KB gets DIM."""
    row = entities.filter(F.col("vector").isNotNull()).select(F.size("vector")).first()
    return DIM if row is None else row[0]


def file_order_col():
    """Deterministic "position in file order" sort key, valid when attached
    directly to a file-scan projection (BEFORE any shuffle): sorts by file
    name, then split offset within the file, then row position within the
    split. Unlike bare monotonically_increasing_id — whose partition-index
    high bits follow Spark's size-ordered split packing, not file order —
    this key is stable under re-splitting and re-reading, and it survives
    any later repartition because the struct is computed at scan time."""
    return F.struct(
        F.input_file_name().alias("f"),
        F.input_file_block_start().alias("b"),
        F.monotonically_increasing_id().alias("i"),
    )


def with_file_order(df: DataFrame, col: str = "_file_pos") -> DataFrame:
    """Attach the file-order key at scan time. Call on the raw scan output,
    then repartition/shuffle freely — `dedup_entities` (and any first-wins
    consumer) picks `_file_pos` up automatically."""
    return df.withColumn(col, file_order_col())


def dedup_entities(entities_df: DataFrame, order_col: str | None = None) -> DataFrame:
    """F7: first record per id wins — file order in the reference
    (create_index.py:90-91). Order resolution, most- to least-explicit:

      * `order_col` if given;
      * a `_file_pos` column if present (attach via `with_file_order()` at
        scan time; survives any later repartition — the cluster-scale path);
      * single-partition input: monotonically_increasing_id (exact);
      * otherwise the file-order key is attached inline — correct when
        `entities_df` is still a file-scan projection (pre-shuffle);
        post-shuffle multi-partition callers must pass `order_col`.
    """
    drop_cols = ["_rn"]
    if order_col is None:
        if "_file_pos" in entities_df.columns:
            order_col = "_file_pos"
            drop_cols.append("_file_pos")
        elif entities_df.rdd.getNumPartitions() <= 1:
            entities_df = entities_df.withColumn("_pos", F.monotonically_increasing_id())
            order_col = "_pos"
            drop_cols.append("_pos")
        else:
            entities_df = entities_df.withColumn("_pos", file_order_col())
            order_col = "_pos"
            drop_cols.append("_pos")
    elif order_col in entities_df.columns and order_col.startswith("_"):
        drop_cols.append(order_col)
    w = Window.partitionBy("id").orderBy(F.col(order_col).asc())
    return (
        entities_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop(*drop_cols)
    )


def build_alias_map(aliases_df: DataFrame, entities_df: DataFrame) -> DataFrame:
    """F6 + J6: explode entities, keep only known ids, re-derive uniform
    priors over the SURVIVING entities (the reference filters first, then
    sets prior = 1/len(filtered), create_index.py:94-98)."""
    exploded = aliases_df.select(
        "alias", F.posexplode("entities").alias("ent_pos", "entity_id")
    )
    known = exploded.join(
        F.broadcast(entities_df.select(F.col("id").alias("entity_id"))), "entity_id", "left_semi"
    )
    n_ents = Window.partitionBy("alias")
    return (
        known.withColumn("n_ents", F.count(F.lit(1)).over(n_ents))
        .withColumn("prior", F.lit(1.0) / F.col("n_ents"))
        .select("alias", "entity_id", "prior", "ent_pos")
    )


def build_kb(entities_df: DataFrame, aliases_df: DataFrame, dim: int = DIM) -> KnowledgeBase:
    """Full KB build: dedup entities, embed descriptions, explode aliases."""
    ents = dedup_entities(entities_df).withColumn("freq", F.lit(100))
    vecs = embed_texts(ents.select("id", "description"), "id", "description", dim=dim)
    ents = ents.join(vecs, "id", "left").withColumn(
        "vnorm",
        # float64 squares (float32*float32 stays float32 in Spark and
        # diverges from float64 engines at rounding boundaries)
        F.sqrt(
            F.aggregate(
                F.col("vector").cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
    )
    alias_map = build_alias_map(aliases_df, ents)
    short = (
        alias_map.select("alias")
        .distinct()
        .filter(F.length("alias") < SHORT_ALIAS_MAX_LEN)
    )
    return KnowledgeBase(entities=ents, alias_map=alias_map, short_aliases=short, dim=dim)
