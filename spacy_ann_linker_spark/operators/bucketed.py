"""Bucketed artifact tables — shuffle-free joins against static model-side
data (north_rule scale lever: "repartition()/bucketing for co-located
joins").

The linker's static artifacts (alias_vectors keyed by `idx`, aliases keyed
by `alias`, KB alias_map) are joined against EVERY mention batch. When the
gazetteer is too big to broadcast (the 100M-alias case where
`broadcast_kb=False` falls back to shuffle joins), a plain
parquet artifact re-shuffles on every batch — the static side's shuffle is
pure waste, identical bytes every time. Spark's answer is BUCKETING: write
the artifact once with `bucketBy(n, key).sortBy(key)` into a catalog table;
every later join on `key` scans the bucket files pre-partitioned, and the
Exchange on the bucketed side is ELIDED by the planner
(`spark.sql.sources.bucketing.enabled`, on by default). Two tables bucketed
on the same key with the same bucket count join with NO shuffle on either
side (plan-asserted in tests/test_plans.py).

Bucketing requires the table catalog (saveAsTable) — plain
`.parquet(path)` cannot carry the bucket spec. Model save/load keeps its
portable parquet-directory contract; this module is the documented opt-in
for deployments with a metastore: write the alias-side artifacts bucketed
once at model-publish time, then pass the catalog tables into the linker in
place of the loaded parquet (same schema, same rows — only the physical
layout differs).

Reference parity note: nmslib keeps its index in one process
(candidate_generator.py:108-117); bucketing is the cluster-scale analog of
"the index is already laid out for lookup" — the layout cost is paid once
at build time, not per query batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write `df` as a catalog table bucketed (and optionally sorted) by
    `key`. One-time layout cost; every later equi-join or aggregation on
    `key` skips the bucketed side's Exchange. `buckets` bounds join-task
    parallelism for this table — size it to the cluster (64-4096 at
    1000-executor scale), NOT to the current batch."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed catalog table. The bucket spec rides in the catalog,
    so the planner elides the Exchange when joining/aggregating on the
    bucket key (assert with .explain: no Exchange above this scan)."""
    return spark.table(table)


# Each LinkageModel artifact with the key every linker join uses on it.
# short_aliases is a tiny bypass set (always broadcast) — plain table.
_MODEL_BUCKET_KEYS = {
    "kb_entities": "id",  # disambiguation entity-vector join (linker.py)
    "kb_alias_map": "alias",  # alias -> entity expansion (J6)
    "vocab": "ngram",  # TF-IDF transform gram lookup (V2)
    "alias_vectors": "idx",  # inverted-index cosine join (J2)
    "aliases": "alias",  # exact fast path + gazetteer (J5)
}


def publish_model_bucketed(model, database: str, buckets: int = 64) -> None:
    """Publish a fitted LinkageModel's artifacts as catalog tables, each
    bucketed on the key the linker joins it on. One-time layout cost at
    model-publish time; every mention batch thereafter joins the static
    side with its Exchange elided — the cluster-scale analog of the
    reference holding its fitted index resident in one process
    (candidate_generator.py:108-117). Use with the linker's
    `broadcast_kb=False`: bucketing is the lever precisely when the
    gazetteer outgrows broadcast."""
    spark = model.cand.alias_vectors.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    frames = {
        "kb_entities": model.kb.entities,
        "kb_alias_map": model.kb.alias_map,
        "vocab": model.cand.tfidf.vocab,
        "alias_vectors": model.cand.alias_vectors,
        "aliases": model.cand.aliases,
    }
    for name, df in frames.items():
        write_bucketed(df, f"{database}.{name}", _MODEL_BUCKET_KEYS[name], buckets=buckets)
    model.kb.short_aliases.write.mode("overwrite").format("parquet").saveAsTable(
        f"{database}.short_aliases"
    )


def load_model_bucketed(spark: SparkSession, database: str, min_df: int = 2):
    """Reconstruct a LinkageModel over the bucketed catalog tables written
    by publish_model_bucketed. Same schema and rows as the parquet-directory
    load — only the physical layout differs, so every linker output is
    row-identical (tests/test_bucketed.py asserts this end-to-end)."""
    from spacy_ann_linker_spark.candidates.generate import CandidateModel
    from spacy_ann_linker_spark.kb.build import KnowledgeBase, vector_dim
    from spacy_ann_linker_spark.pipeline import LinkageModel
    from spacy_ann_linker_spark.vectorize.tfidf import TfidfModel

    t = lambda name: spark.table(f"{database}.{name}")
    kb = KnowledgeBase(
        entities=t("kb_entities"),
        alias_map=t("kb_alias_map"),
        short_aliases=t("short_aliases"),
        dim=vector_dim(t("kb_entities")),
    )
    cand = CandidateModel(
        tfidf=TfidfModel(vocab=t("vocab"), min_df=min_df),
        alias_vectors=t("alias_vectors"),
        short_aliases=kb.short_aliases,
        aliases=t("aliases"),
    )
    return LinkageModel(kb=kb, cand=cand)
