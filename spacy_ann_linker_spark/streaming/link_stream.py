"""Structured-Streaming linking surface.

The reference's only streaming-ish operator is `RemoteAnnLinker.pipe` — a
generator minibatching docs (size 32) through an HTTP linker
(remote_ann_linker.py:92-120, SURVEY.md B1). Its Spark re-expression is
foreachBatch: every micro-batch of a transcript stream is a plain batch
DataFrame, so it runs the batch path's `extract_mentions_gazetteer` (over
an alias relation built once from `patterns` when the query starts) and
the COMPLETE batch linker. Executors play the gunicorn workers
(cli/serve.py:52-57).

  * `start_full_link_stream` — gazetteer extraction, cosine candidates, JW
    rescue, context disambiguation per micro-batch; idempotent
    per-batch-partition parquet sink.
  * `start_incremental_er_stream` — the same linker, then the batch's
    mention/entity edges folded into a persisted (node, component)
    assignment; `latest_er_state` reads the newest one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacy_ann_linker_spark.data.golden_kb import _local_relation
from spacy_ann_linker_spark.mentions.extract import extract_mentions_gazetteer
from spacy_ann_linker_spark.schemas import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def _pattern_aliases(spark: SparkSession, patterns: list[str]) -> DataFrame:
    """`patterns` as the gazetteer's alias table: one JVM LocalRelation,
    built once per query, never per micro-batch."""
    return _local_relation(spark, [{"alias": p} for p in patterns], ["alias"], "alias string")


def start_full_link_stream(
    stream: DataFrame,
    model,
    patterns: list[str],
    output_path: str,
    checkpoint_path: str,
    fuzzy_rescue: bool = True,
    threshold: float = 0.7,
    use_blocking: bool = False,
    query_name: str = "full_link_stream",
):
    """Full-linker streaming surface via foreachBatch: each micro-batch of
    turns runs the COMPLETE batch linker — gazetteer extraction (the
    `link_transcripts` extractor, so stream output equals batch output),
    TF-IDF cosine candidates, JW fuzzy rescue, context disambiguation — and
    appends links to `output_path` parquet. This is the exact Spark shape of
    the reference's minibatch pipe (remote_ann_linker.py:92-120 links 32-doc
    batches through the full linker): windows, top-k aggregates, and the
    rescue join are all legal inside foreachBatch because each micro-batch
    is a plain batch DataFrame.

    Exactly-once: foreachBatch can replay a batch on failure — the sink
    partitions by an explicit _batch_id so a replayed batch OVERWRITES its
    own partition (idempotent), the standard foreachBatch dedup recipe.
    Returns the StreamingQuery (caller stops it)."""
    from spacy_ann_linker_spark.link.linker import link_mentions, memo_scope

    aliases = _pattern_aliases(stream.sparkSession, patterns)

    def link_batch(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch memo caches must not accumulate — and the release must be
        # SCOPED to this micro-batch: the streaming thread shares the driver
        # with any concurrent serve/batch caller, and a global release here
        # would unpersist memos those callers are mid-join on
        with memo_scope():
            mentions = extract_mentions_gazetteer(batch_df, aliases)
            links = link_mentions(
                mentions,
                batch_df,
                model.kb,
                model.cand,
                threshold=threshold,
                fuzzy_rescue=fuzzy_rescue,
                use_blocking=use_blocking,
            )
            (
                links.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("_batch_id")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(output_path)
            )

    return (
        stream.writeStream.foreachBatch(link_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def start_incremental_er_stream(
    stream: DataFrame,
    model,
    patterns: list[str],
    links_path: str,
    state_path: str,
    checkpoint_path: str,
    fuzzy_rescue: bool = True,
    threshold: float = 0.7,
    query_name: str = "incremental_er_stream",
):
    """CONTINUOUS entity resolution over a transcript stream — the composed
    production loop this engine exists for: every micro-batch runs the full
    batch linker (gazetteer extraction, cosine candidates, JW rescue,
    disambiguation), appends its links idempotently, derives the batch's
    mention<->entity edges (the cluster_links node encoding: "m:"/"e:"
    prefixes), and folds them into a PERSISTED (node, component) assignment
    with cluster contraction (`cluster/cc.py:incremental_components`) — so
    each batch costs O(batch edges), never O(history): yesterday's
    10^10-node clustering is an artifact read once per batch, not
    re-iterated.

    State versioning: the assignment is parquet under
    `state_path/v{batch_id}`. foreachBatch can REPLAY a batch on failure, so
    a replayed batch must (a) find the same predecessor and (b) overwrite
    only itself: prev = the max version id < batch_id, the batch writes its
    own v{batch_id} with mode=overwrite, and only versions < prev are pruned
    AFTER the write commits — the replay of batch B always still sees
    v(B-1). Links are partitioned by _batch_id with dynamic partition
    overwrite (the start_full_link_stream idempotency recipe). Paths are
    local-FS here (the sandbox convention of plans/checkpoint.py); on a
    cluster they are DFS paths and the prune is an fs.delete.

    Convergence note: component ids are min node ids, and
    incremental_components keeps ids stable under merges (min-of-mins), so
    downstream consumers can treat a component id as durable — it only ever
    changes by two clusters MERGING to the smaller id.
    Returns the StreamingQuery (caller stops it)."""
    import os
    import re
    import shutil

    from spacy_ann_linker_spark.cluster.cc import incremental_components
    from spacy_ann_linker_spark.link.linker import link_mentions, memo_scope

    aliases = _pattern_aliases(stream.sparkSession, patterns)

    def _versions() -> list[int]:
        if not os.path.isdir(state_path):
            return []
        return sorted(
            int(m.group(1))
            for d in os.listdir(state_path)
            if (m := re.fullmatch(r"v(\d+)", d))
        )

    def er_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        with memo_scope():
            mentions = extract_mentions_gazetteer(batch_df, aliases)
            links = link_mentions(
                mentions,
                batch_df,
                model.kb,
                model.cand,
                threshold=threshold,
                fuzzy_rescue=fuzzy_rescue,
            )
            (
                links.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("_batch_id")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(links_path)
            )
        edges = (
            spark.read.parquet(links_path)
            .filter(F.col("_batch_id") == batch_id)
            .select(
                F.concat(F.lit("m:"), F.col("text")).alias("src"),
                F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
            )
            .distinct()
        )
        older = [v for v in _versions() if v < batch_id]
        if older:
            prev = spark.read.parquet(os.path.join(state_path, f"v{older[-1]}"))
        else:
            prev = spark.createDataFrame([], "node string, component string")
        state = incremental_components(prev, edges)
        state.write.mode("overwrite").parquet(
            os.path.join(state_path, f"v{batch_id}")
        )
        # prune strictly-older-than-predecessor versions only — a replay of
        # THIS batch must still find its predecessor
        for v in older[:-1]:
            shutil.rmtree(os.path.join(state_path, f"v{v}"), ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(er_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def latest_er_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Read the newest committed (node, component) assignment written by
    start_incremental_er_stream (max v{batch_id} under state_path)."""
    import os
    import re

    versions = sorted(
        int(m.group(1))
        for d in os.listdir(state_path)
        if (m := re.fullmatch(r"v(\d+)", d))
    )
    if not versions:
        raise FileNotFoundError(f"no state versions under {state_path}")
    return spark.read.parquet(os.path.join(state_path, f"v{versions[-1]}"))
