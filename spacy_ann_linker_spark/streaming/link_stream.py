"""Structured-Streaming linking surface.

The reference's only streaming-ish operator is `RemoteAnnLinker.pipe` — a
generator minibatching docs (size 32) through an HTTP linker
(remote_ann_linker.py:92-120, SURVEY.md B1). Its Spark re-expression is a
streaming DataFrame flowing through the in-row mention extractor and a
stream-static broadcast join against the (static) alias->entity map: Arrow
batches play the role of the 32-doc minibatch, executors play the gunicorn
workers (cli/serve.py:52-57).

Mention extraction follows `mentions/extract.py`'s split: the unbounded
`link_stream` and `entity_counts_windowed` cannot aggregate per turn, so
they use the in-row `extract_mentions`; the foreachBatch surfaces run the
batch path's `extract_mentions_gazetteer` on every micro-batch, over an
alias relation built once from `patterns` when the query starts.

Two linking surfaces:
  * `link_stream` — stateless stream-static equi-join: the exact-alias fast
    path (J5) against a pre-reduced alias->best-entity table; lowest
    latency, but window functions / top-k aren't available on unbounded
    streams so fuzzy mentions fall through.
  * `start_full_link_stream` — foreachBatch: every micro-batch runs the
    COMPLETE batch linker (gazetteer extraction, cosine candidates, JW
    rescue, context disambiguation), the exact Spark shape of the
    reference's minibatch pipe; idempotent per-batch-partition parquet
    sink.
`entity_counts_windowed` is the stateful aggregate path: watermark +
event-time windows, late turns beyond the watermark drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacy_ann_linker_spark.data.golden_kb import _local_relation
from spacy_ann_linker_spark.kb.build import KnowledgeBase
from spacy_ann_linker_spark.mentions.extract import (
    _spans_udf,
    extract_mentions,
    extract_mentions_gazetteer,
)
from spacy_ann_linker_spark.schemas import TRANSCRIPT_SCHEMA


def alias_best_entity(kb: KnowledgeBase) -> DataFrame:
    """Static side for the stream join: alias -> its first entity (KB
    insertion order, the reference's tie-break) + prior. Materialized with
    localCheckpoint: the KB build lineage contains expressions (e.g.
    monotonically_increasing_id in entity dedup) that streaming plan
    validation rejects — and re-deriving the KB per micro-batch would be
    wasteful anyway. On a cluster this table is the committed kb_alias_map
    checkpoint, refreshed out-of-band."""
    return (
        kb.alias_map.filter(F.col("ent_pos") == 0)
        .select("alias", "entity_id", "prior")
        .localCheckpoint(eager=True)
    )


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


def link_stream(stream: DataFrame, kb: KnowledgeBase, patterns: list[str]) -> DataFrame:
    """turns stream -> linked mentions stream (exact-alias path, stateless)."""
    mentions = extract_mentions(stream, patterns)
    best = alias_best_entity(kb)
    return mentions.join(F.broadcast(best), mentions.text == best["alias"], "inner").select(
        "conv_id", "turn_idx", "mention_id", "text", "start", "end", "entity_id", "prior"
    )


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
    batches through the full linker), and it lifts the stateless
    stream-static-join restriction of `link_stream` (which only covers the
    exact-alias path, J5): windows, top-k aggregates, and the rescue join
    are all legal inside foreachBatch because each micro-batch is a plain
    batch DataFrame.

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


def conversation_state_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-conversation progress (turns seen, highest turn_idx), updated every
    micro-batch. The arbitrary-state surface the reference lacks entirely
    (its only streaming analog is the stateless minibatch pipe,
    remote_ann_linker.py:92-120); a transcript engine needs conversation-
    level state that outlives a single micro-batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, n_turns long, last_turn_idx int"
    state_schema = "n_turns long, last_turn_idx int"

    def update(key, pdfs, state: GroupState):
        n, last = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            n += len(pdf)
            last = max(last, int(pdf["turn_idx"].max()))
        state.update((n, last))
        yield pd.DataFrame(
            [{"conv_id": key[0], "n_turns": n, "last_turn_idx": last}]
        )

    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def entity_counts_windowed(
    stream: DataFrame,
    kb: KnowledgeBase,
    patterns: list[str],
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-event-time-window entity mention counts with watermark
    (append-mode capable; late turns beyond the watermark drop). Mentions
    come from `extract_mentions`'s in-row matcher, applied here to keep
    the event time next to each span."""
    spans_udf = _spans_udf(stream.sparkSession, patterns, None)
    wm = stream.withWatermark("ts", watermark)
    exploded = wm.withColumn("_s", F.explode(spans_udf(F.col("text")))).select(
        "ts", F.col("_s.text").alias("mtext")
    )
    best = alias_best_entity(kb)
    linked = exploded.join(F.broadcast(best), exploded.mtext == best["alias"], "inner")
    return (
        linked.groupBy(F.window("ts", window).alias("w"), "entity_id")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(F.col("w.start").alias("window_start"), "entity_id", "n_mentions")
    )


def session_stats_stream(
    stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked stateful session aggregation — the Structured Streaming
    form of extras/sessionize.session_windows. session_window is a native
    stateful operator: per-user open sessions live in the state store, merge
    as events arrive, and emit (append mode) once the watermark passes their
    end; late events beyond the watermark drop. No per-user sort window —
    the shape the lag/cumsum batch sessionizer cannot take on a stream.
    Batch-vs-stream agreement is asserted in tests (emitted sessions equal
    the batch operator's rows for every watermark-finalized session)."""
    wm = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    sw = F.session_window(F.col(ts_col), f"{gap_minutes} minutes")
    return (
        wm.groupBy(F.col(user_col), sw.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the stream form of extras/dedup.exact_dedup:
    key = md5 of the normalized text (same normalize() as the batch
    operator, so batch and stream agree on WHICH rows are duplicates), then
    dropDuplicatesWithinWatermark. The state store holds one key per
    distinct document inside the watermark horizon and evicts it after —
    bounded state on an unbounded stream, the property a plain
    dropDuplicates (state grows forever) doesn't have. Duplicates farther
    apart in event time than the watermark are NOT caught (the documented
    trade; the batch dedup is the exact ground truth on bounded data).
    First arrival wins within a micro-batch pipeline; emitted rows keep
    the full input schema."""
    from spacy_ann_linker_spark.extras.dedup import normalize

    keyed = stream.withColumn("_dk", F.md5(normalize(F.col(text_col)))).withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_dk"])
        .drop("_dk")
    )


def neardup_stream(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection — the stream form of
    extras/dedup.minhash_lsh_pairs. Emits one row per (doc, band):
    (doc_id, band, bucket, owner_id) where owner_id is the FIRST document
    (earliest micro-batch; min doc_id inside a batch) that claimed the
    band bucket. A doc with owner_id != doc_id on ANY band is an LSH
    near-dup candidate of that owner — the per-doc fold happens
    downstream (foreachBatch or a batch query over the sink) because
    chaining a second stateful aggregation after applyInPandasWithState
    in append mode is a Structured Streaming limitation.

    The signature is computed IN-ROW (array_min over the in-row gram
    array per seed — a pure projection, so the only stateful stage is the
    bucket ownership), which is what makes this a ONE-stateful-operator
    topology; the batch path's groupBy-of-exploded-grams shape
    (dedup._minhash_wide) produces identical minhashes (same grams, same
    _h60), pinned by the stream-vs-batch parity test. State: one
    (band, bucket) key per distinct bucket seen — grows with corpus
    vocabulary, not stream length; TTL eviction (GroupStateTimeout) is
    the knob when corpus-lifetime memory exceeds the cluster. Docs too
    short to produce a gram emit nothing (no bucket to claim)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from spacy_ann_linker_spark.extras.dedup import _h60, char_ngrams_col

    r = num_hashes // bands
    grams = char_ngrams_col(F.col(text_col), n)
    sigs = [
        F.array_min(F.transform(grams, lambda g: _h60(F.concat_ws(":", F.lit(s), g))))
        for s in range(num_hashes)
    ]
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[sigs[b * r + i] for i in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    keyed = (
        stream.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array(*band_structs)).alias("_bb"),
        )
        .select("doc_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
    )

    out_schema = "doc_id long, band int, bucket long, owner_id long"
    state_schema = "owner long"

    def claim(key, pdfs, state: GroupState):
        band, bucket = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            (owner,) = state.get
        else:
            owner = int(batch["doc_id"].min())
            state.update((owner,))
        yield pd.DataFrame(
            {
                "doc_id": batch["doc_id"],
                "band": band,
                "bucket": bucket,
                "owner_id": owner,
            }
        )

    return keyed.groupBy("band", "bucket").applyInPandasWithState(
        claim, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def attribution_stream(
    impressions: DataFrame,
    clicks: DataFrame,
    key: str = "user_id",
    imp_ts: str = "imp_ts",
    click_ts: str = "click_ts",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-STREAM attribution join: each click joins the impressions of
    the same key whose timestamp falls in [click - horizon, click] — the
    streaming form of operators/interval.py's bucketized range join, and
    the canonical Structured Streaming stream-stream join shape: BOTH
    sides watermarked, plus an explicit event-time range predicate, so the
    state store can evict impressions older than watermark + horizon
    instead of buffering the full history of both streams.

    Inner join by contract (the fully-supported stream-stream mode; outer
    needs the same watermarks and emits NULL matches only after the
    watermark passes). Batch parity on bounded input is pytest-pinned
    against the plain batch join with the identical predicate."""
    i = impressions.withColumn(imp_ts, F.col(imp_ts).cast("timestamp")).withWatermark(
        imp_ts, watermark
    )
    c = clicks.withColumn(click_ts, F.col(click_ts).cast("timestamp")).withWatermark(
        click_ts, watermark
    )
    cond = (
        (i[key] == c[key])
        & (i[imp_ts] <= c[click_ts])
        & (i[imp_ts] >= c[click_ts] - F.expr(f"interval {horizon}"))
    )
    return i.join(c, cond, "inner").drop(c[key])
