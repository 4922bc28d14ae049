"""Streaming surface: stream-static linking + watermarked window counts
driven to completion with processAllAvailable on a parquet-backed stream."""

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.data.transcripts import generate_transcripts
from spacy_ann_linker_spark.streaming.link_stream import (
    entity_counts_windowed,
    link_stream,
    read_transcript_stream,
)


@pytest.fixture(scope="module")
def transcript_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream") / "turns")
    generate_transcripts(spark, 400).repartition(4).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def patterns(golden_model):
    return [r["alias"] for r in golden_model.cand.aliases.collect()]


def test_link_stream_matches_batch(spark, golden_model, transcript_dir, patterns):
    stream = read_transcript_stream(spark, transcript_dir)
    assert stream.isStreaming
    out = link_stream(stream, golden_model.kb, patterns)
    q = (
        out.writeStream.format("memory")
        .queryName("links_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM links_stream")

    # batch oracle: same extraction + same exact-alias join on the static read
    from spacy_ann_linker_spark.mentions.extract import extract_mentions
    from spacy_ann_linker_spark.streaming.link_stream import alias_best_entity

    batch_turns = spark.read.parquet(transcript_dir)
    bm = extract_mentions(batch_turns, patterns)
    best = alias_best_entity(golden_model.kb)
    want = bm.join(F.broadcast(best), bm.text == best["alias"], "inner")
    assert got.count() == want.count() > 0
    g = {(r["conv_id"], r["turn_idx"], r["start"], r["entity_id"]) for r in got.collect()}
    w = {(r["conv_id"], r["turn_idx"], r["start"], r["entity_id"]) for r in want.collect()}
    assert g == w


def test_full_link_stream_matches_batch_including_fuzzy(
    spark, golden_model, patterns, tmp_path
):
    """VERDICT r2 item 8: the foreachBatch full-linker stream produces the
    batch linker's exact output — including a FUZZY mention ('machne
    lerning') that the exact-alias stream path cannot link, and a non-ASCII
    one ('mächine learning') the stream's gazetteer must find like the
    in-row extractor does."""
    from spacy_ann_linker_spark.link.linker import link_mentions
    from spacy_ann_linker_spark.mentions.extract import extract_mentions
    from spacy_ann_linker_spark.streaming.link_stream import (
        read_transcript_stream,
        start_full_link_stream,
    )

    turns = generate_transcripts(spark, 120)
    fuzzy = spark.createDataFrame(
        [
            ("fz1", 0, "user", "I study machne lerning and NLP models today", "", None),
            ("fz2", 0, "user", "we compared mächine learning with NLP", "", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    all_turns = turns.unionByName(fuzzy)
    src = str(tmp_path / "turns")
    all_turns.repartition(3).write.parquet(src)

    pats = patterns + ["machne lerning", "mächine learning"]  # upstream NER emits the typo spans
    out_dir, ckpt = str(tmp_path / "links"), str(tmp_path / "ckpt")
    stream = read_transcript_stream(spark, src, max_files=1)
    q = start_full_link_stream(
        stream, golden_model, pats, out_dir, ckpt, fuzzy_rescue=True
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_df = spark.read.parquet(out_dir)

    batch_turns = spark.read.parquet(src)
    want_df = link_mentions(
        extract_mentions(batch_turns, pats),
        batch_turns,
        golden_model.kb,
        golden_model.cand,
        fuzzy_rescue=True,
    )

    def keyset(df):
        return {
            (r["conv_id"], r["turn_idx"], r["start"], r["entity_id"], r["alias"])
            for r in df.collect()
        }

    got, want = keyset(got_df), keyset(want_df)
    assert got == want and len(want) > 0
    # the fuzzy mentions were rescued (exact path would have dropped them)
    assert any(k[0] == "fz1" and k[3] == "a1" for k in got), sorted(got)[:5]
    assert any(k[0] == "fz2" and k[3] == "a1" for k in got), sorted(got)[:5]


def test_conversation_state_stream(spark, transcript_dir):
    from spacy_ann_linker_spark.streaming.link_stream import conversation_state_stream

    stream = read_transcript_stream(spark, transcript_dir, max_files=2)
    out = conversation_state_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("conv_state")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # latest state per conversation must equal the batch ground truth
    rows = spark.sql(
        "SELECT conv_id, max(n_turns) AS n, max(last_turn_idx) AS last FROM conv_state GROUP BY conv_id"
    ).collect()
    batch = (
        spark.read.parquet(transcript_dir)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("last"))
        .collect()
    )
    want = {(r["conv_id"], r["n"], r["last"]) for r in batch}
    got = {(r["conv_id"], r["n"], r["last"]) for r in rows}
    assert got == want


def test_windowed_counts(spark, golden_model, transcript_dir, patterns):
    stream = read_transcript_stream(spark, transcript_dir)
    out = entity_counts_windowed(stream, golden_model.kb, patterns, window="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("counts_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM counts_stream").collect()
    # append mode only emits windows the watermark has passed; with a bounded
    # historical stream most windows finalize
    assert len(rows) > 0
    assert all(r["n_mentions"] >= 1 for r in rows)


def test_session_stats_stream_matches_batch(spark, tmp_path):
    """Streaming session_window aggregation (watermark + state store, append
    mode) must emit exactly the batch session_windows rows for every
    session the watermark finalized — and with a bounded historical stream
    that is every session except possibly each user's last."""
    import shutil

    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.extras.sessionize import session_windows
    from spacy_ann_linker_spark.streaming.link_stream import session_stats_stream

    import os

    src = "/root/testdata/sf0.001/events.parquet"
    stream_dir = str(tmp_path / "events_stream")
    os.makedirs(stream_dir)
    if os.path.isdir(src):
        for f in os.listdir(src):
            shutil.copy(os.path.join(src, f), stream_dir)
    else:
        shutil.copy(src, stream_dir)
    batch_df = spark.read.parquet(stream_dir)

    stream = (
        spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", "1").parquet(stream_dir)
    )
    out = session_stats_stream(stream, gap_minutes=30, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def key(rows):
        return {
            (
                r["user_id"],
                r["session_start"],
                r["session_end"],
                r["n_events"],
                round(r["total_value"], 6),
            )
            for r in rows
        }

    streamed = key(spark.sql("SELECT * FROM sessions_stream").collect())
    batch = key(session_windows(batch_df, gap_minutes=30).collect())
    n_users = batch_df.select("user_id").distinct().count()
    assert streamed <= batch  # append mode: only finalized sessions emit
    # everything the watermark passed must have emitted: at most one open
    # (unfinalized) session per user can be missing
    assert len(batch) - len(streamed) <= n_users
    assert len(streamed) > 0


def test_dedup_stream_matches_batch_key_set(spark, tmp_path):
    """Streaming exact dedup must emit exactly one row per distinct
    normalized-text key (batch parity on the KEY SET — which physical row
    survives is arrival-order-dependent by design)."""
    import os

    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.extras.dedup import normalize
    from spacy_ann_linker_spark.streaming.link_stream import dedup_stream

    rows = []
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    texts = ["Hello  World", "hello world", "other doc", "Other   DOC", "unique"]
    for i, t in enumerate(texts * 3):
        rows.append((i, t, base + dt.timedelta(seconds=i)))
    src = str(tmp_path / "docs_stream")
    os.makedirs(src)
    batch_df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    # several files so maxFilesPerTrigger exercises cross-micro-batch state
    batch_df.repartition(4).write.mode("overwrite").parquet(src)
    batch_read = spark.read.parquet(src)

    stream = (
        spark.readStream.schema(batch_read.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = dedup_stream(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from dedup_stream_t").collect()
    got_keys = [r["text"].lower().split() for r in got]
    # one row per distinct key, and schema preserved
    assert len(got) == len({tuple(k) for k in got_keys}) == 3
    want_keys = {
        tuple(r["k"].split("|"))
        for r in batch_read.select(
            F.array_join(F.split(normalize(F.col("text")), " "), "|").alias("k")
        )
        .distinct()
        .collect()
    }
    assert {tuple(k) for k in got_keys} == want_keys
    assert set(got[0].asDict()) == {"doc_id", "text", "ts"}


def test_neardup_stream_matches_batch_lsh_ownership(spark, tmp_path):
    """Streaming LSH near-dup ownership must agree with the batch band
    keys: with files arriving in doc_id order, each bucket's owner is the
    globally smallest doc_id, so the set of flagged docs (owner != self on
    some band) equals the batch 'shares a bucket with an earlier doc'
    set, and buckets must be IDENTICAL to dedup.minhash_band_keys."""
    import os

    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.extras.dedup import minhash_band_keys
    from spacy_ann_linker_spark.streaming.link_stream import neardup_stream

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog!",  # near-dup of 0
        "completely different content about spark plans",
        "the quick brown fox jumps over a lazy dog",     # near-dup-ish
        "another unrelated document body entirely",
        "completely different content about spark plans",  # exact dup of 2
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")

    src = str(tmp_path / "neardup_src")
    os.makedirs(src)
    # one file per pair of docs, written in doc order -> arrival order
    for chunk in range(3):
        spark.createDataFrame(rows[chunk * 2 : chunk * 2 + 2], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = neardup_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from neardup_t").collect()

    bk = minhash_band_keys(batch_df, "doc_id", "text")
    want_buckets = {
        (r["doc_id"], r["band"], r["bucket"]) for r in bk.collect()
    }
    assert {(r["doc_id"], r["band"], r["bucket"]) for r in got} == want_buckets

    owners = {
        (r["band"], r["bucket"]): r["min_owner"]
        for r in bk.groupBy("band", "bucket").agg(F.min("doc_id").alias("min_owner")).collect()
    }
    # in-order arrival -> streamed owner equals the global min owner
    for r in got:
        assert r["owner_id"] == owners[(r["band"], r["bucket"])], r
    flagged = {r["doc_id"] for r in got if r["owner_id"] != r["doc_id"]}
    want_flagged = {
        d for (d, band, bucket) in want_buckets if owners[(band, bucket)] != d
    }
    assert flagged == want_flagged
    assert 5 in flagged  # exact dup must be flagged
    assert 1 in flagged  # near-dup shares at least one band


def test_attribution_stream_matches_batch_join(spark, tmp_path):
    """Stream-stream time-range join must produce exactly the batch join's
    pairs on bounded input (inner mode, generous watermark)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.streaming.link_stream import attribution_stream

    base = dt.datetime(2024, 1, 1)
    imps = [
        (u, base + dt.timedelta(minutes=t))
        for u in range(4)
        for t in (0, 20, 55)
    ]
    clicks = [
        (u, base + dt.timedelta(minutes=t))
        for u in range(4)
        for t in (10, 45, 200)
    ]
    imp_df = spark.createDataFrame(imps, "user_id int, imp_ts timestamp")
    clk_df = spark.createDataFrame(clicks, "user_id int, click_ts timestamp")
    isrc, csrc = str(tmp_path / "imps"), str(tmp_path / "clicks")
    imp_df.coalesce(2).write.parquet(isrc)
    clk_df.coalesce(2).write.parquet(csrc)

    istream = spark.readStream.schema(imp_df.schema).option("maxFilesPerTrigger", "1").parquet(isrc)
    cstream = spark.readStream.schema(clk_df.schema).option("maxFilesPerTrigger", "1").parquet(csrc)
    out = attribution_stream(istream, cstream, horizon="30 minutes", watermark="10 hours")
    q = out.writeStream.format("memory").queryName("attr_t").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["imp_ts"], r["click_ts"])
        for r in spark.sql("select * from attr_t").collect()
    }
    want = {
        (r["user_id"], r["imp_ts"], r["click_ts"])
        for r in imp_df.join(
            clk_df,
            (imp_df.user_id == clk_df.user_id)
            & (imp_df.imp_ts <= clk_df.click_ts)
            & (imp_df.imp_ts >= clk_df.click_ts - F.expr("interval 30 minutes")),
        )
        .drop(clk_df.user_id)
        .collect()
    }
    assert got == want
    assert len(got) > 0
    # sanity: a click never attributes to a later impression
    for _, its, cts in got:
        assert its <= cts


def test_incremental_er_stream_matches_batch_recompute(
    spark, golden_model, patterns, tmp_path
):
    """Continuous ER: after the stream drains, the persisted (node,
    component) state equals a from-scratch connected_components over ALL
    accumulated link edges — the incremental contraction lost nothing."""
    from spacy_ann_linker_spark.cluster.cc import connected_components
    from spacy_ann_linker_spark.streaming.link_stream import (
        latest_er_state,
        start_incremental_er_stream,
    )

    turns = generate_transcripts(spark, 300)
    src = str(tmp_path / "turns")
    turns.repartition(5).write.parquet(src)  # 5 files -> >= 3 micro-batches

    links_path = str(tmp_path / "links")
    state_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = read_transcript_stream(spark, src, max_files=2)
    q = start_incremental_er_stream(
        stream, golden_model, patterns, links_path, state_path, ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    state = latest_er_state(spark, state_path)
    all_links = spark.read.parquet(links_path)
    edges = all_links.select(
        F.concat(F.lit("m:"), F.col("text")).alias("src"),
        F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
    ).distinct()
    want = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    got = {(r.node, r.component) for r in state.collect()}
    assert got == want and len(want) > 0
    # old state versions were pruned down to the last two at most
    import os

    assert len([d for d in os.listdir(state_path) if d.startswith("v")]) <= 2
