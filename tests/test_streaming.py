"""Streaming surface: the foreachBatch linkers driven to completion with
processAllAvailable on a parquet-backed stream."""

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.data.transcripts import generate_transcripts
from spacy_ann_linker_spark.streaming.link_stream import read_transcript_stream

from conftest import gazetteer_mentions


@pytest.fixture(scope="module")
def patterns(golden_model):
    return [r["alias"] for r in golden_model.cand.aliases.collect()]


def test_full_link_stream_matches_batch_including_fuzzy(
    spark, golden_model, patterns, tmp_path
):
    """VERDICT r2 item 8: the foreachBatch full-linker stream produces the
    batch linker's exact output — including a FUZZY mention ('machne
    lerning') that only the JW rescue links, and a non-ASCII one ('mächine
    learning') the stream's gazetteer must find."""
    from spacy_ann_linker_spark.link.linker import link_mentions
    from spacy_ann_linker_spark.streaming.link_stream import start_full_link_stream

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
        gazetteer_mentions(batch_turns, pats),
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
