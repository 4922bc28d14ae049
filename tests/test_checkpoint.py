"""Checkpoint/lineage/resume semantics (north_rule; SURVEY.md §5 item 6):
kill after stage N, re-run, committed stages skip and output is identical."""

import json
import os

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.data.transcripts import generate_labels, generate_transcripts
from spacy_ann_linker_spark.pipeline import run_checkpointed_linkage
from spacy_ann_linker_spark.plans.checkpoint import CheckpointManager


def _mentions(labels):
    return labels.select(
        "conv_id",
        "turn_idx",
        F.xxhash64("conv_id", "turn_idx", "start").alias("mention_id"),
        F.col("mention").alias("text"),
        "start",
        "end",
        F.lit(None).cast("string").alias("label"),
    )


def test_stage_commit_and_skip(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    cm = CheckpointManager(spark, root)
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "x")

    a = cm.stage("s1", {"v": 1}, build)
    assert a.count() == 10 and len(calls) == 1
    b = cm.stage("s1", {"v": 1}, build)  # same fingerprint -> skip
    assert b.count() == 10 and len(calls) == 1
    c = cm.stage("s1", {"v": 2}, build)  # changed input -> rebuild
    assert c.count() == 10 and len(calls) == 2

    lineage = cm.lineage().collect()
    events = [r["event"] for r in lineage]
    assert events.count("commit") == 2 and events.count("resume-skip") == 1
    metrics = cm.metrics()
    assert metrics.filter(F.col("metric") == "rows_out").count() == 2


def test_full_pipeline_resume_identical(spark, tmp_path):
    root = str(tmp_path / "pipe")
    turns = generate_transcripts(spark, 200)
    labels = generate_labels(spark, 200)
    m = _mentions(labels)

    c1 = run_checkpointed_linkage(spark, root, turns, m, input_snapshot="s1")
    rows1 = sorted(map(tuple, c1.collect()))

    # second run: every stage must be a resume-skip, output byte-identical
    c2 = run_checkpointed_linkage(spark, root, turns, m, input_snapshot="s1")
    rows2 = sorted(map(tuple, c2.collect()))
    assert rows1 == rows2

    cm = CheckpointManager(spark, root)
    lineage = cm.lineage().collect()
    skips = [r for r in lineage if r["event"] == "resume-skip"]
    commits = [r for r in lineage if r["event"] == "commit"]
    assert len(commits) == 6  # six stages committed once
    assert len(skips) == 6  # and all six skipped on re-run


def test_mid_pipeline_resume_after_kill(spark, tmp_path):
    """Simulate a kill after the vocab stage: later stage dirs absent, early
    manifests present -> re-run rebuilds only the missing tail."""
    root = str(tmp_path / "kill")
    turns = generate_transcripts(spark, 160)
    labels = generate_labels(spark, 160)
    m = _mentions(labels)
    run_checkpointed_linkage(spark, root, turns, m, input_snapshot="s1")

    # "kill": wipe the links+clusters stages as if the job died there
    import shutil

    shutil.rmtree(os.path.join(root, "links"))
    shutil.rmtree(os.path.join(root, "clusters"))

    c = run_checkpointed_linkage(spark, root, turns, m, input_snapshot="s1")
    assert c.count() > 0
    cm = CheckpointManager(spark, root)
    lineage = [json.loads(json.dumps(r.asDict())) for r in cm.lineage().collect()]
    last_events = [r["event"] for r in lineage]
    # second run: 4 early stages skip, links+clusters recommit
    assert last_events.count("commit") == 6 + 2
    assert last_events.count("resume-skip") == 4


def test_snapshot_change_invalidates(spark, tmp_path):
    root = str(tmp_path / "inv")
    turns = generate_transcripts(spark, 80)
    labels = generate_labels(spark, 80)
    m = _mentions(labels)
    run_checkpointed_linkage(spark, root, turns, m, input_snapshot="s1")
    run_checkpointed_linkage(spark, root, turns, m, input_snapshot="s2")
    cm = CheckpointManager(spark, root)
    commits = [r for r in cm.lineage().collect() if r["event"] == "commit"]
    # kb_entities depends on snapshot -> recommitted; chain invalidates all
    assert len(commits) == 12


def test_reliable_memo_checkpoint_survives_cache_loss(spark, tmp_path, golden_model):
    """VERDICT r3 item 5: with memo_checkpoint_dir set, every memo
    materializes through a reliable parquet write+read — the link output is
    identical to the in-memory path, and invalidating every cached block
    mid-plan (the executor-loss stand-in: localCheckpoint blocks die with
    their executor, parquet files do not) still completes with the same
    rows."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.data.transcripts import generate_transcripts
    from spacy_ann_linker_spark.link.linker import memo_scope
    from conftest import gazetteer_mentions
    from spacy_ann_linker_spark.pipeline import link_transcripts

    turns = generate_transcripts(spark, 64)
    mentions = gazetteer_mentions(turns, ["Research", "ML", "NLP"])

    def keyed(rows):
        return {
            (r["conv_id"], r["turn_idx"], r["mention_id"], r["alias"], r["entity_id"])
            for r in rows
        }

    with memo_scope():
        base = keyed(
            link_transcripts(
                golden_model, turns, mentions=mentions, fuzzy_rescue=True
            ).collect()
        )

    ckpt = str(tmp_path / "memos")
    with memo_scope():
        links = link_transcripts(
            golden_model,
            turns,
            mentions=mentions,
            fuzzy_rescue=True,
            memo_checkpoint_dir=ckpt,
        )
        first = keyed(links.collect())
        # kill every cached block, then re-collect: the plan must rebuild
        # from the reliable parquet memos, not from lost cache
        spark.catalog.clearCache()
        again = keyed(links.collect())
        import os

        assert any(d.startswith("memo_") for d in os.listdir(ckpt))
    assert base == first == again
    # ADVICE r4: memo dirs are request-scoped scratch — scope exit GCs them,
    # so long-running serve loops / foreachBatch never grow the dir
    import os

    assert os.listdir(ckpt) == []


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """connected_components(checkpoint_dir=...) cuts per-round lineage via
    parquet round tables (re-readable after executor loss) and returns the
    same components as the localCheckpoint path."""
    from spacy_ann_linker_spark.cluster.cc import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("g", "h"), ("h", "a")],
        "src string, dst string",
    )
    local = {(r["node"], r["component"]) for r in connected_components(edges).collect()}
    ckpt = str(tmp_path / "cc")
    reliable = {
        (r["node"], r["component"])
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert local == reliable
    import os

    # ADVICE r4: each run namespaces its rounds under a unique cc_<uuid>
    # subdir so concurrent/back-to-back runs sharing a checkpoint_dir never
    # overwrite each other's round files
    runs = [d for d in os.listdir(ckpt) if d.startswith("cc_")]
    assert len(runs) == 1
    assert any(d.startswith("cc_round_") for d in os.listdir(os.path.join(ckpt, runs[0])))
    reliable2 = {
        (r["node"], r["component"])
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert reliable2 == local
    assert len([d for d in os.listdir(ckpt) if d.startswith("cc_")]) == 2
