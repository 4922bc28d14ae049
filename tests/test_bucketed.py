"""operators/bucketed.py — model publish/load over bucketed catalog tables.

The plan-level Exchange-elision proof lives in
tests/test_plans.py::test_bucketed_artifact_join_elides_exchanges; here we
prove the end-to-end contract: a model round-tripped through bucketed
catalog tables produces ROW-IDENTICAL links with the shuffle-join knobs on
(`broadcast_kb=False` — the too-big-to-broadcast deployment bucketing
exists for)."""

import pytest

from spacy_ann_linker_spark.operators.bucketed import (
    load_model_bucketed,
    publish_model_bucketed,
)
from spacy_ann_linker_spark.pipeline import link_transcripts


@pytest.fixture(scope="module")
def golden_turns(spark):
    rows = [
        ("c1", 0, "user", "NLP is a highly researched subset of machine learning.", "", None),
        ("c1", 1, "assistant", "Machine learning and ML overlap with Research.", "", None),
        ("c2", 0, "user", "Researchers study natural language processing daily.", "", None),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_bucketed_model_links_row_identical(spark, golden_model, golden_turns, tmp_path):
    model = golden_model
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed_model LOCATION '{tmp_path}/wh'")
    try:
        publish_model_bucketed(model, "bucketed_model", buckets=4)
        loaded = load_model_bucketed(spark, "bucketed_model")

        kw = dict(
            exact_fast_path=True,
            fuzzy_rescue=True,
            broadcast_kb=False,
        )
        base = link_transcripts(model, golden_turns, **kw)
        bucketed = link_transcripts(loaded, golden_turns, **kw)

        assert base.count() > 0
        assert base.exceptAll(bucketed).count() == 0
        assert bucketed.exceptAll(base).count() == 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketed_model CASCADE")


def test_bucketed_tables_carry_bucket_spec(spark, golden_model, tmp_path):
    """The catalog must actually record the bucket spec for every joinable
    artifact — otherwise the Exchange elision silently stops happening."""
    model = golden_model
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed_spec LOCATION '{tmp_path}/wh'")
    try:
        publish_model_bucketed(model, "bucketed_spec", buckets=4)
        for name, key in [
            ("kb_entities", "id"),
            ("kb_alias_map", "alias"),
            ("vocab", "ngram"),
            ("alias_vectors", "idx"),
            ("aliases", "alias"),
        ]:
            desc = spark.sql(f"DESCRIBE EXTENDED bucketed_spec.{name}").collect()
            info = {r.col_name: r.data_type for r in desc}
            assert info.get("Num Buckets") == "4", (name, info)
            assert key in info.get("Bucket Columns", ""), (name, info)
            assert key in info.get("Sort Columns", ""), (name, info)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketed_spec CASCADE")
