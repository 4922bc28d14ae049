"""F9 span->JSON projection golden (tests/test_remote_ann_linker.py:25-33)
and the LinkingResponse document shape (api/types.py:20-40)."""

from pyspark.sql import functions as F

from spacy_ann_linker_spark.link.api import spans_to_json, to_linking_response
from spacy_ann_linker_spark.pipeline import link_transcripts

from conftest import gazetteer_mentions

SENT = "NLP is a highly researched subset of Machine learning."


def _turns(spark):
    return spark.createDataFrame(
        [("c1", 0, "user", SENT, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_ents_to_json_golden(spark):
    t = _turns(spark)
    mentions = gazetteer_mentions(t, ["NLP", "researched", "Machine learning"], label="SKILL")
    rows = spans_to_json(mentions).collect()
    assert len(rows) == 1
    got = [s.asDict() for s in rows[0]["spans"]]
    assert got == [
        {"text": "NLP", "start": 0, "end": 3, "label": "SKILL"},
        {"text": "researched", "start": 16, "end": 26, "label": "SKILL"},
        {"text": "Machine learning", "start": 37, "end": 53, "label": "SKILL"},
    ]


def test_linking_response_shape(spark, golden_model):
    t = _turns(spark)
    mentions = gazetteer_mentions(t, ["NLP", "researched", "Machine learning"], label="SKILL")
    links = link_transcripts(golden_model, t, mentions=mentions, exact_fast_path=False)
    docs = to_linking_response(links, t).collect()
    assert len(docs) == 1
    d = docs[0]
    assert d["context"] == SENT
    spans = [s.asDict() for s in d["spans"]]
    assert [s["id"] for s in spans] == ["a3", "a15", "a1"]
    assert [s["text"] for s in spans] == ["NLP", "researched", "Machine learning"]
