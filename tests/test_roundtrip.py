"""Serialization round-trip parity (reference tests/test_ann_kb.py:54-61 and
tests/test_cli.py:18-31): dumped and reloaded state answers get_candidates
identically; the model dir replaces cfg/kb/index/joblib/npz blobs
(candidate_generator.py:325-346) with tables."""

import pytest

from spacy_ann_linker_spark.link.linker import kb_get_candidates
from spacy_ann_linker_spark.pipeline import LinkageModel


def test_model_roundtrip_preserves_candidates(spark, golden_model, tmp_path):
    path = str(tmp_path / "model")
    golden_model.save(path)
    reloaded = LinkageModel.load(spark, path)

    t = spark.createDataFrame(
        [("research",), ("researched",), ("ML",), ("Statistics",)], "text string"
    )
    want = sorted(
        map(tuple, kb_get_candidates(golden_model.cand, golden_model.kb, t).collect())
    )
    got = sorted(map(tuple, kb_get_candidates(reloaded.cand, reloaded.kb, t).collect()))
    assert got == want
    assert len(got) >= 4


def test_reloaded_model_links_flagship(spark, golden_model, tmp_path):
    from conftest import gazetteer_mentions
    from spacy_ann_linker_spark.pipeline import link_transcripts

    path = str(tmp_path / "model2")
    golden_model.save(path)
    reloaded = LinkageModel.load(spark, path)
    turns = spark.createDataFrame(
        [("c1", 0, "user", "NLP is a highly researched subset of machine learning.", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    m = gazetteer_mentions(turns, ["NLP", "researched", "machine learning"])
    links = link_transcripts(reloaded, turns, mentions=m, exact_fast_path=False)
    assert [r["entity_id"] for r in links.orderBy("start").collect()] == ["a3", "a15", "a1"]


def test_reloaded_model_links_at_its_own_dim(spark, tmp_path):
    """A model built at a non-default vector dim links with context embedded
    at that dim: the KB carries it and a reloaded KB reads it back from its
    entity vectors. Embedding context at any other length pads the dot
    product with NULLs and every context_similarity comes out NULL."""
    import numpy as np

    from spacy_ann_linker_spark.data.word_vectors import mean_pool
    from conftest import gazetteer_mentions
    from spacy_ann_linker_spark.pipeline import build_golden_model, link_transcripts

    path = str(tmp_path / "model_dim32")
    build_golden_model(spark, dim=32, min_df=1).save(path)
    reloaded = LinkageModel.load(spark, path)

    text = "NLP is a highly researched subset of machine learning."
    turns = spark.createDataFrame(
        [("c1", 0, "user", text, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    m = gazetteer_mentions(turns, ["NLP", "researched", "machine learning"])
    links = link_transcripts(reloaded, turns, mentions=m).collect()
    assert len(links) == 3
    assert all(r["context_similarity"] is not None for r in links)

    ent_vecs = {
        r["id"]: np.asarray(r["vector"], dtype=np.float64)
        for r in reloaded.kb.entities.select("id", "vector").collect()
    }
    ctx = mean_pool(text, 32).astype(np.float64)
    for r in links:
        ev = ent_vecs[r["entity_id"]]
        want = ev @ ctx / (np.linalg.norm(ev) * np.linalg.norm(ctx) + 1e-8)
        assert r["context_similarity"] == pytest.approx(want, abs=1e-5)
    assert reloaded.kb.dim == 32
