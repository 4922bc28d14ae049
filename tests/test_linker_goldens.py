"""Reference test-suite parity goldens (SURVEY.md §5; FIXTURES.md §5):

  * tests/test_ann_linker.py:15-20 — "NLP is a highly researched subset of
    machine learning." with mentions [NLP, researched, machine learning]
    links to a3 / a15 / a1
  * tests/test_ann_kb.py:48-51 — get_candidates("research") -> a15 (exact
    path); get_candidates("researched") -> alias "Research" -> a15 (fuzzy)
"""

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.link.linker import best_aliases
from spacy_ann_linker_spark.pipeline import link_transcripts

from conftest import gazetteer_mentions

GOLDEN_SENTENCE = "NLP is a highly researched subset of machine learning."


@pytest.fixture(scope="module")
def golden_links(spark, golden_model):
    turns = spark.createDataFrame(
        [("c1", 0, "user", GOLDEN_SENTENCE, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    mentions = gazetteer_mentions(turns, ["NLP", "researched", "machine learning"], label="SKILL")
    return (
        link_transcripts(golden_model, turns, mentions=mentions, exact_fast_path=False)
        .orderBy("start")
        .collect()
    )


def test_flagship_entities(golden_links):
    assert [r["entity_id"] for r in golden_links] == ["a3", "a15", "a1"]


def test_flagship_spans_and_aliases(golden_links):
    rows = {r["text"]: r for r in golden_links}
    assert rows["NLP"]["alias"] == "NLP" and rows["NLP"]["similarity"] == 1.0
    assert rows["researched"]["alias"] == "Research"
    assert rows["machine learning"]["alias"] == "Machine learning"
    # C7 char offsets slice the source text back to the mention
    for r in golden_links:
        assert GOLDEN_SENTENCE[r["start"] : r["end"]] == r["text"]


def test_exact_path_research(spark, golden_model):
    t = spark.createDataFrame([("research",)], "text string")
    rows = best_aliases(golden_model.cand, t, threshold=0.0).collect()
    assert rows[0]["alias"] == "Research"
    assert rows[0]["similarity"] == pytest.approx(1.0)
    ents = (
        golden_model.kb.alias_map.filter(F.col("alias") == "Research")
        .select("entity_id")
        .collect()
    )
    assert [e["entity_id"] for e in ents] == ["a15"]


def test_fuzzy_path_researched(spark, golden_model):
    t = spark.createDataFrame([("researched",)], "text string")
    rows = best_aliases(golden_model.cand, t, threshold=0.0).collect()
    assert rows[0]["alias"] == "Research"


def test_short_alias_bypass(spark, golden_model):
    from spacy_ann_linker_spark.candidates.generate import generate_candidates

    t = spark.createDataFrame([("ML",), ("OS",)], "text string")
    rows = generate_candidates(golden_model.cand, t, k=5).collect()
    by_text = {}
    for r in rows:
        by_text.setdefault(r["text"], []).append(r)
    # bypass is total: exactly one candidate, sim 1.0 (candidate_generator.py:257-259)
    assert len(by_text["ML"]) == 1 and by_text["ML"][0]["similarity"] == 1.0
    assert len(by_text["OS"]) == 1 and by_text["OS"][0]["alias"] == "OS"


def test_threshold_strict_greater(spark, golden_model):
    # a candidate at exactly the threshold must be dropped (ann_linker.py:82)
    t = spark.createDataFrame([("researched",)], "text string")
    rows = best_aliases(golden_model.cand, t, threshold=1.0).collect()
    assert rows == []


def test_uniform_priors(golden_model):
    rows = golden_model.kb.alias_map.filter(F.col("alias") == "ML").collect()
    assert sorted(r["entity_id"] for r in rows) == ["a1", "a2"]
    for r in rows:
        assert r["prior"] == pytest.approx(0.5)


def test_garbage_mention_no_links(spark, golden_model):
    turns = spark.createDataFrame(
        [("c1", 0, "user", "zzqqxv noise", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    mentions = spark.createDataFrame(
        [("c1", 0, 1, "zzqqxv", 0, 6, None)],
        "conv_id string, turn_idx int, mention_id long, text string, start int, end int, label string",
    )
    assert link_transcripts(golden_model, turns, mentions=mentions).count() == 0


def test_disambiguate_false_annotates_without_kb_id(spark, golden_model):
    """disambiguate=False: alias candidates annotated, no entity id set
    (ann_linker.py:99 branch)."""
    turns = spark.createDataFrame(
        [("c1", 0, "user", GOLDEN_SENTENCE, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    mentions = gazetteer_mentions(turns, ["NLP", "machine learning"])
    out = link_transcripts(
        golden_model, turns, mentions=mentions, disambiguate=False, exact_fast_path=False
    ).collect()
    assert len(out) == 3  # NLP expands to 2 entity candidates... none chosen
    assert all(r["entity_id"] is None and r["context_similarity"] is None for r in out)
    assert {r["alias"] for r in out} == {"NLP", "Machine learning"}


def test_exact_fast_path_agrees_with_full_join(spark, golden_model):
    turns = spark.createDataFrame(
        [("c1", 0, "user", GOLDEN_SENTENCE, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    mentions = gazetteer_mentions(turns, ["NLP", "researched", "machine learning"])
    a = link_transcripts(golden_model, turns, mentions=mentions, exact_fast_path=True)
    b = link_transcripts(golden_model, turns, mentions=mentions, exact_fast_path=False)
    ra = [(r["text"], r["alias"], r["entity_id"]) for r in a.orderBy("start").collect()]
    rb = [(r["text"], r["alias"], r["entity_id"]) for r in b.orderBy("start").collect()]
    assert ra == rb


def test_link_transcripts_rejects_unknown_option(spark, golden_model):
    """link_transcripts forwards its options to link_mentions, so a removed
    or misspelt option still fails loudly instead of being ignored."""
    turns = spark.createDataFrame(
        [("c1", 0, "user", GOLDEN_SENTENCE, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    mentions = gazetteer_mentions(turns, ["NLP"])
    with pytest.raises(TypeError):
        link_transcripts(golden_model, turns, mentions=mentions, k=5)


# best_aliases(threshold=1.0, exact_fast_path=True, fuzzy_rescue=True) rows
# computed before J4/J5 moved into the distinct-texts memo: short and exact
# hits (similarity 1.0) fail the strict > and go to the JW rescue, which
# finds them again at JW 1.0
RESCUE_AT_ONE = [
    ("ML", "ML", 1.0),
    ("Machine lerning", "Machine learning", 0.9874999999999999),
    ("NLP", "NLP", 1.0),
    ("OS", "OS", 1.0),
    ("Research", "Research", 1.0),
    ("Reserch", "Research", 0.975),
    ("machine learning", "Machine learning", 1.0),
    ("ml", "ML", 1.0),
    ("research", "Research", 1.0),
]


def test_threshold_one_sends_resolved_texts_to_the_rescue(spark, golden_model):
    from spacy_ann_linker_spark.link.linker import memo_scope

    texts = ["Research", "research", "ML", "ml", "Reserch", "NLP", "machine learning",
             "Machine lerning", "OS", "zzqqxv"]
    t = spark.createDataFrame([(x,) for x in texts], "text string")
    with memo_scope():
        rows = best_aliases(
            golden_model.cand, t, threshold=1.0, exact_fast_path=True, fuzzy_rescue=True
        ).collect()
    assert sorted((r["text"], r["alias"], r["similarity"]) for r in rows) == RESCUE_AT_ONE


def test_zero_mentions_zero_links(spark, golden_model):
    from spacy_ann_linker_spark.data.transcripts import generate_transcripts
    from spacy_ann_linker_spark.link.linker import link_mentions, memo_scope
    from spacy_ann_linker_spark.schemas import MENTION_SCHEMA

    turns = generate_transcripts(spark, 4)
    mentions = spark.createDataFrame([], MENTION_SCHEMA)
    with memo_scope():
        links = link_mentions(
            mentions, turns, golden_model.kb, golden_model.cand, fuzzy_rescue=True
        ).collect()
    assert links == []


def test_threshold_cut_keeps_ties_that_straddle_the_threshold(spark, golden_model, monkeypatch):
    """Similarity rows below the rounded threshold never reach the argmax,
    and that cut is exact: two aliases tied at TIE_DIGITS on either side of
    the threshold still rank by alias asc, so the text links only when the
    lower alias is the one above the threshold — what the uncut argmax
    followed by the strict raw > gives. A raw > pre-filter would instead
    link "zzqqxv" to "B"."""
    from spacy_ann_linker_spark.candidates import generate
    from spacy_ann_linker_spark.link.linker import memo_scope

    eps = 1e-15
    sims = spark.createDataFrame(
        [
            ("zzqqxv", "A", 0.7 - eps), ("zzqqxv", "B", 0.7 + eps),
            ("zzqqxw", "A", 0.7 + eps), ("zzqqxw", "B", 0.7 - eps), ("zzqqxw", "0", 0.5),
        ],
        "text string, alias string, similarity double",
    )
    monkeypatch.setattr(
        generate, "_similarities", lambda model, texts, *a, **kw: sims.join(texts, "text", "left_semi")
    )
    t = spark.createDataFrame([("zzqqxv",), ("zzqqxw",)], "text string")
    with memo_scope():
        got = [tuple(r) for r in best_aliases(golden_model.cand, t, threshold=0.7).collect()]
        uncut = generate.generate_best_candidates(golden_model.cand, t).filter(
            F.col("similarity") > 0.7
        )
        want = [tuple(r) for r in uncut.collect()]
    assert got == want == [("zzqqxw", "A", 0.7 + eps)]
