"""cluster/fellegi_sunter.py: FS pair scoring, plain and TF-adjusted."""

import math

import pytest
from pyspark.sql import functions as F

from spacy_ann_linker_spark.cluster.fellegi_sunter import (
    fellegi_sunter_score,
    fs_weights,
)

W = {"name": (0.9, 0.1), "phone": (0.8, 0.05)}


def test_fs_weights_values_and_validation():
    w = fs_weights(W)
    assert math.isclose(w["name"][0], math.log2(0.9 / 0.1))
    assert math.isclose(w["name"][1], math.log2(0.1 / 0.9))
    assert math.isclose(w["phone"][0], math.log2(0.8 / 0.05))
    with pytest.raises(ValueError):
        fs_weights({"x": (1.0, 0.1)})
    with pytest.raises(ValueError):
        fs_weights({"x": (0.9, 0.0)})


def test_score_hand_computed_with_nulls(spark):
    rows = [(1, 2, 1, 1), (1, 3, 1, 0), (1, 4, 0, 0), (1, 5, None, 1)]
    df = spark.createDataFrame(rows, "id_a int, id_b int, name int, phone int")
    out = {
        (r.id_a, r.id_b): r.fs_score
        for r in fellegi_sunter_score(df, W).collect()
    }
    wn = fs_weights(W)["name"]
    wp = fs_weights(W)["phone"]
    assert math.isclose(out[(1, 2)], wn[0] + wp[0])
    assert math.isclose(out[(1, 3)], wn[0] + wp[1])
    assert math.isclose(out[(1, 4)], wn[1] + wp[1])
    # NULL field contributes zero evidence
    assert math.isclose(out[(1, 5)], 0.0 + wp[0])


def test_score_accepts_booleans(spark):
    df = spark.createDataFrame(
        [(1, True, False)], "id int, name boolean, phone boolean"
    )
    r = fellegi_sunter_score(df, W).collect()[0]
    wn, wp = fs_weights(W)["name"], fs_weights(W)["phone"]
    assert math.isclose(r.fs_score, wn[0] + wp[1])


def test_score_is_pure_projection(spark):
    df = spark.createDataFrame([(1, 1, 1)], "id int, name int, phone int")
    plan = (
        fellegi_sunter_score(df, W)._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("Exchange", "Sort", "Aggregate", "Window"):
        assert node not in plan, plan[:2000]


# ---- TF-adjusted scoring ----------------------------------------------------


def _tf_fixture(spark):
    from spacy_ann_linker_spark.cluster.fellegi_sunter import term_frequencies

    # 10 records: surname "smith" x8 (tf .8), "zyzmund" x2 (tf .2)
    recs = spark.createDataFrame(
        [(i, "smith" if i < 8 else "zyzmund") for i in range(10)],
        "rid int, surname string",
    )
    tf = term_frequencies(recs, "surname")
    pairs = spark.createDataFrame(
        [
            (1, 2, "smith", "smith"),      # common agreement
            (8, 9, "zyzmund", "zyzmund"),  # rare agreement
            (1, 8, "smith", "zyzmund"),    # disagreement
            (1, 9, None, "zyzmund"),       # missing
            (2, 3, "nowhere", "nowhere"),  # agreement on value absent from corpus
        ],
        "id_a int, id_b int, surname_a string, surname_b string",
    )
    return tf, pairs


def test_tf_adjusted_rare_agreement_beats_common(spark):
    from spacy_ann_linker_spark.cluster.fellegi_sunter import fellegi_sunter_score_tf

    tf, pairs = _tf_fixture(spark)
    w = {"surname": (0.9, 0.1)}
    got = {
        (r["id_a"], r["id_b"]): r["fs_score"]
        for r in fellegi_sunter_score_tf(pairs, w, {"surname": tf}).collect()
    }
    base_a = math.log2(0.9 / 0.1)
    assert got[(1, 2)] == pytest.approx(base_a + math.log2(0.1 / 0.8))
    assert got[(8, 9)] == pytest.approx(base_a + math.log2(0.1 / 0.2))
    assert got[(8, 9)] > got[(1, 2)]  # rare value is stronger evidence
    assert got[(1, 8)] == pytest.approx(math.log2(0.1 / 0.9))  # plain disagreement
    assert got[(1, 9)] == 0.0  # missing field -> no evidence
    assert got[(2, 3)] == pytest.approx(base_a)  # unknown value -> unadjusted


def test_tf_adjusted_tf_weight_damping_and_broadcast_off(spark):
    from spacy_ann_linker_spark.cluster.fellegi_sunter import fellegi_sunter_score_tf

    tf, pairs = _tf_fixture(spark)
    w = {"surname": (0.9, 0.1)}
    half = {
        (r["id_a"], r["id_b"]): r["fs_score"]
        for r in fellegi_sunter_score_tf(pairs, w, {"surname": tf}, tf_weight=0.5).collect()
    }
    assert half[(1, 2)] == pytest.approx(math.log2(0.9 / 0.1) + 0.5 * math.log2(0.1 / 0.8))
    on = fellegi_sunter_score_tf(pairs, w, {"surname": tf}).collect()
    off = fellegi_sunter_score_tf(pairs, w, {"surname": tf}, broadcast_tf=False).collect()
    key = lambda r: (r["id_a"], r["id_b"])
    assert {key(r): r["fs_score"] for r in on} == {key(r): r["fs_score"] for r in off}


def test_term_frequencies_sums_to_one_and_skips_nulls(spark):
    from spacy_ann_linker_spark.cluster.fellegi_sunter import term_frequencies

    recs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)], "rid int, v string"
    )
    got = {r["value"]: r["tf"] for r in term_frequencies(recs, "v").collect()}
    assert got == {"a": pytest.approx(2 / 3), "b": pytest.approx(1 / 3)}
