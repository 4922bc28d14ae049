"""Local mirror of the driver's correctness gate: run every queries() entry
and its oracle_sql() on the same parquet (sf0.001) and compare row count,
column names, and sorted values."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = round(v, 5)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


ORACLE_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    cols = sorted(sdf.columns)
    spark_rows = _normalize([row.asDict() for row in sdf.collect()], cols)

    ddf = duck.sql(entry_mod.oracle_sql()[name]).df()
    assert sorted(ddf.columns) == cols, f"column mismatch: {sorted(ddf.columns)} vs {cols}"
    duck_rows = _normalize(ddf.to_dict("records"), cols)

    assert len(spark_rows) == len(duck_rows), f"row count {len(spark_rows)} vs {len(duck_rows)}"
    mismatches = [
        (a, b) for a, b in zip(spark_rows, duck_rows) if not _rows_equal(a, b)
    ]
    assert not mismatches, f"{len(mismatches)} mismatching rows, first: {mismatches[:3]}"


def _rows_equal(a, b):
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None:
                if x is not y:
                    return False
            elif not math.isclose(float(x), float(y), rel_tol=1e-4, abs_tol=1e-5):
                return False
        else:
            if x != y:
                return False
    return True


def test_blocking_quality_oracle_counts_are_int64(spark, duck):
    """DuckDB types sum() over BIGINT as HUGEINT and `.df()` returns that as
    float64, so equal counts would hash apart from Spark's bigint columns.
    The oracle casts every pair count to BIGINT."""
    counts = ["n_records", "total_pairs", "candidate_pairs", "gold_pairs", "covered_pairs"]
    ddf = duck.sql(entry_mod.oracle_sql()["blocking_quality"]).df()
    assert {c: str(ddf[c].dtype) for c in counts} == dict.fromkeys(counts, "int64")
    sdf = entry_mod.queries()["blocking_quality"](spark, SF_DIR)
    assert {c: t for c, t in sdf.dtypes if c in counts} == dict.fromkeys(counts, "bigint")


def test_threshold_sweep_oracle_counts_are_int64(spark, duck):
    """The threshold_sweep oracle's cumulative counts are window sums over
    BIGINT, which DuckDB also types as HUGEINT; the oracle casts tp, fp and
    fn to BIGINT so they match Spark's bigint columns."""
    counts = ["tp", "fp", "fn"]
    ddf = duck.sql(entry_mod.oracle_sql()["threshold_sweep"]).df()
    assert {c: str(ddf[c].dtype) for c in counts} == dict.fromkeys(counts, "int64")
    sdf = entry_mod.queries()["threshold_sweep"](spark, SF_DIR)
    assert {c: t for c, t in sdf.dtypes if c in counts} == dict.fromkeys(counts, "bigint")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "entity_id" in df.columns


ROWS_ONLY = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))


@pytest.mark.parametrize("name", [n for n in ROWS_ONLY if n != "link_transcripts"])
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
