"""Strict mirror of the driver's correctness gate: EXACT value equality
(post-rounding) between every queries() entry and its oracle_sql() at the
given SF dir — predicts hash_match, unlike the tolerant pytest mirror.

  python scripts/strict_oracle_check.py [sf_dir] [query_name ...]

Extra args restrict the run to the named queries (fast iteration on a new
operator); no extra args = the full gate. A query that raises prints
`ERROR <name>: <exception>` and counts as a failure; the summary line is
always printed, and the exit status is 1 when any query failed.
"""
import os
import sys
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from their own sys.path, not the
# driver's: export the checkout before the session starts so a run started
# from any directory certifies this tree
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
import __spark_entry__ as e
from spacy_ann_linker_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        v = round(v, 6)
        if v == -0.0:
            v = 0.0
    return v


def main():
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = e.oracle_sql()
    qs = e.queries()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(oracles)
        if unknown:
            raise SystemExit(f"unknown query names: {sorted(unknown)}")
        oracles = {k: v for k, v in oracles.items() if k in only}
    bad = []
    for name in sorted(oracles):
        try:
            ok, verdict = check(spark, con, qs[name], oracles[name])
        except Exception as ex:  # noqa: BLE001 - a raising query fails only itself
            traceback.print_exc()  # to stderr; the verdict line keeps the message's first line
            print(f"ERROR {name}: {type(ex).__name__}: {(str(ex).splitlines() or [''])[0]}")
            bad.append(name)
            continue
        print(f"{'OK  ' if ok else 'FAIL'} {name}: {verdict}")
        if not ok:
            bad.append(name)
    print(f"\n{len(oracles) - len(bad)}/{len(oracles)} strict-exact; failures: {bad}")
    return 1 if bad else 0


def check(spark, con, query, oracle) -> tuple[bool, str]:
    """(True, "<n> rows exact") when the query's rows equal the oracle's
    exactly after norm(), else (False, the first difference found)."""
    sdf = query(spark, SF)
    cols = sorted(sdf.columns)
    srows = sorted([tuple(norm(r[c]) for c in cols) for r in sdf.collect()],
                   key=lambda t: tuple(str(x) for x in t))
    ddf = con.sql(oracle).df()
    ocols = sorted(ddf.columns)
    if ocols != cols:
        return False, f"columns {cols} vs {ocols}"
    drows = sorted([tuple(norm(rec[c]) for c in cols) for rec in ddf.to_dict("records")],
                   key=lambda t: tuple(str(x) for x in t))
    if len(srows) != len(drows):
        return False, f"rows {len(srows)} vs {len(drows)}"
    diff = [(a, b) for a, b in zip(srows, drows) if a != b]
    if diff:
        return False, f"{len(diff)} mismatching rows, first {diff[0]}"
    return True, f"{len(srows)} rows exact"


if __name__ == "__main__":
    sys.exit(main())
