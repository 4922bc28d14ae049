"""Strict mirror of the driver's correctness gate: EXACT value equality
(post-rounding) between every queries() entry and its oracle_sql() at the
given SF dir — predicts hash_match, unlike the tolerant pytest mirror.

  python scripts/strict_oracle_check.py [sf_dir] [query_name ...]

Extra args restrict the run to the named queries (fast iteration on a new
operator); no extra args = the full gate.
"""
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
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
        sdf = qs[name](spark, SF)
        cols = sorted(sdf.columns)
        srows = sorted([tuple(norm(r[c]) for c in cols) for r in sdf.collect()],
                       key=lambda t: tuple(str(x) for x in t))
        ddf = con.sql(oracles[name]).df()
        ocols = sorted(ddf.columns)
        if ocols != cols:
            print(f"FAIL {name}: columns {cols} vs {ocols}")
            bad.append(name)
            continue
        drows = sorted([tuple(norm(rec[c]) for c in cols) for rec in ddf.to_dict("records")],
                       key=lambda t: tuple(str(x) for x in t))
        if len(srows) != len(drows):
            print(f"FAIL {name}: rows {len(srows)} vs {len(drows)}")
            bad.append(name)
            continue
        diff = [(a, b) for a, b in zip(srows, drows) if a != b]
        if diff:
            print(f"FAIL {name}: {len(diff)} mismatching rows, first {diff[0]}")
            bad.append(name)
        else:
            print(f"OK   {name}: {len(srows)} rows exact")
    print(f"\n{len(oracles) - len(bad)}/{len(oracles)} strict-exact; failures: {bad}")


if __name__ == "__main__":
    main()
