"""Run the full strict oracle gate and emit a CORRECTNESS-style JSON file
covering ALL declared queries (the driver samples ~50/round; this makes the
other half auditable — VERDICT r5 item 5).

  python scripts/strict_gate_json.py [sf_dir] [out_path]
"""
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the package from PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
import __spark_entry__ as e
from scripts.strict_oracle_check import TABLES, norm
from spacy_ann_linker_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "CORRECTNESS_LOCAL_r6.json")


def main():
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = e.oracle_sql()
    qs = e.queries()
    result = {}
    for name in sorted(oracles):
        try:
            sdf = qs[name](spark, SF)
            cols = sorted(sdf.columns)
            srows = sorted(
                [tuple(norm(r[c]) for c in cols) for r in sdf.collect()],
                key=lambda t: tuple(str(x) for x in t),
            )
            ddf = con.sql(oracles[name]).df()
            ocols = sorted(ddf.columns)
            drows = sorted(
                [tuple(norm(rec[c]) for c in cols) for rec in ddf.to_dict("records")],
                key=lambda t: tuple(str(x) for x in t),
            ) if ocols == cols else None
            result[name] = {
                "schema_match": ocols == cols,
                "rows_match": drows is not None and len(srows) == len(drows),
                "values_exact": drows is not None and srows == drows,
                "spark_rows": len(srows),
                "oracle_rows": len(ddf),
                "err": None,
            }
        except Exception as ex:  # noqa: BLE001
            result[name] = {"schema_match": False, "rows_match": False,
                            "values_exact": False, "err": f"{type(ex).__name__}: {ex}"[:200]}
        ok = result[name]["values_exact"]
        print(("OK  " if ok else "FAIL"), name)
    n_ok = sum(1 for v in result.values() if v["values_exact"])
    with open(OUT, "w") as f:
        json.dump({"sf_dir": SF, "n_queries": len(result), "n_values_exact": n_ok,
                   "queries": result}, f, indent=1)
    print(f"{n_ok}/{len(result)} values-exact -> {OUT}")


if __name__ == "__main__":
    main()
