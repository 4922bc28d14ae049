"""Capture .explain("formatted") for named declared queries into plans/r06/.

  python scripts/capture_plans.py before q1 q2 ...   # -> plans/r06/<q>_before.txt
  python scripts/capture_plans.py after  q1 q2 ...   # -> plans/r06/<q>_after.txt

Plans are captured pre-execution (AdaptiveSparkPlan isFinalPlan=false): the
shape audit targets Exchange count, join strategy, PushedFilters/ReadSchema
and Python-eval nodes, all of which are visible in the initial plan.
"""
import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as e
from spacy_ann_linker_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(ROOT, "plans", "r06")


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    qs = e.queries()
    for name in names:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        path = f"{OUT}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(txt)
        n_ex = txt.count("Exchange")
        n_py = txt.count("EvalPython") + txt.count("MapInPandas") + txt.count("MapInArrow")
        print(f"{name}: {len(txt.splitlines())} lines, Exchange~{n_ex}, PyNodes~{n_py} -> {path}")


if __name__ == "__main__":
    main()
