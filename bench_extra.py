"""Extra benchmarks (guide §1.4 isolation) — NOT the driver contract.

bench.py is frozen for measurement; this file exists for optimization-round
forensics: per-query noop-sink timing, best-of-N, with job descriptions so
the timings can be attributed. Prints one JSON line.

  python bench_extra.py q1 q2 ...          # time the named declared queries
  python bench_extra.py --reps 3 q1 ...    # best-of-3
  python bench_extra.py --all              # every query bench.py times
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import __spark_entry__ as e
from bench import BENCH_QUERIES, _container_cpu_sec
from spacy_ann_linker_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    args = [a for a in sys.argv[1:]]
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    names = BENCH_QUERIES if "--all" in args else args
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    qs = e.queries()
    out = {}
    cpus = {}
    for name in names:
        best = None
        best_cpu = None
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            c0 = _container_cpu_sec()
            t0 = time.perf_counter()
            qs[name](spark, SF).write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
            csec = (_container_cpu_sec() - c0) if c0 is not None else None
            best = sec if best is None else min(best, sec)
            if csec is not None:
                best_cpu = csec if best_cpu is None else min(best_cpu, csec)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        if best_cpu is not None:
            cpus[name] = round(best_cpu, 1)
        print(f"# {name}: {out[name]}s cpu {cpus.get(name)}s", file=sys.stderr)
    print(json.dumps({"metric": "bench_extra_seconds", "queries": out,
                      "cpu_sec": cpus,
                      "value": round(sum(out.values()), 3), "unit": "sec",
                      "reps": reps, "sf": SF}))


if __name__ == "__main__":
    main()
