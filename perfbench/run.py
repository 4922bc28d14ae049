"""Linker benchmark entry point.

    python3 perfbench/run.py --workload transcripts|kb_scale --seed N \
        --seconds S --trace 0|1

Run from the repository root. The library is imported from the source tree
next to this directory (never from site-packages). The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list, and the traced run's spans are written to
.perfbench_work/traces/. Exit status is non-zero when an output check
fails or the library source is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def _host_env() -> int:
    """Size Spark to the host: all usable cores, a driver heap well under
    RAM (the library's 24g default gets the JVM killed on a 15 GB host; a
    fixed 2 GiB cap also keeps the JVM's resident size from depending on
    when its heap happens to grow), scratch space, Python workers and the
    spark-submit launcher inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{min(2048, total_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # spark-submit's launcher JVM: no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return cores


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["transcripts", "kb_scale"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "spacy_ann_linker_spark", "__init__.py")):
        print("perfbench: library source spacy_ann_linker_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.system import adopt_orphans, stop_descendants

    # a SIGTERM still leaves through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    try:
        return _run(args, spec)
    finally:
        stop_descendants()


def _run(args, spec) -> int:
    cores = _host_env()
    import spacy_ann_linker_spark

    if not os.path.abspath(spacy_ann_linker_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the library from {spacy_ann_linker_spark.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2

    from perfbench.workloads import Run, run_workload

    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), workdir, cores)
    try:
        run_workload(run)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = run.layers if args.trace else run.e2e
    # a layer this workload never calls reads 0 on the traced run
    run.check("metrics", [f"{m['name']} was not measured" for m in wanted
                          if m["name"] not in values and not args.trace])
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    if args.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    for e in run.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    correct = not run.errors
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
