"""Job-timeline forensics for one declared query (guide §1): run it with
the event log enabled, then print per-job wall, task counts, and the
inter-job driver gaps — the fixed-cost structure bench seconds hide.

  python scripts/job_timeline.py <query> [--reps N]

NOT the driver contract; optimization-round tooling only.
"""
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as e
from spacy_ann_linker_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVDIR = "/tmp/spark-events-forensic"


def main():
    name = sys.argv[1]
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 2
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    spark = get_spark(
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    qs = e.queries()
    walls = []
    for i in range(reps):  # rep 0 warms JIT/codegen; later reps are steady-state
        spark.sparkContext.setJobDescription(f"{name}:rep{i}")
        t0 = time.perf_counter()
        qs[name](spark, SF).write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 3))
    spark.stop()

    jobs = {}
    paths = []
    for root, _dirs, files in os.walk(EVDIR):
        paths += [f"{root}/{f}" for f in files if "appstatus" not in f]
    for fn in paths:
        for line in open(fn):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties", {}) or {}
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": props.get("spark.job.description", "")[:60],
                    "ntasks": sum(
                        s.get("Number of Tasks", 0) for s in ev.get("Stage Infos", [])
                    ),
                    "nstages": len(ev.get("Stage IDs", [])),
                }
            elif ev.get("Event") == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    print(f"# walls: {walls}")
    prev_end = None
    total_gap = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        gap = (j["start"] - prev_end) if prev_end is not None else 0
        prev_end = j["end"]
        rep = j["desc"].split(":rep")[-1][:1] if ":rep" in j["desc"] else "?"
        total_gap[rep] = total_gap.get(rep, 0) + max(gap, 0)
        print(
            f"job {jid:3d} {(j['end'] - j['start']) / 1000:7.2f}s gap {gap / 1000:6.2f}s "
            f"stages {j['nstages']:2d} tasks {j['ntasks']:4d}  {j['desc']}"
        )
    print(f"# inter-job gap sum per rep (ms): {total_gap}")


if __name__ == "__main__":
    main()
