"""Measure the light registry set and pick the keys that stand for it.

    python3 perfbench/survey_keys.py

The light set is the 80 ``bench.HEADLINE`` keys whose sf0.1 execute
time (``BENCH_DETAILS.json``, written by ``bench.py``) is below the
set's median. In one warm ``local[4]`` session, each key is built and
executed into a ``noop`` sink over the benchmark's tables three times
(the first is a warm-up); the medians of the other two give its build
and execute time, and job windows give its build jobs and executed
stages. The keys are then split by latency into five strata of equal
count, and from each the key whose build share is nearest the
stratum's median is picked. The script prints the figures of the set
and of the pick side by side, and writes every key's record under
``perfbench/.results``. The registry workload's ``LIGHT`` tuple is
this script's pick; the benchmark never runs it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

STRATA = 5
REPS = 3


def light_set() -> list[str]:
    import bench

    with open(os.path.join(ROOT, "BENCH_DETAILS.json")) as fh:
        execute = json.load(fh)["queries"]
    med = statistics.median(execute[k] for k in bench.HEADLINE)
    return [k for k in bench.HEADLINE if execute[k] < med]


def measure(spark, keys, sf_dir) -> dict[str, dict]:
    import __spark_entry__ as entry
    from sparkstats import SparkCounters

    qs = entry.queries()
    counters = SparkCounters(spark.sparkContext)
    out = {}
    for key in keys:
        runs = []
        for rep in range(REPS):
            spark.sparkContext.setJobGroup(f"survey-{key}-{rep}", key)
            with counters.window() as build:
                t0 = time.perf_counter()
                df = qs[key](spark, sf_dir)
                t1 = time.perf_counter()
            with counters.window() as run:
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            runs.append({"build_s": t1 - t0, "exec_s": t3 - t2,
                         "build_jobs": build.totals["jobs"],
                         "stages": build.totals["stages"] + run.totals["stages"]})
        rec = {f: statistics.median(r[f] for r in runs[1:]) for f in runs[0]}
        rec["latency_s"] = rec["build_s"] + rec["exec_s"]
        out[key] = rec
        print(f"{key:28s} {rec['build_s']:7.3f} {rec['exec_s']:7.3f} {rec['stages']:5.0f}",
              file=sys.stderr)
    return out


def pick(recs: dict[str, dict]) -> list[str]:
    by_latency = sorted(recs, key=lambda k: (recs[k]["latency_s"], k))
    size = len(by_latency) // STRATA
    chosen = []
    for i in range(STRATA):
        stratum = by_latency[i * size:(i + 1) * size] if i < STRATA - 1 else by_latency[i * size:]
        share = {k: recs[k]["build_s"] / recs[k]["latency_s"] for k in stratum}
        mid = statistics.median(share.values())
        chosen.append(min(stratum, key=lambda k: (abs(share[k] - mid), k)))
    return chosen


def figures(recs: dict[str, dict], keys) -> dict:
    build = sum(recs[k]["build_s"] for k in keys)
    latency = sum(recs[k]["latency_s"] for k in keys)
    stages = sum(recs[k]["stages"] for k in keys)
    return {
        "keys": len(keys),
        "latency_per_key_s": latency / len(keys),
        "median_latency_s": statistics.median(recs[k]["latency_s"] for k in keys),
        "build_share": build / latency,
        "stages_per_key": stages / len(keys),
        "s_per_stage": latency / stages if stages else None,
        "build_jobs_per_key": sum(recs[k]["build_jobs"] for k in keys) / len(keys),
        "keys_with_build_jobs": sum(recs[k]["build_jobs"] > 0 for k in keys) / len(keys),
    }


def main() -> int:
    from helpers import stop_spark
    from pypers_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_UI_RETAINED", "1000")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_session("perfbench-survey", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        recs = measure(spark, light_set(), os.path.join(HERE, "data", "sf0.01"))
    finally:
        stop_spark(spark)
    chosen = pick(recs)
    summary = {"pick": chosen, "set": figures(recs, list(recs)),
               "picked": figures(recs, chosen)}
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    with open(os.path.join(HERE, ".results", "survey_keys.json"), "w") as fh:
        json.dump({"summary": summary, "keys": recs}, fh, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
