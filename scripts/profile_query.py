#!/usr/bin/env python
"""Per-job/per-stage profile of one or more registry queries.

    python scripts/profile_query.py q_triangle_count [--sf DIR] [--runs 2]

Runs each query with the bench methodology (warmup + timed noop) on a
UI-enabled session, then reads the UI REST API to print, for the LAST
timed run, every job (description, duration) and its dominant stages
(duration, shuffle read/write bytes, input bytes, task count). This is
the guide-§1 "where does the time actually go" loop without eyeballing
a browser.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hls_stac_parquet_spark.session import get_spark  # noqa: E402


def rest(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.load(r)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(
        "profile", extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4057"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = "http://localhost:4057/api/v1"
    app_id = spark.sparkContext.applicationId

    from hls_stac_parquet_spark.queries import REGISTRY

    for name in args.queries:
        spec = REGISTRY[name]
        # warmup
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        try:
            spec.fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: WARMUP FAILED: {e!r}")
            continue
        best, best_marks = None, None
        for i in range(args.runs):
            jobs_before = rest(base, f"/applications/{app_id}/jobs")
            hi_before = max((j["jobId"] for j in jobs_before), default=-1)
            spark.sparkContext.setJobDescription(f"build:{name}:{i}")
            t0 = time.perf_counter()
            df = spec.fn(spark, args.sf)
            t_build = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(f"write:{name}:{i}")
            df.write.format("noop").mode("overwrite").save()
            t_total = time.perf_counter() - t0
            if best is None or t_total < best:
                best = t_total
                best_marks = (hi_before, t_build, t_total, i)
        hi_before, t_build, t_total, run_i = best_marks
        print(f"\n=== {name}: total={t_total:.3f}s  (build/eager={t_build:.3f}s) "
              f"run={run_i}")
        jobs = [j for j in rest(base, f"/applications/{app_id}/jobs")
                if j["jobId"] > hi_before
                and f":{name}:{run_i}" in (j.get("description") or "")]
        jobs.sort(key=lambda j: j["jobId"])
        for j in jobs:
            dur = (
                time.mktime(time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S"))
                - time.mktime(time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S"))
            )
            desc = (j.get("description") or "")[:40]
            print(f"  job {j['jobId']:5d} [{desc:40s}] ~{dur:.0f}s "
                  f"stages={len(j['stageIds'])}")
            for sid in sorted(j["stageIds"]):
                try:
                    sts = rest(base, f"/applications/{app_id}/stages/{sid}")
                except Exception:  # noqa: BLE001
                    continue
                for st in sts:
                    if st["status"] == "SKIPPED":
                        continue
                    ms = st.get("executorRunTime", 0)
                    gc = st.get("jvmGcTime", 0)
                    print(
                        f"    stage {sid:5d} {st['status']:9s} "
                        f"taskTime={ms/1000:7.2f}s gc={gc/1000:6.2f}s "
                        f"tasks={st['numCompleteTasks']:4d} "
                        f"in={st.get('inputBytes',0)/1e6:8.1f}MB "
                        f"sr={st.get('shuffleReadBytes',0)/1e6:8.1f}MB "
                        f"sw={st.get('shuffleWriteBytes',0)/1e6:8.1f}MB  "
                        f"{st['name'][:60]}"
                    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
