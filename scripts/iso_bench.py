#!/usr/bin/env python
"""Isolated per-query timing + plan capture for the optimization loop.

    python scripts/iso_bench.py q_a q_b ...            # time at sf0.1
    python scripts/iso_bench.py --sf /root/testdata/sf0.01 q_a
    python scripts/iso_bench.py --plans plans/r08 --suffix before q_a

Methodology matches bench.py exactly (warmup pass, then N timed noop
writes, report the per-query min) so numbers are comparable with
BENCH_DETAIL.json rows. --plans writes `<query>_<suffix>.txt` with the
`.explain("formatted")` output (the judge-checkable plan evidence).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hls_stac_parquet_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    spark = get_spark("iso-bench")
    spark.sparkContext.setLogLevel("ERROR")
    from hls_stac_parquet_spark.queries import REGISTRY

    for name in args.queries:
        spec = REGISTRY[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = spec.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        # warmup (pays codegen/JIT like bench.py's warmup pass)
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        try:
            spec.fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: WARMUP FAILED: {e}")
            continue
        times = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"timed:{name}:{i}")
            t0 = time.perf_counter()
            spec.fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.perf_counter() - t0, 4))
        print(f"{name}: min={min(times)} runs={times}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
