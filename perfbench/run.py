#!/usr/bin/env python3
"""End-to-end benchmark of the E1/E2 pipelines and bbox reads, with a
traced run that splits it by layer.

    python3 perfbench/run.py --workload month_http --seed 1 --seconds 20 --trace 0

Run it from the repository root. Every workload is one closed-loop
client: one call at a time from this process, on every usable core.
A run sets up once (Spark session, seeded inputs written under
``.perfbench/``), then measures, in order:

1. E1 (``cache_daily_stac_json_links``) and E2
   (``write_monthly_stac_geoparquet``) over one seeded month, each
   the first call of its kind in the process, as a batch job runs,
   so E1 also pays for starting the Python workers;
2. seeded bbox queries (``plans.spatial_query.bbox_query``) over the
   month E2 wrote, each to a fully materialised Arrow result, until
   ``--seconds`` have passed since measuring began (at least
   ``MIN_QUERIES``).

Every run reports every end-to-end metric, so both workloads run the
same steps; they differ in how items are served and in month size
(``WORKLOADS``). End-to-end timings are CPU seconds of the whole
process tree (JVM, Python workers, this process) read from ``/proc``
around each call: on a shared VM wall time drifts with other tenants'
load, CPU time much less. Wall times are reported per layer.

Every output is checked (``checks.py``); a wrong output counts as a
failed operation. ``--trace 1`` adds job-group labels, one pass of the
operator query set from ``queries.REGISTRY``, stage metrics from the
JVM status store and a prefix replay of E1 and E2 (``tracer.py``),
reports the per-layer metrics instead and writes them to
``.perfbench/trace-<workload>-<seed>.json``.
The last stdout line is one JSON object: correct, attempted, failed,
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()

#: Both workloads run the same steps; they differ in transport and
#: size. month_http: E2 waits on a delayed origin, so fetch passes and
#: fetch concurrency dominate E2's wall time and requests per item.
#: month_local: items are local files spread over thousands of tiles,
#: so E2 is CPU-bound and the parse, MGRS, Hilbert, sort and write
#: layers dominate.
WORKLOADS = {
    "month_http": {"transport": "http", "n_items": 3100, "n_tiles": 1000},
    "month_local": {"transport": "file", "n_items": 6200, "n_tiles": 1500},
}
ORIGIN_DELAY_S = 0.02
BROKEN_PER_DAY = 1
MIN_QUERIES = 14
#: the first queries plan and read the output cold; their latency is
#: left out of the sample
WARM_QUERIES = 2
BOX_SIDES_DEG = (0.5, 2.0, 8.0)
#: operator queries from the ROADMAP's open items (checkpoint policy,
#: ranged quantile tier); traced runs only, see ``traced_layers``
REGISTRY_SET = ("q_item_item_cf", "q_weighted_median")
YEAR, MONTH = 2024, 7


def _parse_args(argv):
    p = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0].replace("\n", " "))
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", default="nproc",
                   help="Spark local cores; 'nproc' means every usable core")
    p.add_argument("--heap", default="2g",
                   help="JVM heap size (sets SPARK_GRAFT_DRIVER_MEM)")
    return p.parse_args(argv)


def _log(what: str, t0: float) -> None:
    print(f"perfbench: {what} {time.perf_counter() - t0:.2f}s", file=sys.stderr)


class Run:
    """State of one benchmark run: session, inputs, counters."""

    def __init__(self, args):
        from perfbench.monthgen import COLLECTION_CONCEPT_ID, COLLECTION_ID

        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.cid, self.coll = COLLECTION_CONCEPT_ID, COLLECTION_ID
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.n_queries = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.origin = None
        self.spark = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def op(self, problems: list[str]) -> None:
        """Record one operation and whatever its checks found."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print("check failed: " + "; ".join(problems), file=sys.stderr)

    def label(self, group: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    # --- set-up -------------------------------------------------------------
    def setup(self) -> None:
        from perfbench.monthgen import make_month, write_cmr_days, write_items
        from perfbench.origin import Origin
        from perfbench.probes import tree_cpu_s

        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        from hls_stac_parquet_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.perf_counter() - t0
        _log("session", t0)

        seed = self.args.seed
        self.month = make_month(seed, self.cfg["n_items"], self.cfg["n_tiles"],
                                BROKEN_PER_DAY, YEAR, MONTH)
        if self.cfg["transport"] == "http":
            self.origin = Origin(self.month.items, ORIGIN_DELAY_S).__enter__()
            url_base = self.origin.url_base
        else:
            write_items(self.month, self.path("stac"))
            url_base = "file://" + self.path("stac") + "/"
        write_cmr_days(self.month, self.path("cmr"), url_base)
        # CPU seconds of the process tree, like the other timings: JVM
        # start-up wall time swings with the host's load
        self.metrics["setup_s"] = tree_cpu_s(os.getpid()) - c0
        self.layers["setup.wall_s"] = time.perf_counter() - t0
        _log("inputs", t0)

    # --- operations -----------------------------------------------------------
    def pipeline(self) -> tuple[float, float, float, float]:
        """E1 then E2 for the month; returns wall and process-tree CPU
        seconds of each: (e1_s, e2_s, e1_cpu_s, e2_cpu_s)."""
        from hls_stac_parquet_spark.plans import (
            cache_daily_stac_json_links,
            write_monthly_stac_geoparquet,
        )
        from perfbench import checks
        from perfbench.probes import tree_cpu_s

        m = self.month
        self.label("e1")
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        written = cache_daily_stac_json_links(
            self.spark, self.cid, self.coll, m.days[0], self.path("links"),
            end_date=m.days[-1], protocol="http" if self.origin else "file",
            fixture_dir=self.path("cmr"),
        )
        e1 = time.perf_counter() - t0
        c1 = tree_cpu_s(os.getpid())
        self.op(checks.check_e1(written, len(m.days)))
        self.label("e2")
        c2 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        self.e2_result = write_monthly_stac_geoparquet(
            self.spark, self.coll, m.year, m.month, self.path("links"),
            self.path("out"),
        )
        e2 = time.perf_counter() - t0
        c3 = tree_cpu_s(os.getpid())
        self.op(checks.check_e2(self.e2_result, m.n_urls, len(m.broken))
                + checks.check_files(self.e2_result["files"]))
        return e1, e2, c1 - c0, c3 - c2

    def registry_pass(self) -> dict[str, float]:
        """One pass of the query set over a seeded lineitem table, each
        query's row count checked against its DuckDB oracle SQL."""
        import duckdb
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from hls_stac_parquet_spark.queries import REGISTRY
        from perfbench.tables import write_lineitem

        tables = self.path("tables")
        write_lineitem(self.args.seed, tables)
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                        f"'{os.path.join(tables, 'lineitem.parquet')}')")
            expected = {q: con.execute(f"SELECT count(*) FROM ({REGISTRY[q].oracle})")
                        .fetchone()[0] for q in REGISTRY_SET}
        finally:
            con.close()
        times = {}
        for q in REGISTRY_SET:
            self.label(f"registry:{q}")
            obs = Observation(q)
            t0 = time.perf_counter()
            df = REGISTRY[q].fn(self.spark, tables)
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop").mode("overwrite").save()
            times[q] = time.perf_counter() - t0
            self.spark.catalog.clearCache()
            rows, want = obs.get["rows"], expected[q]
            self.op([] if rows == want else
                    [f"{q} returned {rows} rows, expected {want}"])
        return times

    def bbox_queries(self, deadline: float) -> tuple[list[float], list[float]]:
        """Seeded bbox queries until ``deadline`` (and at least
        MIN_QUERIES), each checked against a brute-force scan; records
        footer-statistics pruning per query. Returns the latencies and
        process-tree CPU seconds of all but the first WARM_QUERIES."""
        import numpy as np

        from hls_stac_parquet_spark.plans.spatial_query import bbox_query
        from perfbench import checks
        from perfbench.probes import Layout, tree_cpu_s

        files = self.e2_result["files"]
        brute = checks.BruteForce(files)
        layout = Layout(files)
        rng = np.random.default_rng(self.args.seed + 7)
        centers = self.month.tiles[["lon", "lat"]].to_numpy()
        latency, cpu, files_share, rg_share, rows = [], [], [], [], []
        i = 0
        while i < MIN_QUERIES or time.perf_counter() < deadline:
            # two of three boxes sit on a tile the month holds; sides
            # cycle from half a tile to a few tiles
            side = BOX_SIDES_DEG[i % len(BOX_SIDES_DEG)]
            if i % 3 == 2:
                cx, cy = rng.uniform(-180, 180), rng.uniform(-80, 80)
            else:
                cx, cy = centers[rng.integers(len(centers))]
            box = (cx - side / 2, cy - side / 2, cx + side / 2, cy + side / 2)
            self.label(f"bbox:{i}")
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            got = bbox_query(
                self.spark, self.path("out"), self.coll, box,
                year=YEAR if i % 2 else None, month=MONTH if i % 2 else None,
            ).toArrow()
            latency.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s(os.getpid()) - c0)
            self.op(checks.check_query(got, brute.ids_in(box)))
            f_share, g_share = layout.touched(box)
            files_share.append(f_share)
            rg_share.append(g_share)
            rows.append(got.num_rows)
            i += 1
        n = len(latency)
        self.layers["plans.spatial_query.files_touched_share"] = sum(files_share) / n
        self.layers["plans.spatial_query.rowgroups_touched_share"] = sum(rg_share) / n
        self.layers["plans.spatial_query.rows_returned"] = sum(rows) / n
        self.layers["sinks.geoparquet.files"] = len(layout.paths)
        self.layers["sinks.geoparquet.row_groups"] = layout.n_row_groups
        per_file = layout.rows_per_file
        self.layers["sinks.geoparquet.rows_per_file_max_over_mean"] = (
            max(per_file) / (sum(per_file) / len(per_file)))
        return latency[WARM_QUERIES:], cpu[WARM_QUERIES:]

    # --- the measured part ----------------------------------------------------
    def measure(self) -> None:
        from perfbench.probes import OpenCounter, median

        start = time.perf_counter()
        if self.origin is not None:
            before, busy0 = self.origin.snapshot()
            e1, e2, e1_cpu, e2_cpu = self.pipeline()
            after, busy1 = self.origin.snapshot()
            requests = sum((after - before).values())
            per_item = requests / self.month.n_urls
            # E1 sends the origin nothing, so E2's wall time is the base;
            # the origin thread lives in this process, so its CPU time
            # is taken out of E2's
            self.layers["origin.busy_s"] = busy1 - busy0
            self.layers["origin.busy_share"] = (busy1 - busy0) / e2
            e2_cpu -= busy1 - busy0
        else:
            with OpenCounter(self.path("stac")) as opens:
                e1, e2, e1_cpu, e2_cpu = self.pipeline()
            if opens.overflowed:
                self.op(["inotify queue overflowed; item opens undercounted"])
            requests = sum(n for name, n in opens.opens.items()
                           if name in self.month.items)
            # a missing file is never opened, so count per item that
            # exists; the inotify reader's own CPU (well under 1% of E2's)
            # stays in e2_cpu_s
            per_item = requests / len(self.month.items)
            self.layers["origin.busy_s"] = 0.0
            self.layers["origin.busy_share"] = 0.0
        _log("E1+E2", start)
        self.metrics["e1_cpu_s"] = e1_cpu
        self.metrics["e2_cpu_s"] = e2_cpu
        self.layers["plans.daily_ingest.wall_s"] = e1
        self.layers["plans.monthly_compact.wall_s"] = e2
        self.metrics["remote_requests_per_item"] = per_item
        self.layers["sources.stac_fetch.requests"] = requests
        self.layers["sources.stac_fetch.requests_per_url"] = per_item
        n_bytes = sum(os.path.getsize(p) for p in self.e2_result["files"])
        self.metrics["bytes_per_item"] = n_bytes / self.e2_result["written"]

        latency, cpu = self.bbox_queries(start + self.args.seconds)
        self.n_queries = len(latency)
        _log(f"{self.n_queries} bbox queries", start)
        # the median drops queries that share the CPU with a GC or JIT burst
        self.metrics["query_cpu_ms"] = median(cpu) * 1e3
        self.layers["plans.spatial_query.p50_ms"] = median(latency) * 1e3

    def traced_layers(self) -> None:
        """The operator query set, stage metrics for it and for E2,
        prefix replays of E1 and E2, and the tracing overhead on E2."""
        from hls_stac_parquet_spark.plans import write_monthly_stac_geoparquet
        from perfbench import tracer
        from perfbench.probes import stage_metrics

        reg = self.registry_pass()
        self.layers["queries.registry_s"] = sum(reg.values())
        for q, t in reg.items():
            self.layers[f"queries.{q}_s"] = t
        for call, groups in (("e2", ["e2"]),
                             ("registry", [f"registry:{q}" for q in REGISTRY_SET])):
            for k, v in stage_metrics(self.spark, groups).items():
                self.layers[f"spark.{call}.{k}"] = v

        self.layers.update(tracer.replay_e1(
            self.spark, self.path("cmr"), self.path("links-replay"), self.cid,
            self.coll, self.month.days, "http" if self.origin else "file"))
        e2 = tracer.replay_e2(
            self.spark, self.path("links"), self.path("out-replay"), self.coll,
            YEAR, MONTH, self.month.days[-1], self.e2_result["written"],
            self.e2_result["failed"])
        replay_s = e2.pop("replay_s")
        self.layers.update(e2)

        # warm reruns of E2, labelled then not: the tracing overhead,
        # and the warm base that the (warm) replay is subtracted from
        sc = self.spark.sparkContext
        runs = {}
        for traced in (True, False):
            if traced:
                sc.setJobGroup("e2:rerun", "e2:rerun")
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(key, None)
            t0 = time.perf_counter()
            write_monthly_stac_geoparquet(self.spark, self.coll, YEAR, MONTH,
                                          self.path("links"),
                                          self.path(f"out-rerun-{traced}"))
            if traced:
                stage_metrics(self.spark, ["e2:rerun"])
            runs[traced] = time.perf_counter() - t0
        self.layers["trace.overhead_s"] = runs[True] - runs[False]
        self.layers["plans.monthly_compact.unattributed_s"] = runs[True] - replay_s

    def close(self) -> None:
        """Stop the origin, the session and the JVM with every process
        below it, then delete the run's inputs and outputs."""
        from pyspark import SparkContext

        from perfbench.probes import descendants, wait_gone

        if self.origin is not None:
            self.origin.__exit__(None, None, None)
        if self.spark is not None:
            children = descendants(os.getpid())
            gateway = SparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            wait_gone(children, timeout_s=30)
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hls_stac_parquet_spark")):
        print("run from the repository root: hls_stac_parquet_spark/ not found",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.heap
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep every temporary file Spark, the JVM and Python make inside
    # the checkout
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    # JVM and py4j start-up noise shares fd 1: send it to stderr and
    # keep the real stdout for the result line alone
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(1), "w")

    from perfbench.probes import RssSampler

    run = Run(args)
    try:
        with RssSampler() as rss:
            run.setup()
            run.measure()
            if run.trace:
                run.traced_layers()
        run.metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
    finally:
        t0 = time.perf_counter()
        run.close()
        _log("teardown", t0)

    kind = "per_layer" if run.trace else "end_to_end"
    values = run.layers if run.trace else run.metrics
    missing = [m["name"] for m in spec[kind] if m["name"] not in values]
    if missing:
        raise RuntimeError(f"run lacks {kind} metrics {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[kind]}
    if run.trace:
        with open(os.path.join(ROOT, ".perfbench",
                               f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "bbox_queries": run.n_queries, "per_layer": metrics,
                       "end_to_end": run.metrics}, f, indent=1, sort_keys=True)
    print(f"{args.workload}: {run.attempted} operations, {run.failed} failed,"
          f" {run.n_queries} bbox queries", file=sys.stderr)
    line = json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    })
    sys.stdout.flush()
    os.write(real_stdout, (line + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
