#!/usr/bin/env python3
"""Layer-traced benchmark of cmsspark_spark, run as a client of the engine.

    python3 perfbench/run.py --workload cms_daily --seed 1 --seconds 30 --trace 0

Run from the repository root. One process generates the workload's
inputs from ``--seed``, computes the oracle answers, then sets up a
Spark session three times (the median is ``setup_s``; the first also
launches the JVM). None of that is timed. The timed region runs whole
passes of the workload, ``round(seconds / nominal pass time)`` of them,
from one client thread at ``local[N]`` with N the usable CPUs, and
checks every operation's output.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` opens a span
around every call into a layer's public function, attaches Spark's
counters to it, and prints the per-layer metrics. The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the full record (host stamp, input sizes, latencies, reconciliation),
also written with the spans under ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: Why each workload is in the benchmark (stamped into every record).
WHY = {
    "cms_daily": "the paper's daily ETL: CSV/JSON/Avro/parquet sources, broadcast joins, "
                 "aggregation and sink writes",
    "corpus_clean": "training-data jobs: Arrow text kernels, MinHash/LSH shuffles, "
                    "snapshot commits and shard writes",
    "analyst_session": "read-only interactive queries: planning, Python-worker start, "
                       "memo reuse, BM25/ANN serving",
}
#: Nominal pass time on a 4-CPU host; the pass count is seconds / this.
PASS_S = 30.0
SETUPS = 3
DRIVER_MEMORY = "3g"
#: A fixed heap and young generation keep resident memory from following
#: the collector's sizing decisions (with G1's adaptive sizing peak RSS
#: spread 11-45% across seeds, with these about 2%); no perf-data file
#: is written outside the checkout.
JVM_OPTS = f"-XX:-UsePerfData -XX:+UseG1GC -Xms{DRIVER_MEMORY} -Xmn512m"
TAIL_SAMPLES = 10

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "ok_ratio": "ratio",
}
PER_LAYER = {
    "driver.gap_s": "s", "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "sources.call_s": "s", "sources.input_bytes": "B", "sources.input_rows": "count",
    "python.bytes_sent": "B", "python.bytes_returned": "B", "python.worker_start_s": "s",
    "python.worker_init_s": "s", "python.worker_run_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "spill.bytes": "B",
    "broadcast.bytes": "B", "broadcast.build_s": "s", "broadcast.collect_s": "s",
    "write.output_bytes": "B", "write.output_rows": "count", "write.files": "count",
    "write.bytes_per_input_byte": "ratio",
    "sinks.push_s": "s", "sinks.docs_pushed": "count", "sinks.push_failed": "count",
    "trace.unattributed_jobs": "count", "trace.overhead_ratio": "ratio",
}


def make_workload(name: str, tiny: bool):
    import workloads as W

    if name == "cms_daily":
        return W.CmsDaily(scale=0.01, days=1) if tiny else W.CmsDaily(scale=0.02)
    if name == "corpus_clean":
        return W.CorpusClean(n_docs=300, inc_docs=40) if tiny else W.CorpusClean(n_docs=1500)
    if tiny:
        return W.AnalystSession(sf=0.002, template=[None, "dedup_minhash_lsh", None],
                                cheap=["rollup_revenue", "rolling_7day_revenue"])
    return W.AnalystSession(sf=0.01)


def tail(lat: list[float]) -> tuple[float, int]:
    """Latency at the highest whole percentile with at least
    ``TAIL_SAMPLES`` samples beyond it (the median when there are too
    few samples for any higher one)."""
    n = len(lat)
    pct = max(50, math.floor(100 * (1 - TAIL_SAMPLES / n))) if n else 50
    if n < 2:
        return (lat[0] if lat else 0.0), pct
    return statistics.quantiles(lat, n=100, method="inclusive")[pct - 1], pct


def spark_session(work: str, cpus: int):
    from cmsspark_spark.session import get_spark

    tmp = f"{work}/tmp"
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def patch_inner_sources(tracer) -> None:
    """Span the package's own source reads too (queries and jobs load
    their tables internally)."""
    from cmsspark_spark import catalog
    from cmsspark_spark.sources import readers

    def wrap(layer, fn, label):
        def traced(*a, **k):
            with tracer.span(f"{label}:{label_of(a)}", layer):
                return fn(*a, **k)
        return traced

    def label_of(a):
        x = a[2] if len(a) > 2 else a[1] if len(a) > 1 else ""
        return getattr(x, "name", x)

    catalog.load_table = wrap("catalog", catalog.load_table, "catalog.load_table")
    readers.read_source = wrap("sources", readers.read_source, "read_source")


def run_passes(wl, spark, call, tracer, passes: int) -> list[dict]:
    """The timed region: whole passes of the workload's operations,
    each timed and checked. A raising operation counts as failed."""
    ops = []
    for _ in range(passes):
        wl.begin_pass(spark)
        for name, op in wl.ops(spark, call):
            t0 = time.perf_counter()
            with tracer.span(name, tracer.BENCH):
                try:
                    ok = bool(op())
                except Exception:  # noqa: BLE001 — a failed op is a result
                    traceback.print_exc(file=sys.stderr)
                    ok = False
            ops.append({"op": name, "s": time.perf_counter() - t0, "ok": ok})
    return ops


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test scale")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cmsspark_spark")):
        print(f"perfbench: no cmsspark_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import procs
    from spans import Tracer

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    cpus = procs.cpu_count()
    host = procs.host_stamp()
    wl = make_workload(args.workload, args.tiny)
    passes = max(1, round(args.seconds / PASS_S))
    spark = None
    try:
        inputs = wl.prepare(work, args.seed)
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = spark_session(work, cpus)
            setups.append(time.perf_counter() - t0)

        run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        if args.trace:
            patch_inner_sources(tracer)

        def call(layer, name, fn, *a, **k):
            with tracer.span(name, layer):
                return fn(*a, **k)

        meter = procs.Meter().start()
        with tracer.span("run", Tracer.BENCH) as root:
            ops = run_passes(wl, spark, call, tracer, passes)
        res = meter.stop()
        files = wl.files_written()
    finally:
        if spark is not None:
            stop_jvm(spark)
        host["loadavg_1m_end"] = os.getloadavg()[0]
        shutil.rmtree(work, ignore_errors=True)

    lat = [o["s"] for o in ops]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    op_tail, pct = tail(lat)
    record = {
        "workload": args.workload, "why": WHY[args.workload], "seed": args.seed,
        "trace": args.trace, "passes": passes, "host": host, "inputs": inputs,
        "setup_runs_s": setups, "peak_rss_parts_mb": {k: v / 2**20 for k, v in meter.peak_parts.items()},
        "tail_percentile": pct, "tail_samples": attempted, "ops": ops,
    }
    if args.trace:
        tot = tracer.layer_totals()
        sinks = getattr(wl, "sinks", None)
        tot["sinks.push_s"] = sinks.push_s if sinks else 0.0
        tot["sinks.docs_pushed"] = sinks.docs_pushed if sinks else 0
        tot["sinks.push_failed"] = sinks.push_failed if sinks else 0
        tot["write.files"] = files
        tot["write.bytes_per_input_byte"] = tot.get("write.output_bytes", 0) / max(1, tot.get("sources.input_bytes", 0))
        tot["trace.overhead_ratio"] = res["wall_s"] / (res["wall_s"] - tracer.overhead_s)
        record["reconcile"] = tracer.reconcile(root)
        record["reconcile_tolerance"] = 0.01
        values, units = {k: tot.get(k, 0) for k in PER_LAYER}, PER_LAYER
        record["spans"] = tracer.dump()
    else:
        values = {
            "setup_s": statistics.median(setups), "wall_s": res["wall_s"],
            "op_p50_s": statistics.median(lat), "op_tail_s": op_tail,
            "cpu_s": res["cpu_s"], "peak_rss_mb": res["peak_rss_mb"],
            "ok_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    os.makedirs(f"{WORK}/records", exist_ok=True)
    with open(f"{WORK}/records/{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1)
    record.pop("spans", None)
    record.pop("ops")
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
