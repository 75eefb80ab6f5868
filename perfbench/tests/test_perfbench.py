"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start ``perfbench/run.py --tiny`` once per workload and
trace mode (about a minute each); the other tests share one local
Spark session.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    with open(f"{run.WORK}/records/{workload}-seed3-trace{trace}.json") as fh:
        return json.loads(lines[-1]), json.load(fh)


@pytest.mark.parametrize("workload", sorted(run.WHY))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    res, record = _smoke(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
        return
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.unattributed_jobs"] == 0
    assert m["driver.jobs"] > 0 and m["exec.cpu_s"] > 0 and m["trace.overhead_ratio"] >= 1
    assert record["reconcile"]["error"] <= record["reconcile_tolerance"]
    _assert_well_formed(record["spans"])


def _assert_well_formed(spans: list[dict]) -> None:
    """Children lie inside their parents, self time is never negative,
    and a job belongs to exactly one span."""
    by_id = {s["id"]: s for s in spans}
    eps = 1e-6
    for s in spans:
        assert s["end"] >= s["start"]
        assert s["self_s"] >= -eps
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] - eps <= s["start"] and s["end"] <= p["end"] + eps
    jobs = [j for s in spans for j in s["jobs"]]
    assert len(jobs) == len(set(jobs))


def test_generators_are_deterministic(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_cms_week(str(tmp_path / "cms" / name), seed, 0.01)
        gen.write_corpus(str(tmp_path / "corpus" / name), seed, 200, 2, 20)
    for kind in ("cms", "corpus"):
        root = tmp_path / kind
        assert not _differs(root / "a", root / "b")
        assert _differs(root / "a", root / "c")


def _differs(x, y) -> bool:
    cmp = filecmp.dircmp(x, y)
    if cmp.left_only or cmp.right_only:
        return True
    _, mismatch, errors = filecmp.cmpfiles(x, y, cmp.common_files, shallow=False)
    return bool(mismatch or errors) or any(_differs(x / d, y / d) for d in cmp.common_dirs)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    os.makedirs(f"{work}/tmp", exist_ok=True)
    s = run.spark_session(work, 2)
    yield s
    s.stop()


def _jobs_per_count(spark) -> int:
    """Jobs one ``range(n).count()`` submits (adaptive execution may
    split it in two)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = dag.nextJobId()
    spark.range(7).count()
    return dag.nextJobId() - lo


def test_pool_thread_jobs_are_attributed_to_their_span(spark):
    per = _jobs_per_count(spark)
    tracer = Tracer(spark, "t")
    with tracer.span("run", Tracer.BENCH):
        with tracer.span("outer", "jobs") as outer:
            spark.range(10).count()
            with tracer.span("inner", "queries") as inner:
                spark.range(20).count()
            with ThreadPoolExecutor(max_workers=4) as pool:
                list(pool.map(lambda n: spark.range(n).count(), [1, 2, 3, 4]))
    assert len(inner.jobs) == per
    # one count from the client thread, four from pool threads with no group
    assert len(outer.jobs) == 5 * per
    assert tracer.layer_totals()["trace.unattributed_jobs"] == 0
    _assert_well_formed(tracer.dump())


def test_unspanned_job_counts_as_unattributed(spark):
    per = _jobs_per_count(spark)
    tracer = Tracer(spark, "u")
    with tracer.span("run", Tracer.BENCH):
        spark.range(5).count()
    assert tracer.layer_totals()["trace.unattributed_jobs"] == per


def test_injected_wrong_answer_raises_fail_ratio(spark, tmp_path):
    cheap = ["rollup_revenue", "rolling_7day_revenue"] * 2
    wl = workloads.AnalystSession(sf=0.002, template=[None] * 4, cheap=cheap)
    wl.prepare(str(tmp_path / "w"), 1)
    tracer = Tracer(spark, "w", enabled=False)

    def call(layer, name, fn, *a, **k):
        return fn(*a, **k)

    ops = run.run_passes(wl, spark, call, tracer, 1)
    assert len(ops) == 4 and all(o["ok"] for o in ops)
    cols, rows = wl.oracle["rolling_7day_revenue"]
    wl.oracle["rolling_7day_revenue"] = (cols, rows[1:])
    ops = run.run_passes(wl, spark, call, tracer, 1)
    failed = sum(not o["ok"] for o in ops)
    assert failed == 2  # every rolling_7day_revenue request
    assert (len(ops) - failed) / len(ops) < 1.0
