"""Smoke test of the benchmark at tiny sizes.

Run from the repository root: ``python3 -m pytest perfbench/test_smoke.py -q``.
Each workload runs end to end through the command line; one in-process run
checks that an injected wrong answer is counted, and two strict expected
failures pin the known defects listed in README.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402

TINY = 0.01


def _cli(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runner():
    spec = _benchmark()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.per_layer_units()


def test_oracle_uses_the_lower_rank_rule(tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    g, v = rng.integers(0, 4, 500), np.round(rng.lognormal(2, 2, 500), 1)
    pq.write_table(pa.table({"g": g, "v": v}), tmp_path / "x.parquet")
    qs = [0.0, 0.1, 0.5, 0.95, 0.99, 1.0]
    got = oracle.exact(oracle.connect(), f"SELECT * FROM read_parquet('{tmp_path}/x.parquet')",
                       ["g"], "v", qs)
    for (key,), (n, _s, mn, mx, qv) in got.items():
        xs = np.sort(v[g == key])
        assert (n, mn, mx) == (len(xs), xs[0], xs[-1])
        assert qv == [xs[int(q * (len(xs) - 1))] for q in qs]


def test_inputs_are_stamped_and_deterministic(tmp_path):
    spec = {"rows": 1000, "groups": 5, "files": 2}
    spec = {**spec, "decades": 4}
    a = inputs.materialize(str(tmp_path), "w", 3, "wide_states", spec)
    b = inputs.materialize(str(tmp_path / "other"), "w", 3, "wide_states", spec)
    for f in ("part-000.parquet", "part-001.parquet"):
        with open(os.path.join(a, "data", f), "rb") as fa, open(os.path.join(b, "data", f), "rb") as fb:
            assert fa.read() == fb.read()
    assert inputs.materialize(str(tmp_path), "w", 3, "wide_states", {**spec, "groups": 6}) != a
    assert inputs.materialize(str(tmp_path), "w", 4, "wide_states", spec) != a


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _cli("--workload", "corpus_by_lang", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_runs_correctly(name, trace):
    p = _cli("--workload", name, "--seed", "5", "--seconds", "0.5", "--trace", trace,
             "--scale", str(TINY))
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, p.stdout
    assert res["attempted"] >= workloads.WORKLOADS[name]().min_queries
    spec = _benchmark()
    names = {m["name"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    assert set(res["metrics"]) == names
    if trace == "0":
        assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]


@pytest.fixture(scope="module")
def dashboard():
    """One in-process dashboard run at tiny size, with its session alive."""
    work = bench.configure(ROOT)
    r = bench.Run(workloads.WORKLOADS["dashboard_ingest"](), 9, 0.5, False, work, TINY)
    r.prepare_inputs()
    r.setup()
    yield r
    r.teardown()


def test_injected_wrong_answer_is_counted(dashboard):
    import numpy as np

    r = dashboard
    ops = r.w.ops(r.spark, np.random.default_rng(1), r._fresh_dir("smoke-state"))
    before = (r.attempted, r.failed)
    injected = 0
    for i in range(2 * workloads.DashboardWorkload.cycle_len):
        op = next(ops)
        if op.kind == "query" and i % 3 == 0:
            op.check = _perturbed(op.check)
            injected += 1
        r.execute(op)
    assert injected > 0
    assert r.attempted - before[0] == 2 * workloads.DashboardWorkload.cycle_len
    assert r.failed - before[1] == injected
    assert any("wrong answer" in f for f in r.failures)


def _perturbed(check):
    """Hand the check a result whose first quantile is over 5% too high."""

    def wrong(rows):
        first = rows[0].asDict()
        label = next(c for c in first if c.startswith("p"))
        first[label] = first[label] * 1.05 + 1.0
        return check([_Row(first)] + rows[1:])

    return wrong


class _Row(dict):
    def asDict(self):
        return dict(self)


@pytest.mark.xfail(strict=True, reason="known defect: keep_state=True raises on every call")
@pytest.mark.parametrize("engine", ["cells", "kernel"])
def test_known_defect_keep_state(dashboard, engine):
    from ddspark.agg import quantile_sketch

    df = dashboard.spark.read.parquet(dashboard.w.lineitem)
    quantile_sketch(df, "l_extendedprice", by=["l_returnflag"], keep_state=True,
                    engine=engine).collect()


@pytest.mark.xfail(strict=True, reason="known defect: the plan memo ignores in-memory join inputs")
def test_known_defect_plan_memo_refresh(dashboard):
    assert dashboard._stale_hit_probe() == 0
