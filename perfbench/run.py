"""ddspark benchmark: one seeded workload, timed through the public API,
every answer checked against an exact DuckDB oracle.

Run from the repository root::

    python3 perfbench/run.py --workload corpus_by_lang --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md).  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; lines before it that
start with ``#`` are human-readable notes.  Inputs, exact answers, Spark
scratch space and trace spans live under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

CORES = 4
HEAP = "2g"  # driver heap, fixed and pre-touched so GC sizing does not move peak RSS
SETUPS = 3  # session set-ups per run; setup_s is their median
TAIL_BEYOND = 10  # query_tail_s is the highest percentile with this many samples beyond it

E2E = {
    "setup_s": "s", "query_s": "s", "query_tail_s": "s", "rows_per_s": "rows/s",
    "peak_rss_mb": "MB", "max_rel_err": "ratio",
}
PER_LAYER_EXTRA = {
    "session.start_s": "s", "agg.plan_ms": "ms", "agg.plan_py4j_calls": "count",
    "sqlpath.plan_ms": "ms", "collect_ms": "ms",
    "plancache.hits": "count", "plancache.misses": "count", "plancache.hit_ratio": "ratio",
    "plancache.stale_hits": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "sink.commit_ms": "ms", "sink.read_state_ms": "ms", "state.cells": "count",
    "ingest_s": "s", "state_mb": "MB", "error_rate": "ratio",
    "host.steal_pct": "%", "host.unclaimed_idle_pct": "%",
    "baseline.percentile_approx_s": "s", "baseline.percentile_approx_rel_err": "ratio",
    "baseline.percentile_approx100_s": "s", "baseline.percentile_approx100_rel_err": "ratio",
    "baseline.percentile_s": "s", "trace.overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    from probes import LAYER_PLAN_METRICS, PROFILED

    return {**LAYER_PLAN_METRICS, **{k: "ms" for k in PROFILED}, **PER_LAYER_EXTRA}


# layers that run on some workloads only; a run names those it did not
# exercise and reports their metrics as 0
OPTIONAL_LAYERS = ("python", "cells", "finalize", "streaming", "sqlpath", "baseline",
                   "plan_memo_probe")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """One benchmark run of one workload: set-up, timed loop, metrics."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str, scale: float = 1.0):
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work, self.scale = work, scale
        self.attempted = self.failed = 0
        self.max_rel_err = 0.0
        self.failures: list[str] = []
        self.notes: list[str] = []
        self.present: set[str] = set()
        self.spark = None
        self.extras: dict[str, float] = {}

    # ------------------------------------------------------------- set-up
    def prepare_inputs(self) -> None:
        import inputs
        import oracle

        spec = self.w.scaled(self.scale)
        path = inputs.materialize(os.path.join(self.work, "inputs"), self.w.name, self.seed,
                                  self.w.kind, spec)
        self.w.prepare(path, self.seed)
        self.con = oracle.connect()
        cached = os.path.join(path, "exact.json")
        if os.path.exists(cached):
            with open(cached) as f:
                answers = json.load(f)
        else:
            answers = self.w.exact_answers(self.con)
            with open(cached + ".tmp", "w") as f:
                json.dump(answers, f)
            os.replace(cached + ".tmp", cached)
        self.w.bind(answers, self.con)

    def start_session(self):
        from ddspark.session import get_spark

        spark = get_spark(app_name="perfbench", cores=CORES, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        })
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """``SETUPS`` times: a fresh session plus one warm-up pass over every
        operation shape.  The first launches the JVM; later ones restart the
        SparkSession inside it."""
        import numpy as np

        self.setup_s, self.spark = [], None
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            if i == 0:
                self.session_start_s = time.perf_counter() - t0
            state = self._fresh_dir(f"warm-state-{i}")
            for op in self.w.warmup(self.spark, np.random.default_rng([self.seed, 2, i]), state):
                self.execute(op)
            self.setup_s.append(time.perf_counter() - t0)

    def _fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # ---------------------------------------------------------- operations
    def execute(self, op, tracer=None) -> dict | None:
        """Run and check one operation; ``None`` when it raised or answered wrongly."""
        from oracle import Mismatch

        self.attempted += 1
        rec = {"shape": op.shape, "kind": op.kind, "layer": op.layer}
        try:
            t0 = time.perf_counter()
            src = op.source()
            t1 = time.perf_counter()
            calls0 = tracer.calls if tracer else 0
            out = op.api(src)
            t2 = time.perf_counter()
            rec["py4j_calls"] = (tracer.calls - calls0) if tracer else 0
            rows = out.collect() if out is not None else None
            t3 = time.perf_counter()
            self.max_rel_err = max(self.max_rel_err, op.check(rows))
        except Mismatch as e:
            self._fail(op, f"wrong answer: {e}")
            return None
        except Exception as e:  # noqa: BLE001 — an operation failure is a measured outcome
            self._fail(op, "".join(traceback.format_exception_only(type(e), e)).strip()[:500])
            return None
        rec.update(t0=t0, read_s=t1 - t0, plan_s=t2 - t1, collect_s=t3 - t2, total_s=t3 - t0,
                   rows_in=op.rows_in(), out=out)
        return rec

    def _fail(self, op, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(f"{op.shape}: {why}")

    # --------------------------------------------------------- timed loop
    def measure(self) -> None:
        import numpy as np
        import probes
        import ddspark.plancache as plancache

        spark = self.spark
        jvm_pid = spark.sparkContext._gateway.proc.pid
        self.sampler = probes.RssSampler(jvm_pid)
        state_dir = self._fresh_dir("state")
        self.state_dir = state_dir
        ops = self.w.ops(spark, np.random.default_rng([self.seed, 3]), state_dir)
        if self.w.settle_ops:
            settle = self._fresh_dir("settle-state")
            for op in itertools.islice(self.w.ops(spark, np.random.default_rng([self.seed, 4]), settle),
                                       self.w.settle_ops):
                self.execute(op)
        self.records: list[dict] = []
        self.spans = probes.Spans()
        counter = None
        if self.trace:
            counter = probes.Py4jCounter()
            counter.install()
            spark.profile.clear()
        memo0 = (plancache._HITS, plancache._MISSES)
        cpu0 = probes.host_cpu()
        self.sampler.start()
        self.sampler.take_peak()
        start = time.perf_counter()
        i = queries = 0
        try:
            # whole cycles only, so every run times the same mix of shapes
            while (time.perf_counter() - start < self.seconds or queries < self.w.min_queries
                   or i % self.w.cycle_len):
                op = next(ops)
                traced = self.trace and (i // self.w.cycle_len) % 2 == 1
                if self.trace:
                    self._set_tracing(traced, i)
                rec = self.execute(op, counter if traced else None)
                rss = self.sampler.take_peak()
                if rec is not None:
                    rec.update(op=i, traced=traced, rss=rss)
                    if traced:
                        self._collect_trace(rec)
                    rec.pop("out")
                    self.records.append(rec)
                    queries += rec["kind"] == "query"
                i += 1
                if self.failed > 3 * self.w.min_queries and not self.records:
                    break  # nothing succeeds; stop rather than spin
        finally:
            self.sampler.stop()
            if counter is not None:
                counter.uninstall()
        self.cpu = probes.host_share(cpu0, probes.host_cpu())
        self.memo = (plancache._HITS - memo0[0], plancache._MISSES - memo0[1])

    def _set_tracing(self, on: bool, i: int) -> None:
        if on:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{i}", "perfbench operation")

    def _collect_trace(self, rec: dict) -> None:
        """Spans and layer metrics of one traced operation (after it ran)."""
        import probes

        i, t0 = rec["op"], rec["t0"]
        self.spans.add(i, rec["shape"], t0, t0 + rec["total_s"], kind=rec["kind"])
        t1 = t0 + rec["read_s"]
        self.spans.add(i, "read", t0, t1, parent=rec["shape"])
        self.spans.add(i, f"{rec['layer']}.plan", t1, t1 + rec["plan_s"], parent=rec["shape"],
                       py4j_calls=rec["py4j_calls"])
        self.spans.add(i, "collect", t1 + rec["plan_s"], t0 + rec["total_s"], parent=rec["shape"])
        if rec["out"] is not None:
            nodes = probes.plan_nodes(rec["out"]._jdf.queryExecution().executedPlan())
            rec["plan"] = probes.plan_layers(nodes)
            names = {n["name"] for n in nodes}
            if names & {"MapInPandas", "FlatMapGroupsInPandas"}:
                self.present.add("python")
            if "Window" in names:
                self.present.add("finalize")
            if rec["plan"]["cells.rows"]:
                self.present.add("cells")
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-op-{i}")
        stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
        rec["jobs"], rec["stages"] = len(jobs), len(stages)
        rec["tasks"] = sum(info.numTasks for s in stages if (info := st.getStageInfo(s)))

    # -------------------------------------------------------------- metrics
    def e2e_metrics(self) -> dict[str, float]:
        q = sorted(r["total_s"] for r in self.records if r["kind"] == "query")
        n = len(q)
        if n > TAIL_BEYOND:
            tail, pct = q[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n
        else:
            tail, pct = (q[-1] if q else 0.0), 100.0
        self.notes.append(f"query_tail_s is p{pct:.1f} of {n} timed queries "
                          f"({TAIL_BEYOND} samples beyond it)")
        rows_in = median([r["rows_in"] for r in self.records if r["kind"] == "query"])
        cycles: dict[int, list[float]] = {}
        for r in self.records:
            if r["kind"] == "query":
                cycles.setdefault(r["op"] // self.w.cycle_len, []).append(r["total_s"])
        query_s = median([statistics.fmean(c) for c in cycles.values()])
        return {
            "setup_s": median(self.setup_s),
            "query_s": query_s,
            "query_tail_s": tail,
            "rows_per_s": rows_in / query_s if q else 0.0,
            "peak_rss_mb": median([r["rss"] for r in self.records]) / 2**20,
            "max_rel_err": self.max_rel_err,
        }

    def layer_metrics(self) -> dict[str, float]:
        import probes

        units = per_layer_units()
        m = {k: 0.0 for k in units}
        traced = [r for r in self.records if r["traced"]]
        plain = [r for r in self.records if not r["traced"]]
        planned = [r for r in traced if "plan" in r]
        for k in probes.LAYER_PLAN_METRICS:
            m[k] = median([r["plan"][k] for r in planned])
        n_traced = max(len(traced), 1)
        for k, v in probes.profiled_ms(self.spark).items():
            m[k] = v / n_traced
        by_layer = lambda layer: [r for r in traced if r["layer"] == layer]  # noqa: E731
        m["session.start_s"] = self.session_start_s
        m["agg.plan_ms"] = 1e3 * median([r["plan_s"] for r in by_layer("agg")])
        m["agg.plan_py4j_calls"] = median([r["py4j_calls"] for r in by_layer("agg")])
        if by_layer("sqlpath"):
            self.present.add("sqlpath")
            m["sqlpath.plan_ms"] = 1e3 * median([r["plan_s"] for r in by_layer("sqlpath")])
        m["collect_ms"] = 1e3 * median([r["collect_s"] for r in traced if r["kind"] == "query"])
        hits, misses = self.memo
        m["plancache.hits"], m["plancache.misses"] = hits, misses
        m["plancache.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        m["spark.jobs_per_op"] = median([r["jobs"] for r in traced])
        m["spark.stages_per_op"] = median([r["stages"] for r in traced])
        m["spark.tasks_per_op"] = median([r["tasks"] for r in traced])
        ingests = [r for r in self.records if r["kind"] == "ingest"]
        if ingests:
            self.present.add("streaming")
            m["sink.commit_ms"] = 1e3 * median([r["plan_s"] for r in ingests if r["traced"]])
            m["ingest_s"] = median([r["total_s"] for r in ingests if not r["traced"]])
            m["sink.read_state_ms"] = 1e3 * median(
                [r["read_s"] for r in traced if r["shape"] == "state"])
            m["state.cells"], m["state_mb"] = self._state_size()
        m["error_rate"] = self.failed / max(self.attempted, 1)
        m["host.steal_pct"], m["host.unclaimed_idle_pct"] = self.cpu
        untraced_q = median([r["total_s"] for r in plain])
        traced_q = median([r["total_s"] for r in traced])
        m["trace.overhead_pct"] = 100.0 * (traced_q - untraced_q) / untraced_q if untraced_q else 0.0
        m.update(self.extras)
        absent = sorted(set(OPTIONAL_LAYERS) - self.present)
        self.notes.append("absent layers (reported as 0): " + (", ".join(absent) or "none"))
        self.notes.append(f"traced {len(traced)} of {len(self.records)} operations; "
                          "Spark operator times are task time summed over tasks")
        return m

    def _state_size(self) -> tuple[int, float]:
        import workloads

        latest = sorted(d for d in os.listdir(self.state_dir) if d.startswith("v_"))[-1]
        path = os.path.join(self.state_dir, latest)
        size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        return workloads.state_rows(self.state_dir), size / 1e6

    # ------------------------------------------------------ traced extras
    def run_extras(self) -> None:
        """Controls that only the traced run measures."""
        if not self.trace:
            return
        if self.w.name == "corpus_by_lang":
            self.present.add("baseline")
            self.extras = self._baselines()
        if self.w.name == "dashboard_ingest":
            self.present.add("plan_memo_probe")
            self.extras = {"plancache.stale_hits": self._stale_hit_probe()}

    def _baselines(self) -> dict[str, float]:
        """Spark's own percentile functions on the same query, with their
        observed relative error against the exact answers."""
        from pyspark.sql import functions as F

        w = self.w
        col = F.col(w.value)
        methods = {
            "percentile_approx": lambda: F.percentile_approx(col, w.qs, 10000),
            "percentile_approx100": lambda: F.percentile_approx(col, w.qs, 100),
            "percentile": lambda: F.percentile(col, w.qs),
        }
        out = {}
        for name, agg in methods.items():
            t0 = time.perf_counter()
            rows = self.spark.read.parquet(w.data).groupBy(*w.by).agg(agg().alias("qv")).collect()
            out[f"baseline.{name}_s"] = time.perf_counter() - t0
            if name != "percentile":
                worst = 0.0
                for r in rows:
                    exact = w.expected[tuple(r[c] for c in w.by)][4]
                    worst = max(worst, *(abs(e - x) / abs(x) for e, x in zip(r["qv"], exact)))
                out[f"baseline.{name}_rel_err"] = worst
        return out

    def _stale_hit_probe(self) -> int:
        """Known plan-memo defect: refresh the dimension table of the join
        shape with other multipliers and count the groups answered from the
        stale memoized plan (0 once the memo keys on in-memory data)."""
        import oracle
        from ddspark import SketchConfig
        from ddspark.agg import quantile_sketch

        w, qs, by = self.w, [0.5, 0.99], ["l_returnflag"]
        mult = [(f, m * 10.0) for f, m in w.mult]
        exp = oracle.exact(self.con, w.dim_relation(mult), by, "v", qs)
        rows = quantile_sketch(w.dim_join(self.spark, mult), "v", by, qs, SketchConfig(0.01)).collect()
        stale = 0
        for r in rows:
            key = (r["l_returnflag"],)
            try:
                oracle.check([r.asDict()], {key: exp[key]}, by, qs, 0.01)
            except oracle.Mismatch:
                stale += 1
        return stale

    # ------------------------------------------------------------ teardown
    def teardown(self) -> None:
        """Stop the session, the JVM and every Python worker, and wait for them."""
        import probes
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = gateway.proc if gateway is not None else None
        pids = set(probes.process_tree(proc.pid)) if proc is not None else set()
        pids |= getattr(getattr(self, "sampler", None), "seen", set())
        self.spark.stop()
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            # a later session in this process must launch a new JVM
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 20
        while pids and time.time() < deadline:
            pids = {p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)}
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, 9)
            except OSError:
                pass

    def result(self) -> dict:
        metrics = self.layer_metrics() if self.trace else self.e2e_metrics()
        units = per_layer_units() if self.trace else E2E
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rindex(")") + 2] == "Z"
    except OSError:
        return False


def configure(root: str) -> str:
    """Point every scratch location of Spark and ddspark inside the checkout."""
    work = os.path.join(root, "perfbench", ".work")
    for d in ("tmp", "spark-local", "warehouse", "inputs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM started below (the Spark launcher and the driver) keeps its
    # temporary files in the checkout and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["DDSPARK_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["DDSPARK_DRIVER_MEM"] = HEAP
    sys.path.insert(0, root)
    import ddspark.session

    # the executor zip of the package is written next to the other scratch files
    ddspark.session.package_pyfiles = functools.partial(ddspark.session.package_pyfiles, out_dir=work)
    return work


def run(name: str, seed: int, seconds: float, trace: bool, work: str, scale: float = 1.0) -> tuple[dict, Run]:
    import workloads

    r = Run(workloads.WORKLOADS[name](), seed, seconds, trace, work, scale)
    try:
        r.prepare_inputs()
        r.setup()
        r.measure()
        r.run_extras()
        if trace:
            r.spans.write(os.path.join(work, f"spans-{name}-{seed}.json"))
        return r.result(), r
    finally:
        r.teardown()


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply input row counts (the smoke test runs at tiny scale)")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ddspark", "__init__.py")):
        print("perfbench: no ddspark package in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    work = configure(root)
    res, r = run(args.workload, args.seed, args.seconds, bool(args.trace), work, args.scale)
    for note in r.notes + [f"failure: {f}" for f in r.failures]:
        print(f"# {note}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
