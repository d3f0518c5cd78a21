"""The four benchmark workloads: their inputs, exact answers and operations.

Every operation goes through the public ddspark API.  An :class:`Op` splits
into ``source`` (reading the input DataFrame), ``api`` (the ddspark call
that builds the plan, or commits a micro-batch) and the collect that the
runner performs; ``check`` compares the collected rows with the exact
answer cached for the seed.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np

import oracle

CELLS_QS = [0.5, 0.95, 0.99]


@dataclass
class Op:
    shape: str
    kind: str  # "query" or "ingest"
    layer: str  # module whose public function builds the plan
    source: Callable  # () -> DataFrame
    api: Callable  # DataFrame -> DataFrame, or None for an ingest commit
    rows_in: Callable[[], int]
    check: Callable  # collected rows (None for ingest) -> max relative error


def _check_query(expected: dict, by, qs, alpha, stats=True) -> Callable:
    def check(rows):
        return oracle.check([r.asDict() for r in rows], expected, list(by), list(qs), alpha, stats)

    return check


def _parquet(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


class BatchWorkload:
    """One grouped ``quantile_sketch`` call, repeated (a closed loop with
    one client)."""

    cycle_len = 1
    min_queries = 11  # a tail percentile with 10 samples beyond it needs 11

    def __init__(self, name, kind, spec, why, value, by, alpha, engine="auto", settle_ops=4):
        self.name, self.kind, self.spec, self.why = name, kind, spec, why
        self.value, self.by, self.alpha, self.engine = value, by, alpha, engine
        # untimed operations after set-up; the JIT keeps speeding up the scan
        # of the cells engine for a few operations
        self.settle_ops = settle_ops
        self.qs = CELLS_QS

    def scaled(self, scale: float) -> dict:
        return {k: (max(int(v * scale), 1) if k == "rows" else v) for k, v in self.spec.items()}

    def prepare(self, input_dir: str, seed: int) -> None:
        self.data = os.path.join(input_dir, "data")

    def exact_answers(self, con) -> dict:
        ans = oracle.exact(con, _parquet(self.data), self.by, self.value, self.qs)
        return {"main": oracle.to_json(ans)}

    def bind(self, answers: dict, con) -> None:
        self.expected = oracle.from_json(answers["main"])
        self.rows = sum(v[0] for v in self.expected.values())

    def warmup(self, spark, rng, state_dir) -> list[Op]:
        """One operation: the workload has a single shape."""
        return [next(self.ops(spark, rng, state_dir))]

    def ops(self, spark, rng, state_dir) -> Iterator[Op]:
        from ddspark import SketchConfig
        from ddspark.agg import quantile_sketch

        cfg = SketchConfig(self.alpha)
        check = _check_query(self.expected, self.by, self.qs, self.alpha)
        while True:
            yield Op(
                shape=self.name, kind="query", layer="agg",
                source=lambda: spark.read.parquet(self.data),
                api=lambda df: quantile_sketch(df, self.value, by=self.by, qs=self.qs,
                                               cfg=cfg, engine=self.engine),
                rows_in=lambda: self.rows, check=check,
            )


# ------------------------------------------------------------------ dashboard

LI_QS_POOL = [0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]
ADHOC_BY = [[], ["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]]
ADHOC_VALUES = ["l_extendedprice", "l_quantity", "l_discount"]
STATE_QS = [0.5, 0.9, 0.99]
STATE_ALPHA = 0.01
BIN_LIMIT = 1024  # above every group's key range: collapsing modes never fold here
CYCLE = ["ingest"] * 2 + ["state"] + [
    "flag_status_lowest", "sqlpath_status", "rollup", "dimjoin", "adhoc",
]
ROLLUP_BY = ["l_returnflag", "l_linestatus"]


class DashboardWorkload:
    """Sub-second dashboard operations over small tables: micro-batch ingest
    into a durable sketch state, state queries, and ad-hoc sketch queries
    whose shapes partly repeat."""

    kind = "dashboard"
    cycle_len = len(CYCLE)
    # three whole cycles: with two, the tail percentile falls among the
    # fastest shapes and jumps between them from run to run
    min_queries = 3 * (len(CYCLE) - CYCLE.count("ingest"))
    settle_ops = 0  # plan build and scheduling dominate; no warm-up trend after set-up
    precomputed_states = 24

    def __init__(self, name, spec, why):
        self.name, self.spec, self.why = name, spec, why

    def scaled(self, scale: float) -> dict:
        out = dict(self.spec)
        for k in ("lineitem_rows", "events_rows"):
            out[k] = max(int(out[k] * scale), 200)
        return out

    def _multipliers(self, seed_rng) -> list[tuple[str, float]]:
        return [(f, float(m)) for f, m in zip("ANR", np.round(seed_rng.uniform(0.5, 3.0, 3), 2))]

    def dim_relation(self, mult) -> str:
        values = ", ".join(f"('{f}', CAST({m!r} AS DOUBLE))" for f, m in mult)
        return (f"SELECT li.*, li.l_extendedprice * d.mult AS v FROM ({_parquet(self.lineitem)}) li "
                f"JOIN (VALUES {values}) d(l_returnflag, mult) USING (l_returnflag)")

    def _state_relation(self, m: int) -> str:
        full, rem = divmod(m, len(self.slices))
        parts = [self.slices] * full + ([self.slices[:rem]] if rem else [])
        return " UNION ALL ".join(f"SELECT * FROM read_parquet({files!r})" for files in parts)

    def exact_answers(self, con) -> dict:
        li = _parquet(self.lineitem)
        j = oracle.to_json
        ans = {
            "sqlpath_status": j(oracle.exact(con, li + " WHERE l_extendedprice > 0",
                                             ["l_linestatus"], "l_extendedprice", LI_QS_POOL)),
            "dimjoin": j(oracle.exact(con, self.dim_relation(self.mult), ["l_returnflag"], "v",
                                      LI_QS_POOL)),
        }
        for by in ADHOC_BY:
            for v in ADHOC_VALUES:
                ans[f"adhoc:{','.join(by)}:{v}"] = j(oracle.exact(con, li, by, v, LI_QS_POOL))
        for m in range(1, self.precomputed_states + 1):
            ans[f"state:{m}"] = j(self._state_exact(con, m))
        return ans

    def _state_exact(self, con, m: int) -> dict:
        return oracle.exact(con, self._state_relation(m), ["event_type"], "value", STATE_QS)

    def prepare(self, input_dir: str, seed: int) -> None:
        self.lineitem = os.path.join(input_dir, "lineitem")
        self.slices = sorted(glob.glob(os.path.join(input_dir, "events", "slice-*.parquet")))
        self.mult = self._multipliers(np.random.default_rng([seed, 1]))

    def bind(self, answers: dict, con) -> None:
        self.answers = {k: oracle.from_json(v) for k, v in answers.items()}
        self.con = con
        self.li_rows = sum(v[0] for v in self.answers["adhoc::l_quantity"].values())

    def expected(self, key: str) -> dict:
        if key not in self.answers:  # state versions past the precomputed ones
            self.answers[key] = self._state_exact(self.con, int(key.split(":")[1]))
        return self.answers[key]

    def _rollup_expected(self, qs) -> dict:
        out = {}
        for lvl in (ROLLUP_BY, ROLLUP_BY[:1], []):
            part = self.expected(f"adhoc:{','.join(lvl)}:l_extendedprice")
            for k, v in oracle.select(part, LI_QS_POOL, qs).items():
                out[k + (None,) * (len(ROLLUP_BY) - len(k))] = v
        return out

    def warmup(self, spark, rng, state_dir) -> list[Op]:
        """One operation of each shape, ingest first."""
        return list(self.ops(spark, rng, state_dir, cycles=[list(dict.fromkeys(CYCLE))]))

    def ops(self, spark, rng, state_dir, cycles=None) -> Iterator[Op]:
        """An endless seeded sequence of cycles (or the given ``cycles``);
        each cycle holds every entry of :data:`CYCLE` once in a random order,
        and the first starts with an ingest."""
        from ddspark import SketchConfig
        from ddspark.agg import finalize_cells_sql, quantile_sketch, quantile_sketch_rollup
        from ddspark.sqlpath import sql_quantile_sketch
        from ddspark.streaming import incremental_cells_sink, read_sketch_state

        state_cfg = SketchConfig(STATE_ALPHA)
        sink = incremental_cells_sink(state_dir, "value", ["event_type"], state_cfg)
        li = lambda: spark.read.parquet(self.lineitem)  # noqa: E731
        li_rows = lambda: self.li_rows  # noqa: E731
        ingested = 0

        def q(shape, api, key, by, qs, alpha, stats=True, source=li, layer="agg"):
            exp = oracle.select(self.expected(key), LI_QS_POOL, qs) if key else None
            return Op(shape, "query", layer, source, api, li_rows,
                      _check_query(exp, by, qs, alpha, stats))

        def ingest(batch_id: int) -> Op:
            path = self.slices[batch_id % len(self.slices)]

            def check(_rows):
                committed = os.path.join(state_dir, f"v_{batch_id:020d}", "_SUCCESS")
                if not os.path.exists(committed):
                    raise oracle.Mismatch(f"batch {batch_id} not committed")
                return 0.0

            return Op("ingest", "ingest", "streaming", lambda: spark.read.parquet(path),
                      lambda df: sink(df, batch_id), lambda: _parquet_rows([path]), check)

        def state(m: int) -> Op:
            exp = self.expected(f"state:{m}")
            return Op("state", "query", "agg", lambda: read_sketch_state(spark, state_dir),
                      lambda cells: finalize_cells_sql(cells, STATE_QS, ["event_type"], state_cfg),
                      lambda: state_rows(state_dir),
                      _check_query(exp, ["event_type"], STATE_QS, STATE_ALPHA))

        def shape_op(shape: str) -> Op:
            if shape == "flag_status_lowest":
                qs = [0.25, 0.5, 0.75, 0.9, 0.95]
                cfg = SketchConfig(0.02, mode="collapse_lowest", bin_limit=BIN_LIMIT)
                by = ["l_returnflag", "l_linestatus"]
                return q(shape, lambda df: quantile_sketch(df, "l_extendedprice", by, qs, cfg),
                         "adhoc:l_returnflag,l_linestatus:l_extendedprice", by, qs, 0.02)
            if shape == "sqlpath_status":
                qs = [0.5, 0.99]
                return q(shape, lambda df: sql_quantile_sketch(df, "l_extendedprice", ["l_linestatus"],
                                                               qs, alpha=0.01),
                         "sqlpath_status", ["l_linestatus"], qs, 0.01, stats=False, layer="sqlpath")
            if shape == "rollup":
                qs = [0.5, 0.99]
                exp = self._rollup_expected(qs)
                return Op(shape, "query", "agg", li,
                          lambda df: quantile_sketch_rollup(df, "l_extendedprice", ROLLUP_BY, qs,
                                                            SketchConfig(0.01)),
                          li_rows, _check_query(exp, ROLLUP_BY, qs, 0.01))
            if shape == "dimjoin":
                qs = [0.5, 0.99]
                return q(shape, lambda df: quantile_sketch(df, "v", ["l_returnflag"], qs, SketchConfig(0.01)),
                         "dimjoin", ["l_returnflag"], qs, 0.01, source=lambda: self.dim_join(spark, self.mult))
            # adhoc: a fresh combination of grouping, column, quantiles, alpha and store mode
            by = ADHOC_BY[rng.integers(len(ADHOC_BY))]
            value = ADHOC_VALUES[rng.integers(len(ADHOC_VALUES))]
            qs = sorted(rng.choice(LI_QS_POOL, size=int(rng.integers(1, 4)), replace=False).tolist())
            alpha = [0.01, 0.02][rng.integers(2)]
            mode = ["dense", "collapse_lowest", "collapse_highest"][rng.integers(3)]
            cfg = SketchConfig(alpha, mode=mode, bin_limit=BIN_LIMIT if mode != "dense" else None)
            return q(shape, lambda df: quantile_sketch(df, value, by or None, qs, cfg),
                     f"adhoc:{','.join(by)}:{value}", by, qs, alpha)

        def seeded_cycles():
            while True:
                cycle = list(rng.permutation(CYCLE))
                if ingested == 0:
                    cycle.remove("ingest")
                    cycle.insert(0, "ingest")
                yield cycle

        for cycle in cycles or seeded_cycles():
            for shape in cycle:
                if shape == "ingest":
                    ingested += 1
                    yield ingest(ingested - 1)
                elif shape == "state":
                    yield state(ingested)
                else:
                    yield shape_op(shape)

    def dim_join(self, spark, mult):
        from pyspark.sql import functions as F

        dim = spark.createDataFrame(mult, "l_returnflag string, mult double")
        return (spark.read.parquet(self.lineitem).join(dim, "l_returnflag")
                .withColumn("v", F.col("l_extendedprice") * F.col("mult")))


def _parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def state_rows(state_dir: str) -> int:
    versions = sorted(d for d in os.listdir(state_dir) if d.startswith("v_"))
    return _parquet_rows(glob.glob(os.path.join(state_dir, versions[-1], "*.parquet")))


WORKLOADS = {
    "corpus_by_lang": lambda: BatchWorkload(
        "corpus_by_lang", "corpus", {"rows": 4_000_000, "groups": 9, "files": 8},
        "few Zipf-skewed groups: scan, key projection and the partial aggregate do the work; "
        "exchanges carry KBs",
        "content_length", ["lang"], 0.01),
    "kernel_wide_states": lambda: BatchWorkload(
        "kernel_wide_states", "wide_states",
        {"rows": 64_000, "groups": 32, "decades": 18, "files": 4},
        "kernel engine with ~2,000-bin states: every row crosses the Arrow boundary and 16 KB "
        "state rows cross back",
        "v", ["g"], 0.01, engine="kernel", settle_ops=1),
    "dashboard_ingest": lambda: DashboardWorkload(
        "dashboard_ingest",
        {"lineitem_rows": 60_000, "lineitem_files": 4, "events_rows": 48_000, "slices": 96},
        "sub-second ingest, state and ad-hoc queries: driver plan build, py4j, the plan memo, "
        "job scheduling and state writes dominate"),
}
