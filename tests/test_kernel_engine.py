"""The kernel engine's quantile path — Arrow/NumPy partial states exploded
into bucket cells (``_state_cells``) and finalized by the JVM cells
finalizer — must return what the cells engine returns, with one Python
stage in the plan."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ddspark.agg import (
    _state_cells,
    build_partials,
    finalize_quantiles,
    quantile_label,
    quantile_sketch,
    sketch_agg,
)
from ddspark.sketch import Sketch, SketchConfig
from ddspark.store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST

QS = [0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0]


@pytest.fixture(scope="module")
def mixed(spark):
    """Negatives, zeros, NULLs and NaNs across skewed groups, plus weights."""
    rng = np.random.default_rng(11)
    n = 12_000
    g = rng.choice(["a", "b", "c", "d"], size=n, p=[0.6, 0.25, 0.1, 0.05])
    v = rng.lognormal(3.0, 2.5, size=n)
    v[rng.random(n) < 0.2] *= -1
    v[rng.random(n) < 0.05] = 0.0
    v[rng.random(n) < 0.02] = np.nan
    w = rng.uniform(0.5, 3.0, size=n)
    pdf = pd.DataFrame({"g": g, "v": v, "w": w})
    df = spark.createDataFrame(pdf).repartition(6)
    # NULL values, distinct from NaN, in some rows of group "b"
    df = df.selectExpr("g", "CASE WHEN g = 'b' AND w > 2.8 THEN NULL ELSE v END AS v", "w")
    return df


def _both(df, by, cfg, weight_col=None):
    kern = quantile_sketch(df, "v", by, QS, cfg, weight_col, engine="kernel")
    cells = quantile_sketch(df, "v", by, QS, cfg, weight_col, engine="cells")
    assert kern.schema == cells.schema
    if by:
        return (
            kern.toPandas().set_index(by).sort_index(),
            cells.toPandas().set_index(by).sort_index(),
        )
    return kern.toPandas(), cells.toPandas()


def _assert_same(kern: pd.DataFrame, cells: pd.DataFrame, weighted: bool = False):
    """count/min/max exact (a weighted count is a float sum: summation order
    moves its last ulp), sum/avg/quantiles to 1e-12 relative."""
    assert list(kern.index) == list(cells.index)
    exact = ["min", "max"] if weighted else ["count", "min", "max"]
    for col in exact:
        assert kern[col].tolist() == cells[col].tolist(), col
    np.testing.assert_allclose(kern["count"], cells["count"], rtol=1e-12)
    np.testing.assert_allclose(kern["sum"], cells["sum"], rtol=1e-12)
    np.testing.assert_allclose(kern["avg"], cells["avg"], rtol=1e-12)
    q_cols = [quantile_label(q) for q in QS]
    np.testing.assert_allclose(kern[q_cols], cells[q_cols], rtol=1e-12, atol=0)


@pytest.mark.parametrize(
    "cfg",
    [
        SketchConfig(0.01),
        SketchConfig(0.05, mode=COLLAPSE_LOWEST, bin_limit=16),
        SketchConfig(0.05, mode=COLLAPSE_HIGHEST, bin_limit=16),
    ],
    ids=["dense", "collapse_lowest", "collapse_highest"],
)
def test_kernel_equals_cells(spark, mixed, cfg):
    kern, cells = _both(mixed, ["g"], cfg)
    _assert_same(kern, cells)
    # and the previous kernel path (Python merge + Python finalize)
    merged = finalize_quantiles(
        sketch_agg(mixed, "v", ["g"], cfg, engine="kernel"), QS, cfg, ["g"]
    ).toPandas().set_index("g").sort_index()
    _assert_same(kern, merged)
    if cfg.bin_limit:
        # the limit really folds buckets: some group spans more keys
        states = sketch_agg(mixed, "v", ["g"], SketchConfig(0.05), engine="kernel")
        widest = max(len(r["pos_bins"]) for r in states.collect())
        assert widest > cfg.bin_limit


def test_kernel_equals_cells_weighted(spark, mixed):
    kern, cells = _both(mixed, ["g"], SketchConfig(0.02), weight_col="w")
    _assert_same(kern, cells, weighted=True)


def test_kernel_equals_cells_global(spark, mixed):
    kern, cells = _both(mixed, None, SketchConfig(0.01))
    assert len(kern) == 1
    _assert_same(kern, cells)


@pytest.mark.parametrize("rows", [[], [(None,), (float("nan"),)]], ids=["empty", "all_null"])
def test_kernel_equals_cells_empty_global(spark, rows):
    df = spark.createDataFrame(rows, "v double")
    kern, cells = _both(df, None, SketchConfig(0.01))
    pd.testing.assert_frame_equal(kern, cells)
    assert len(kern) == 1 and kern["count"].isna().all()


def test_state_cells_explodes_bins(spark):
    cfg = SketchConfig(0.05)
    v = np.array([-40.0, -40.0, -3.0, 0.0, 0.0, 0.0, 2.0, 2.5, 900.0])
    pdf = pd.DataFrame({"g": ["x"] * 5 + ["y"] * 4, "v": v})
    partials = build_partials(spark.createDataFrame(pdf).repartition(2), "v", ["g"], cfg)
    states = partials.toPandas()
    cells = _state_cells(partials, ["g"], cfg).toPandas()
    assert list(cells.columns) == ["g", "_sgn", "_k", "_c", "_s", "_mn", "_mx"]
    # exactly one zero cell per state, carrying the exact stats
    zero = cells[cells["_sgn"] == 0]
    assert len(zero) == len(states)
    assert sorted(zero["_c"]) == sorted(states["zero_count"])
    assert sorted(zero["_s"]) == sorted(states["sum"])
    assert (zero["_k"] == 0).all()
    # bin cells: non-empty bins only, key = offset + i for both signs, no stats
    bins = cells[cells["_sgn"] != 0]
    assert (bins["_c"] > 0).all()
    assert bins[["_s", "_mn", "_mx"]].isna().all().all()
    want = []
    for st in states.to_dict("records"):
        sk = Sketch.from_state(cfg, st)
        pos, neg = sk.nonzero_bins()
        want += [(st["g"], 1, k, c) for k, c in pos.items()]
        want += [(st["g"], -1, k, c) for k, c in neg.items()]
    got = list(bins[["g", "_sgn", "_k", "_c"]].itertuples(index=False, name=None))
    assert sorted(got) == sorted(want)
    assert {s for _, s, _, _ in got} == {1, -1}


def test_state_cells_rejects_other_gamma(spark):
    df = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0]}))
    partials = build_partials(df, "v", [], SketchConfig(0.05))
    with pytest.raises(Exception, match="different parameters"):
        _state_cells(partials, [], SketchConfig(0.01)).collect()


def test_kernel_plan_has_one_python_stage(spark, mixed):
    res = quantile_sketch(mixed, "v", ["g"], [0.5], SketchConfig(0.01), engine="kernel")
    res.collect()
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]
    python_nodes = [
        line for line in plan.splitlines() if "InPandas" in line or "EvalPython" in line
    ]
    assert len(python_nodes) == 1, plan
    assert "MapInPandas" in python_nodes[0]
    assert "FlatMapGroupsInPandas" not in plan


@pytest.mark.parametrize("engine", ["cells", "kernel"])
@pytest.mark.parametrize("by", [["g"], None], ids=["grouped", "global"])
def test_keep_state_round_trips(spark, mixed, engine, by):
    cfg = SketchConfig(0.02)
    res = quantile_sketch(mixed, "v", by, [0.5, 0.99], cfg, keep_state=True, engine=engine)
    rows = res.collect()
    assert res.columns[-6:] == [
        "gamma", "zero_count", "pos_offset", "pos_bins", "neg_offset", "neg_bins"
    ]
    plain = quantile_sketch(mixed, "v", by, [0.5, 0.99], cfg, engine=engine).toPandas()
    assert len(rows) == len(plain)
    for row in rows:
        sk = Sketch.from_state(cfg, row.asDict())
        assert sk.count == row["count"] and sk.min == row["min"] and sk.max == row["max"]
        for q in [0.5, 0.99]:
            assert sk.quantile(q) == row[quantile_label(q)]
        want = plain if not by else plain[plain["g"] == row["g"]]
        np.testing.assert_allclose(
            row[quantile_label(0.99)], want[quantile_label(0.99)].iloc[0], rtol=1e-12
        )
