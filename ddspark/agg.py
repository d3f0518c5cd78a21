"""Distributed DDSketch aggregation on the Spark DataFrame API.

The reference's ``add``/``merge``/``get_quantile_value``
(``ddsketch/ddsketch.py:138-215``) map onto Spark's partial/final aggregation
split.  Both engines end in the same pure-JVM finalizer,
:func:`finalize_cells_sql`, which reads bucket cells
``by... | _sgn _k _c [_s _mn _mx]``; they differ in how the cells are made:

* **cells** (default) — :func:`build_cells`: bucket key and sign routing as
  Catalyst expressions, Spark's hash aggregation to ``(group, sgn, key)``
  cells.  No Python stage at all.
* **kernel** — :func:`build_partials`: ``mapInPandas`` over the scan; each
  task turns its Arrow batches into *one sketch row per (group,
  partition)* with tight NumPy kernels (``np.log2`` → ``np.bincount``).
  :func:`_state_cells` then explodes every state row into cells JVM-side.
  DDSketch is fully mergeable — merging adds bucket counts key by key — so
  the finalizer's per-group sum over cells IS the merge; the only Python
  stage is the partial one.

Merged state rows (``STATE_FIELDS``) come from :func:`sketch_agg`
(``assemble_cells`` or the associative :func:`merge_partials`) and feed
:func:`finalize_quantiles` when a caller asks for the state itself
(``quantile_sketch(..., keep_state=True)``).

The flagship entry point is :func:`quantile_sketch`.
"""

from __future__ import annotations

import pandas as pd
import numpy as np
from pyspark import TaskContext
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .sketch import Sketch, SketchConfig

__all__ = [
    "STATE_FIELDS",
    "STATE_COLS",
    "build_partials",
    "merge_partials",
    "build_cells",
    "assemble_cells",
    "sketch_agg",
    "finalize_cells",
    "finalize_cells_sql",
    "finalize_cells_vec",
    "finalize_quantiles",
    "quantile_sketch",
    "quantile_sketch_multi",
    "quantile_sketch_rollup",
    "quantile_sketch_rolling",
    "rolling_cells_quantiles",
    "quantile_sketch_collect",
    "sketch_to_driver",
    "quantile_label",
    "bucket_by_quantiles",
    "bucket_by_quantiles_grouped",
]

STATE_FIELDS = [
    StructField("gamma", DoubleType(), False),
    StructField("zero_count", DoubleType(), False),
    StructField("count", DoubleType(), False),
    StructField("sum", DoubleType(), False),
    StructField("min", DoubleType(), False),
    StructField("max", DoubleType(), False),
    StructField("pos_offset", LongType(), False),
    StructField("pos_bins", ArrayType(DoubleType(), False), False),
    StructField("neg_offset", LongType(), False),
    StructField("neg_bins", ArrayType(DoubleType(), False), False),
]
STATE_COLS = [f.name for f in STATE_FIELDS]


def _by_fields(df: DataFrame, by: list[str]) -> list[StructField]:
    by_set = set(by)
    fields = {f.name: f for f in df.schema.fields if f.name in by_set}
    return [StructField(c, fields[c].dataType, True) for c in by]


def _state_dict(sketch: Sketch) -> dict:
    row = sketch.to_state()
    row["pos_bins"] = row["pos_bins"].tolist()
    row["neg_bins"] = row["neg_bins"].tolist()
    return row


def build_partials(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Map-side combine: one sketch row per (group, input partition).

    Output schema: ``by... | gamma zero_count count sum min max pos_offset
    pos_bins neg_offset neg_bins | rows | _pid``.  ``rows`` (values observed)
    and ``_pid`` (task partition id) are the per-partition lineage the
    checkpoint/resume layer keys on.  Null values are skipped (SQL aggregate
    semantics; the reference API has no notion of null).
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()
    cols = by + [value_col] + ([weight_col] if weight_col else [])
    narrow = df.select(*cols)
    schema = StructType(
        _by_fields(df, by)
        + STATE_FIELDS
        + [StructField("rows", LongType(), False), StructField("_pid", IntegerType(), False)]
    )

    def gen(batches):
        groups: dict[tuple, list[Sketch]] = {}
        rows: dict[tuple, int] = {}
        for pdf in batches:
            mask = pdf[value_col].notna()
            if weight_col:
                mask &= pdf[weight_col].notna()
            if not mask.all():
                pdf = pdf[mask]
            if len(pdf) == 0:
                continue
            if by:
                grouped = pdf.groupby(by, sort=False, dropna=False)
            else:
                grouped = [((), pdf)]
            for key, g in grouped:
                if not isinstance(key, tuple):
                    key = (key,)
                v = g[value_col].to_numpy(np.float64)
                w = g[weight_col].to_numpy(np.float64) if weight_col else None
                groups.setdefault(key, []).append(Sketch.from_values(v, cfg, w))
                rows[key] = rows.get(key, 0) + len(g)
        pid = TaskContext.get().partitionId()
        out = []
        for key, sketches in groups.items():
            merged = Sketch.merge_all(sketches)
            rec = dict(zip(by, key))
            rec.update(_state_dict(merged))
            rec["rows"] = rows[key]
            rec["_pid"] = pid
            out.append(rec)
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return narrow.mapInPandas(gen, schema)


def _merge_fn(by: list[str], cfg: SketchConfig):
    out_cols = by + STATE_COLS + ["rows", "n_partials"]

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        gammas = pdf["gamma"].to_numpy()
        if not np.all(gammas == cfg.gamma):
            raise ValueError(
                "Cannot merge DDSketches with different parameters: "
                f"{cfg.gamma!r} vs {set(gammas.tolist())!r}"
            )
        sketches = [
            Sketch.from_state(cfg, rec)
            for rec in pdf[STATE_COLS].to_dict("records")
        ]
        merged = Sketch.merge_all(sketches)
        rec = {c: pdf[c].iloc[0] for c in by}
        rec.update(_state_dict(merged))
        rec["rows"] = int(pdf["rows"].sum())
        rec["n_partials"] = (
            int(pdf["n_partials"].sum()) if "n_partials" in pdf.columns else len(pdf)
        )
        return pd.DataFrame([rec], columns=out_cols)

    return merge


def merge_partials(
    partials: DataFrame,
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
    fanin: int | None = None,
) -> DataFrame:
    """Associative final merge of partial sketch rows.

    With ``fanin`` set, a first tree level merges each group's partials in
    ``fanin`` buckets (keyed on the originating partition id) before the
    final single-row merge — bounding reducer fan-in at very large partition
    counts (the ``treeReduce`` pattern expressed on DataFrames).
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()
    schema = StructType(
        _by_fields(partials, by)
        + STATE_FIELDS
        + [
            StructField("rows", LongType(), False),
            StructField("n_partials", LongType(), False),
        ]
    )
    df = partials
    if fanin is not None and fanin > 1:
        salt = F.pmod(F.col("_pid"), F.lit(fanin)).alias("_salt")
        df = df.withColumn("_salt", salt)
        stage_schema = StructType(schema.fields + [StructField("_salt", IntegerType())])

        def merge_stage(key, pdf):
            out = _merge_fn(by, cfg)(pdf)
            out["_salt"] = key[-1]
            return out

        df = df.groupBy(*(by + ["_salt"])).applyInPandas(merge_stage, stage_schema)
        df = df.drop("_salt")
    if by:
        return df.groupBy(*by).applyInPandas(_merge_fn(by, cfg), schema)
    # global sketch: single group; partials are tiny (one row per partition)
    return (
        df.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(lambda pdf: _merge_fn([], cfg)(pdf), schema)
    )


def _state_cells(
    states: DataFrame, by: list[str] | None = None, cfg: SketchConfig | None = None
) -> DataFrame:
    """Explode sketch-state rows (partial or merged) into bucket cells
    ``by... | _sgn _k _c _s _mn _mx``, JVM-side — the input of
    :func:`finalize_cells_sql`.

    Each state row gives one zero cell carrying ``zero_count`` and the exact
    stats, plus one cell per non-empty bin (key ``offset + i``, NULL stats).
    No re-aggregation: the finalizer treats equal keys as one block (they
    are adjacent in its window order and share one value), and a zero cell
    with ``_c = 0`` is never the first bucket whose running count passes
    the rank.  A state built with another ``gamma`` than ``cfg``'s fails
    the query, as :func:`merge_partials` does.
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()

    def build():
        null = F.lit(None).cast("double")

        def bins(sgn: int, off: str, arr: str):
            cells = F.transform(
                F.col(arr),
                lambda c, i: F.struct(
                    F.lit(sgn).alias("_sgn"),
                    (F.col(off) + i).alias("_k"),
                    c.alias("_c"),
                    null.alias("_s"),
                    null.alias("_mn"),
                    null.alias("_mx"),
                ),
            )
            return F.filter(cells, lambda cell: cell["_c"] > 0)

        msg = f"Cannot merge DDSketches with different parameters: {cfg.gamma!r} vs "
        zero_count = F.when(F.col("gamma") == cfg.gamma, F.col("zero_count")).otherwise(
            F.raise_error(F.concat(F.lit(msg), F.col("gamma").cast("string")))
        )
        zero = F.struct(
            F.lit(0).alias("_sgn"),
            F.lit(0).cast("long").alias("_k"),
            zero_count.alias("_c"),
            F.col("sum").alias("_s"),
            F.col("min").alias("_mn"),
            F.col("max").alias("_mx"),
        )
        return F.inline(
            F.concat(
                F.array(zero),
                bins(1, "pos_offset", "pos_bins"),
                bins(-1, "neg_offset", "neg_bins"),
            )
        )

    return states.select(*by, _cached_cols(("state_cells", cfg.gamma), build))


_COLUMN_CACHE: dict[tuple, object] = {}


def _cached_cols(key: tuple, build):
    """Memoize unresolved Column/Window objects.

    Building a quantile-sketch plan costs ~1,100 py4j round trips
    (~0.35 s of driver latency per invocation, measured) — almost all of
    it constructing the SAME immutable expression trees again.  Unresolved
    Columns reference columns by NAME only, so an expression built once is
    reusable against any DataFrame with those names; nothing here caches
    data or results — every query still scans its inputs.
    """
    cols = _COLUMN_CACHE.get(key)
    if cols is None:
        cols = build()
        # bound the cache: a long-lived driver sweeping many distinct
        # (column, by, qs) combinations must not pin unbounded py4j
        # expression handles — FIFO-evict the oldest beyond 256 entries
        if len(_COLUMN_CACHE) >= 256:
            _COLUMN_CACHE.pop(next(iter(_COLUMN_CACHE)))
        _COLUMN_CACHE[key] = cols
    return cols


def _mapping_key(cfg: SketchConfig) -> tuple:
    return (cfg.mapping, cfg.relative_accuracy, cfg.offset)


def keyed_projection(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """The shared JVM-side projection of the cells engine:
    ``extra... by... _v _w _sgn _k`` with NULL/NaN rows dropped.

    Single source of truth for the sign-routing and bucket-key Catalyst
    expressions (offset included) — batch and streaming both build on it.
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()

    def build():
        mapping = cfg.key_mapping
        mp = mapping.min_possible
        v = F.col(value_col)
        cond = v.isNotNull() & ~F.isnan(v.cast("double"))
        sgn = (
            F.when(v > F.lit(mp), F.lit(1))
            .when(v < F.lit(-mp), F.lit(-1))
            .otherwise(F.lit(0))
        )
        k = (
            F.when(sgn == 1, mapping.key_expr(v))
            .when(sgn == -1, mapping.key_expr(-v))
            .otherwise(F.lit(0))
            .alias("_k")
        )
        return cond, v.alias("_v"), sgn.alias("_sgn"), k

    cond, v_col, sgn_col, k_col = _cached_cols(
        ("proj", _mapping_key(cfg), value_col), build
    )
    df = df.where(cond)
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    if weight_col:
        w0 = F.col(weight_col)
        df = df.where(w0.isNotNull())
        # fail fast on non-positive weights, matching the kernel engine and
        # the reference's ValueError (ddsketch/ddsketch.py:141-142)
        w = F.when(w0 > 0, w0).otherwise(
            F.raise_error(
                F.concat(F.lit("weight must be positive, got "), w0.cast("string"))
            )
        )
    return df.select(
        *(extra_cols or []),
        *by,
        v_col,
        w.cast("double").alias("_w"),
        sgn_col,
        k_col,
    )


def build_cells(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
    stats: bool = True,
) -> DataFrame:
    """JVM-side partial aggregation: ``(by..., sgn, k) -> (c, s, mn, mx, rc)``.

    The bucket key ``ceil(log2(v) * multiplier)`` (reference
    ``mapping.py:75-83,107-109``) and the sign/zero routing (reference
    ``ddsketch.py:144-149``) are plain Catalyst expressions, so the heavy
    per-row work runs inside whole-stage codegen with Spark's own map-side
    combine — the shuffle carries only ``groups x live-buckets`` cells, and
    no raw row ever crosses the Python boundary.  All three mappings have
    pure-column key forms (the interpolated ones via the corrected-frexp
    expression, ``KeyMapping.key_expr``).

    ``stats=False`` drops the exact-stat accumulators (``_s``/``_mn``/
    ``_mx``) from every cell — for quantiles-only workloads this narrows
    the partial aggregation and the shuffle by ~half, which matters when
    group cardinality makes the cell table rows-sized.
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()
    keyed = keyed_projection(df, value_col, by, cfg, weight_col)

    def build():
        if weight_col:
            aggs = [F.sum("_w").alias("_c")]
            if stats:
                aggs += [
                    F.sum(F.col("_v") * F.col("_w")).alias("_s"),
                    F.min("_v").alias("_mn"),
                    F.max("_v").alias("_mx"),
                ]
            aggs.append(F.count(F.lit(1)).alias("_rc"))
        else:
            # unweighted: _c == row count exactly (sum of literal 1.0s), so
            # use the cheaper count accumulator, drop the _v * 1.0 multiply,
            # and let Catalyst dedup the two count(1) aggregates —
            # bit-identical cells with two fewer double accumulators in the
            # partial aggregation
            aggs = [F.count(F.lit(1)).cast("double").alias("_c")]
            if stats:
                aggs += [
                    # cast keeps _s DOUBLE for integer value columns, exactly
                    # as the old sum(_v * 1.0) promoted it — same values, same
                    # order, bit-identical sums
                    F.sum(F.col("_v").cast("double")).alias("_s"),
                    F.min("_v").alias("_mn"),
                    F.max("_v").alias("_mx"),
                ]
            aggs.append(F.count(F.lit(1)).alias("_rc"))
        return tuple(aggs)

    aggs = _cached_cols(("cells_aggs", bool(weight_col), stats), build)
    return keyed.groupBy(*by, "_sgn", "_k").agg(*aggs)


def assemble_cells(
    cells: DataFrame, by: list[str] | None = None, cfg: SketchConfig | None = None
) -> DataFrame:
    """Assemble per-group sketch state rows from bucket cells (tiny input)."""
    by = list(by or [])
    cfg = cfg or SketchConfig()
    schema = StructType(
        _by_fields(cells, by)
        + STATE_FIELDS
        + [
            StructField("rows", LongType(), False),
            StructField("n_partials", LongType(), False),
        ]
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _sketch_from_cells(pdf, cfg)
        rec = {col: pdf[col].iloc[0] for col in by}
        rec.update(_state_dict(sk))
        rec["rows"] = int(pdf["_rc"].sum())
        rec["n_partials"] = len(pdf)
        return pd.DataFrame([rec], columns=[f.name for f in schema.fields])

    if by:
        return cells.groupBy(*by).applyInPandas(assemble, schema)
    return (
        cells.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(lambda pdf: assemble(pdf.drop(columns=["_g"])), schema)
    )


def _sketch_from_cells(pdf: pd.DataFrame, cfg: SketchConfig) -> Sketch:
    from .store import bins_from_keys

    sgn = pdf["_sgn"].to_numpy()
    k = pdf["_k"].to_numpy(np.int64)
    c = pdf["_c"].to_numpy(np.float64)
    return Sketch(
        cfg=cfg,
        zero_count=float(c[sgn == 0].sum()),
        count=float(c.sum()),
        sum=float(pdf["_s"].to_numpy(np.float64).sum()),
        min=float(pdf["_mn"].min()),
        max=float(pdf["_mx"].max()),
        pos=bins_from_keys(k[sgn == 1], c[sgn == 1], cfg.mode, cfg.bin_limit),
        neg=bins_from_keys(k[sgn == -1], c[sgn == -1], cfg.mode, cfg.bin_limit),
    )


def finalize_cells(
    cells: DataFrame,
    qs: list[float],
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
) -> DataFrame:
    """Fused assemble+finalize: one Python stage from bucket cells straight to
    ``by... | count sum min max avg | p...`` — the fewest stage barriers the
    cells engine can have."""
    by = list(by or [])
    cfg = cfg or SketchConfig()
    q_cols = [quantile_label(q) for q in qs]
    schema = StructType(
        _by_fields(cells, by)
        + [
            StructField("count", DoubleType()),
            StructField("sum", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
            StructField("avg", DoubleType()),
        ]
        + [StructField(c, DoubleType()) for c in q_cols]
    )

    def fin(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _sketch_from_cells(pdf, cfg)
        rec = {col: pdf[col].iloc[0] for col in by}
        rec.update(
            count=sk.count, sum=sk.sum, min=sk.min, max=sk.max,
            avg=sk.avg if sk.count else None,
        )
        for q, c in zip(qs, q_cols):
            rec[c] = sk.quantile(q)
        return pd.DataFrame([rec], columns=[f.name for f in schema.fields])

    if by:
        return cells.groupBy(*by).applyInPandas(fin, schema)
    return (
        cells.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(lambda pdf: fin(pdf.drop(columns=["_g"])), schema)
    )


def finalize_cells_vec(
    cells: DataFrame,
    qs: list[float],
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
) -> DataFrame:
    """Vectorized many-group finalizer: same output as :func:`finalize_cells`
    but one NumPy pass per *partition* instead of one Python call per
    *group* — the difference between O(groups) interpreter overhead and
    O(cells) array math.  At 10^6 groups the per-group ``applyInPandas``
    dispatch dominates the job; this path keeps wide-group rollups linear in
    the cell count.

    Groups are co-located with a hash repartition on the keys, then each
    partition's cells are processed as flat arrays: segment boundaries via
    ``groupby().ngroup()``, per-(group, sign) running counts via offset
    cumsums, and the reference's three-branch rank walk
    (``ddsketch/ddsketch.py:159-184``: negative reversed-rank ``lower=False``,
    zero, positive) via ``minimum.reduceat`` first-hit scans.  Dense mode
    only (collapsing clamps are per-store state — those groups use
    :func:`finalize_cells`).
    """
    from .store import DENSE

    by = list(by or [])
    cfg = cfg or SketchConfig()
    if cfg.mode != DENSE:
        raise ValueError("finalize_cells_vec supports dense mode only")
    mapping = cfg.key_mapping
    q_list = [float(q) for q in qs]
    q_cols = [quantile_label(q) for q in q_list]
    # lean cells (build_cells(..., stats=False)) carry no _s/_mn/_mx —
    # emit count + quantiles only, mirroring finalize_cells_sql's branch
    has_stats = "_s" in cells.columns
    stat_fields = (
        [
            StructField("count", DoubleType()),
            StructField("sum", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
            StructField("avg", DoubleType()),
        ]
        if has_stats
        else [StructField("count", DoubleType())]
    )
    schema = StructType(
        _by_fields(cells, by)
        + stat_fields
        + [StructField(c, DoubleType()) for c in q_cols]
    )
    out_cols = [f.name for f in schema.fields]

    def fin(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        n = len(pdf)
        if n == 0:
            return
        if by:
            gid = pdf.groupby(by, sort=False, dropna=False).ngroup().to_numpy()
        else:
            gid = np.zeros(n, dtype=np.int64)
        sgn = pdf["_sgn"].to_numpy(np.int64)
        k = pdf["_k"].to_numpy(np.int64)
        c = pdf["_c"].to_numpy(np.float64)
        order = np.lexsort((k, sgn, gid))
        gid, sgn, k, c = gid[order], sgn[order], k[order], c[order]
        if has_stats:
            s = pdf["_s"].to_numpy(np.float64)[order]
            mn = pdf["_mn"].to_numpy(np.float64)[order]
            mx = pdf["_mx"].to_numpy(np.float64)[order]

        g_start = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
        n_groups = len(g_start)
        g_of_row = np.repeat(np.arange(n_groups), np.diff(np.r_[g_start, n]))
        count = np.add.reduceat(c, g_start)
        if has_stats:
            total_sum = np.add.reduceat(s, g_start)
            g_min = np.minimum.reduceat(mn, g_start)
            g_max = np.maximum.reduceat(mx, g_start)
        neg_count = np.bincount(g_of_row, weights=c * (sgn == -1), minlength=n_groups)
        zero_count = np.bincount(g_of_row, weights=c * (sgn == 0), minlength=n_groups)

        # running count within each (group, sign) segment
        seg_new = np.r_[True, (gid[1:] != gid[:-1]) | (sgn[1:] != sgn[:-1])]
        seg_start = np.flatnonzero(seg_new)
        cum_all = np.cumsum(c)
        seg_base = np.repeat(
            np.r_[0.0, cum_all[seg_start[1:] - 1]], np.diff(np.r_[seg_start, n])
        )
        cum = cum_all - seg_base

        idx = np.arange(n)
        BIG = n  # sentinel larger than any row index
        is_neg = sgn == -1
        is_pos = sgn == 1
        # last row index of each group's neg/pos segment (fallback = max_key)
        last_neg = np.full(n_groups, -1, dtype=np.int64)
        np.maximum.at(last_neg, g_of_row[is_neg], idx[is_neg])
        last_pos = np.full(n_groups, -1, dtype=np.int64)
        np.maximum.at(last_pos, g_of_row[is_pos], idx[is_pos])

        rec = {}
        if by:
            for col in by:
                rec[col] = pdf[col].to_numpy()[order][g_start]
        rec["count"] = count
        if has_stats:
            rec["sum"] = total_sum
            rec["min"] = g_min
            rec["max"] = g_max
            rec["avg"] = np.where(
                count > 0, total_sum / np.where(count > 0, count, 1.0), np.nan
            )

        for q, q_col in zip(q_list, q_cols):
            rank = q * (count - 1.0)
            rank_row = rank[g_of_row]
            # negative branch: first neg row with cum >= neg_count - rank
            neg_target = (neg_count - rank)[g_of_row]
            hit = np.where(is_neg & (cum >= neg_target), idx, BIG)
            first_neg = np.full(n_groups, BIG, dtype=np.int64)
            np.minimum.at(first_neg, g_of_row[is_neg], hit[is_neg])
            neg_idx = np.where(first_neg == BIG, last_neg, first_neg)
            # positive branch: first pos row with cum > rank - zero - neg
            pos_target = rank_row - (zero_count + neg_count)[g_of_row]
            hit = np.where(is_pos & (cum > pos_target), idx, BIG)
            first_pos = np.full(n_groups, BIG, dtype=np.int64)
            np.minimum.at(first_pos, g_of_row[is_pos], hit[is_pos])
            pos_idx = np.where(first_pos == BIG, last_pos, first_pos)

            use_neg = rank < neg_count
            use_zero = ~use_neg & (rank < zero_count + neg_count)
            key_idx = np.where(use_neg, neg_idx, pos_idx)
            safe_idx = np.clip(key_idx, 0, n - 1)
            vals = mapping.value_vec(k[safe_idx])
            out = np.where(use_neg, -vals, vals)
            out = np.where(use_zero, 0.0, out)
            rec[q_col] = out
        yield pd.DataFrame(rec, columns=out_cols)

    if by:
        part = cells.repartition(*by)
    else:
        part = cells.coalesce(1)
    return part.mapInPandas(fin, schema)


def finalize_cells_sql(
    cells: DataFrame,
    qs: list[float],
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
) -> DataFrame:
    """Pure-JVM finalizer: quantiles + exact stats from bucket cells with no
    Python stage at all — the scale path for high group cardinality (at 10^6
    groups it measures ~10x the Arrow/NumPy finalizer, because nothing
    crosses the JVM boundary).

    Correctness rests on an ordering identity with the reference's
    three-branch rank walk (``ddsketch/ddsketch.py:159-184``): order a
    group's cells by ``(sgn ASC, sgn*k ASC)`` — i.e. ascending representative
    value: negatives by key descending, then the zero bucket, then positives
    by key ascending — and the reference's answer for every branch is the
    *first bucket whose running count exceeds rank = q*(count-1)*.  For the
    positive branch that is literally ``key_at_rank`` (first ``cum > rank``);
    for the zero branch the zero bucket is the first whose running count
    ``neg+zero`` exceeds ``rank`` iff ``neg <= rank < neg+zero``; for the
    negative branch the reference's reversed-rank ``lower=False`` scan
    (first key-ascending bucket with ``cum_asc >= neg - rank``) picks exactly
    the last value-descending bucket with ``run_before <= rank``, which is
    the first value-*ascending* bucket with ``run > rank`` (proved by
    ``cum_asc(B) = neg - run(B) + c_B``; property-tested against
    ``Sketch.quantile`` in ``tests/test_cells_engine.py``).  Since the
    representative value is monotone along this order, ``MIN(value) over
    qualifying buckets`` selects that first bucket — one window + one
    conditional aggregate per quantile.

    Collapsing modes clamp keys per ``(group, sign)`` against the store
    window first (the clamped-counter semantics of reference
    ``store.py:262-504``), exactly as ``bins_from_keys`` does per store.
    Works for every mapping (``KeyMapping.value_expr`` is the Catalyst twin
    of the NumPy inverse).
    """
    from .store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST

    by = list(by or [])
    cfg = cfg or SketchConfig()

    has_stats = "_s" in cells.columns
    df = cells

    def build():
        mapping = cfg.key_mapping
        part = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(0))
        clamp_col = None
        if cfg.mode in (COLLAPSE_LOWEST, COLLAPSE_HIGHEST) and cfg.bin_limit:
            # Clamp bounds come from per-sign conditional extremes over the
            # SAME window partition as the cumulative pass below (``by``, not
            # ``by + _sgn``), so the whole finalize costs ONE exchange
            # instead of two — the clamp is then just a local column
            # expression before the partition-local sort.  Rows whose keys
            # collapse onto the same clamped key are NOT re-aggregated: the
            # rank walk crosses ``rank`` at block granularity (equal clamped
            # keys are adjacent in the sort and share one representative
            # value), so duplicate keys change nothing, and
            # count/sum/min/max are key-independent.
            def bound(sgn: int):
                ext = F.max if cfg.mode == COLLAPSE_LOWEST else F.min
                e = ext(F.when(F.col("_sgn") == sgn, F.col("_k"))).over(part)
                off = F.lit(cfg.bin_limit - 1)
                return (e - off) if cfg.mode == COLLAPSE_LOWEST else (e + off)

            lim = F.when(F.col("_sgn") == 1, bound(1)).otherwise(bound(-1))
            clamp = F.greatest if cfg.mode == COLLAPSE_LOWEST else F.least
            clamp_col = F.when(F.col("_sgn") == 0, F.col("_k")).otherwise(
                clamp(F.col("_k"), lim)
            )

        w_cum = part.orderBy(
            F.col("_sgn").asc(), (F.col("_sgn") * F.col("_k")).asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        run_col = F.sum("_c").over(w_cum)
        n_col = F.sum("_c").over(part)
        val = F.when(F.col("_sgn") == 0, F.lit(0.0)).otherwise(
            F.col("_sgn").cast("double") * mapping.value_expr(F.col("_k"))
        )
        aggs = [F.sum("_c").alias("count")]
        if has_stats:
            aggs += [
                F.sum("_s").alias("sum"),
                F.min("_mn").alias("min"),
                F.max("_mx").alias("max"),
                (F.sum("_s") / F.sum("_c")).alias("avg"),
            ]
        for q in qs:
            rank = F.lit(float(q)) * (F.col("n") - 1)
            aggs.append(
                F.min(F.when(F.col("run") > rank, val)).alias(quantile_label(q))
            )
        return clamp_col, run_col, n_col, tuple(aggs)

    clamp_col, run_col, n_col, aggs = _cached_cols(
        (
            "fin",
            _mapping_key(cfg),
            cfg.mode,
            cfg.bin_limit,
            tuple(by),
            tuple(float(q) for q in qs),
            has_stats,
        ),
        build,
    )
    if clamp_col is not None:
        df = df.withColumn("_k", clamp_col)
    # one withColumns call: each DataFrame op costs a full eager re-analysis
    # of the (growing) plan JVM-side — fusing the two projections halves it
    cum = df.withColumns({"run": run_col, "n": n_col})
    grouped = cum.groupBy(*by) if by else cum.groupBy()
    return grouped.agg(*aggs)


def _reaggregate_cells(cells: DataFrame, lvl_by: list[str]) -> DataFrame:
    """Coarsen bucket cells to a smaller grouping level (cells are tiny, so
    every additional rollup level costs one micro-aggregation, not a scan)."""
    return cells.groupBy(*lvl_by, "_sgn", "_k").agg(
        F.sum("_c").alias("_c"),
        F.sum("_s").alias("_s"),
        F.min("_mn").alias("_mn"),
        F.max("_mx").alias("_mx"),
        F.sum("_rc").alias("_rc"),
    )


def quantile_sketch_rollup(
    df: DataFrame,
    value_col: str,
    by: list[str],
    qs: list[float] = (0.5, 0.95, 0.99),
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
    grouping_sets: list[list[str]] | None = None,
) -> DataFrame:
    """ROLLUP/CUBE-style sketching: one scan builds the finest-grained cells,
    every coarser level re-aggregates those cells (KBs) — the sketch monoid
    makes super-aggregates free.

    Default levels are the ROLLUP prefixes of ``by`` (including the grand
    total); pass ``grouping_sets`` for CUBE or custom sets.  Aggregated-away
    columns are NULL, as in SQL ROLLUP.
    """
    by = list(by)
    cfg = cfg or SketchConfig()
    if grouping_sets is None:
        grouping_sets = [by[:i] for i in range(len(by), -1, -1)]
    cells = build_cells(df, value_col, by, cfg, weight_col)
    by_types = {f.name: f.dataType for f in df.schema.fields if f.name in by}
    out = None
    for lvl in grouping_sets:
        lvl_cells = _reaggregate_cells(cells, lvl)
        fin = finalize_cells_sql(lvl_cells, list(qs), lvl, cfg)
        for col in by:
            if col not in lvl:
                fin = fin.withColumn(col, F.lit(None).cast(by_types[col]))
        fin = fin.select(
            *by, *[c for c in fin.columns if c not in by]
        )
        out = fin if out is None else out.unionByName(fin)
    return out


def quantile_sketch_rolling(
    df: DataFrame,
    value_col: str,
    time_col: str,
    by: list[str],
    window_days: int = 7,
    qs: list[float] = (0.5, 0.95, 0.99),
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Trailing-window quantiles per day — rolling p95 without rescanning
    the window: for every ``(by, day)`` present in the data, the quantiles
    of ``value_col`` over days ``[day - window_days + 1, day]``.

    The sketch monoid makes this one scan: build per-``(by, day)`` bucket
    cells once, EXPLODE each day's cells to the ``window_days`` trailing
    windows it belongs to, and re-aggregate — a raw-row implementation
    reads every row ``window_days`` times (or sorts per key); here the
    replication factor applies to CELLS (KBs per group-day), so the
    shuffle carries ``groups × days × window × live-buckets`` cell rows
    regardless of data volume.  Window ends are restricted to days
    actually present for the group (one cell-sized left-semi join).

    Output: ``by... | window_end DATE | count sum min max avg | p...``.
    """
    by = list(by)
    cfg = cfg or SketchConfig()
    epoch = F.to_date(F.lit("1970-01-01"))
    base = df.withColumn(
        "_day", F.datediff(F.col(time_col).cast("date"), epoch)
    )
    cells = build_cells(base, value_col, by + ["_day"], cfg, weight_col)
    return rolling_cells_quantiles(cells, by, window_days, qs, cfg)


def rolling_cells_quantiles(
    cells: DataFrame,
    by: list[str],
    window_days: int = 7,
    qs: list[float] = (0.5, 0.95, 0.99),
    cfg: SketchConfig | None = None,
    day_col: str = "_day",
) -> DataFrame:
    """The cell-side half of :func:`quantile_sketch_rolling`: trailing-
    window quantiles from EXISTING per-``(by, day)`` bucket cells.

    This is what makes rolling dashboards incremental: point
    ``streaming.incremental_cells_sink`` at ``by + ["_day"]`` (the day
    derived from event time) and the durable state IS the input here —
    each refresh re-aggregates KB-sized cells instead of any raw
    history.  ``day_col`` holds integer days since 1970-01-01.
    """
    by = list(by)
    cfg = cfg or SketchConfig()
    epoch = F.to_date(F.lit("1970-01-01"))
    if day_col != "_day":
        cells = cells.withColumnRenamed(day_col, "_day")
    tgt = cells.withColumn(
        "_tday",
        F.explode(
            F.sequence(F.col("_day"), F.col("_day") + int(window_days) - 1)
        ),
    ).withColumn("_base", F.col("_tday") == F.col("_day")).drop("_day")
    # Restrict window ends to days actually present for the group WITHOUT
    # re-deriving them from a second scan or a self-join on the cells
    # branch (either doubles the FileScan): each exploded cell remembers
    # whether it IS its own window end (`_base`), and a window-max over
    # (by, window_end) keeps exactly the groups where some cell is.  The
    # window partitions by the same keys finalize's windows use, so the
    # sort/exchange is shared — net cost ~zero.
    roll = tgt.groupBy(*by, "_tday", "_sgn", "_k").agg(
        F.sum("_c").alias("_c"),
        F.sum("_s").alias("_s"),
        F.min("_mn").alias("_mn"),
        F.max("_mx").alias("_mx"),
        F.sum("_rc").alias("_rc"),
        F.max("_base").alias("_b"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy(*by, "_tday")
    roll = (
        roll.withColumn("_present", F.max("_b").over(w))
        .where(F.col("_present"))
        .drop("_b", "_present")
    )
    fin = finalize_cells_sql(roll, list(qs), by + ["_tday"], cfg)
    return fin.withColumn(
        "window_end", F.date_add(epoch, F.col("_tday").cast("int"))
    ).drop("_tday").select(
        *by, "window_end",
        *[c for c in fin.columns if c not in by + ["_tday"]],
    )


def quantile_sketch_collect(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
) -> pd.DataFrame:
    """Driver-finalized flagship: one distributed job (scan + cell agg),
    then local assembly of the collected cells.

    The collected data is ``groups x live-buckets`` rows (KBs per group), so
    for bounded group cardinality this shape has the fewest stages possible —
    use :func:`quantile_sketch` when groups can number in the millions.
    Returns a pandas DataFrame: ``by... | count sum min max avg | p...``.
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()
    cells = build_cells(df, value_col, by, cfg, weight_col).toPandas()
    q_cols = [quantile_label(q) for q in qs]
    out = []
    groups = cells.groupby(by, sort=False, dropna=False) if by else [((), cells)]
    for key, g in groups:
        if not isinstance(key, tuple):
            key = (key,)
        sk = _sketch_from_cells(g, cfg)
        rec = dict(zip(by, key))
        rec.update(
            count=sk.count, sum=sk.sum, min=sk.min, max=sk.max,
            avg=sk.avg if sk.count else None,
        )
        for q, c in zip(qs, q_cols):
            rec[c] = sk.quantile(q)
        out.append(rec)
    columns = by + ["count", "sum", "min", "max", "avg"] + q_cols
    return pd.DataFrame(out, columns=columns)


def quantile_label(q: float) -> str:
    """0.5 -> p50, 0.99 -> p99, 0.999 -> p99_9, 1.0 -> p100."""
    s = f"{q * 100:g}".replace(".", "_")
    return f"p{s}"


def finalize_quantiles(
    merged: DataFrame,
    qs: list[float],
    cfg: SketchConfig | None = None,
    by: list[str] | None = None,
    keep_state: bool = False,
) -> DataFrame:
    """Quantile extraction + exact stats from merged sketch rows.

    Output: ``by... | count sum min max avg | p50 p95 ... [| state...]``;
    ``keep_state`` appends the state fields not already among the stats, so
    each output row round-trips through :meth:`Sketch.from_state`.
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()
    q_cols = [quantile_label(q) for q in qs]
    fields = (
        _by_fields(merged, by)
        + [
            StructField("count", DoubleType()),
            StructField("sum", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
            StructField("avg", DoubleType()),
        ]
        + [StructField(c, DoubleType()) for c in q_cols]
    )
    if keep_state:
        names = {f.name for f in fields}
        fields += [f for f in STATE_FIELDS if f.name not in names]
    schema = StructType(fields)

    def fin(batches):
        for pdf in batches:
            out = []
            for rec in pdf.to_dict("records"):
                sk = Sketch.from_state(cfg, rec)
                row = {c: rec[c] for c in by}
                row.update(
                    count=sk.count,
                    sum=sk.sum,
                    min=sk.min,
                    max=sk.max,
                    avg=sk.avg if sk.count else None,
                )
                for q, c in zip(qs, q_cols):
                    row[c] = sk.quantile(q)
                if keep_state:
                    row.update(_state_dict(sk))
                out.append(row)
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return merged.mapInPandas(fin, schema)


def sketch_agg(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
    fanin: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Merged sketch-state rows per group.

    Engines:

    * ``cells`` (default for the logarithmic mapping) — bucket keys and the
      heavy aggregation run entirely JVM-side (whole-stage codegen, map-side
      combine); Python assembles one state row per group from its bucket
      cells.  Fastest and most scalable: no raw row crosses the JVM/Python
      boundary.
    * ``kernel`` — Arrow-batch NumPy kernels per partition (mapInPandas) +
      associative applyInPandas merge.  The independent Arrow cross-check of
      the cells engine; its per-partition partials carry the lineage
      checkpointing keys on.
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()
    if engine == "auto":
        # every mapping now has Catalyst key/value forms, so the JVM cells
        # engine is always the default; "kernel" remains for lineage/
        # checkpoint workflows and as the independent Arrow cross-check
        engine = "cells"
    if engine == "cells":
        return assemble_cells(build_cells(df, value_col, by, cfg, weight_col), by, cfg)
    partials = build_partials(df, value_col, by, cfg, weight_col)
    return merge_partials(partials, by, cfg, fanin=fanin)


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
    keep_state: bool = False,
    engine: str = "auto",
    exact_stats: bool = True,
) -> DataFrame:
    """Flagship API: grouped (or global) quantile sketch over a DataFrame.

    ``quantile_sketch(df, "content_length", by=["lang"], qs=[.5,.95,.99])``
    returns one row per group with exact count/sum/min/max/avg and the
    DDSketch quantile estimates, each within ``cfg.relative_accuracy`` of the
    exact rank value.

    ``exact_stats=False`` (cells engine only) omits sum/min/max/avg and
    halves the per-cell state — the lean shape for quantiles-only jobs at
    very high group cardinality.

    Both engines finalize in the JVM (:func:`finalize_cells_sql`); the
    kernel engine feeds it the cells of its partial states
    (:func:`_state_cells`).  ``keep_state=True`` needs merged states, so it
    takes the :func:`sketch_agg` + :func:`finalize_quantiles` path instead.
    """
    from .plancache import lookup, source_key, store

    by = list(by or [])
    cfg = cfg or SketchConfig()
    if engine == "auto":
        # every mapping now has Catalyst key/value forms, so the JVM cells
        # engine is always the default; "kernel" remains for lineage/
        # checkpoint workflows and as the independent Arrow cross-check
        engine = "cells"
    # plan memo (ddspark.plancache): repeated invocations over the same
    # file-backed input rebuild an IDENTICAL logical plan — serve the
    # memoized plan in a fresh Dataset instead of paying ~100 ms of py4j +
    # analyzer latency again.  Caches a plan, never data: every hit gets a
    # fresh QueryExecution, so every action re-scans the parquet inputs.
    key = source_key(df)
    if key is not None:
        key += (
            "quantile_sketch", value_col, tuple(by),
            tuple(float(q) for q in qs),
            cfg.relative_accuracy, cfg.mapping, cfg.mode, cfg.bin_limit,
            cfg.offset, weight_col, keep_state, engine, exact_stats,
        )
        hit = lookup(key, df.sparkSession)
        if hit is not None:
            return hit
    if keep_state:
        merged = sketch_agg(df, value_col, by, cfg, weight_col, engine=engine)
        return store(key, finalize_quantiles(merged, list(qs), cfg, by, keep_state=True))
    if engine == "cells":
        # fully-fused JVM path: key expressions, partial aggregation AND the
        # quantile finalizer all run inside Catalyst/Tungsten — zero Python
        # stages, so group cardinality only costs window+agg work, never
        # interpreter dispatch (at 10^6 groups this is ~10x the Arrow path)
        cells = build_cells(df, value_col, by, cfg, weight_col, stats=exact_stats)
    else:
        # the partial stage is the only Python one: the shuffle carries the
        # exploded cells, and their per-group sum in the finalizer is the merge
        cells = _state_cells(build_partials(df, value_col, by, cfg, weight_col), by, cfg)
    return store(key, finalize_cells_sql(cells, list(qs), by, cfg))


def quantile_sketch_multi(
    df: DataFrame,
    value_cols: list[str],
    by: list[str] | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
    cfg: SketchConfig | None = None,
    metric_col: str = "metric",
    weight_col: str | None = None,
    exact_stats: bool = True,
) -> DataFrame:
    """Sketch SEVERAL value columns in ONE scan: one output row per
    ``(metric, group)``, where ``metric`` names the sketched column.

    At 100 TB this is the difference between N full corpus scans and one:
    ``quantile_sketch_multi(corpus, ["content_length", "line_count"],
    by=["lang"])`` reads the table once, explodes each row into one tagged
    value per metric *inside the scan stage* (whole-stage codegen — no
    extra pass, no cache), and runs the normal fused cells pipeline with
    the metric tag as an extra group key.  Identical results to calling
    :func:`quantile_sketch` per column (pytest-enforced); the cells
    shuffle grows to ``metrics x groups x live-buckets`` — still KBs per
    group.
    """
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    by = list(by or [])
    extra = [weight_col] if weight_col else []
    tagged = df.select(
        *by,
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("_metric"),
                        F.col(c).cast("double").alias("_v"),
                    )
                    for c in value_cols
                ]
            )
        ).alias("_m"),
    ).select(
        *by,
        *extra,
        F.col("_m._metric").alias(metric_col),
        F.col("_m._v").alias("_v"),
    )
    return quantile_sketch(
        tagged, "_v", by=[metric_col] + by, qs=qs, cfg=cfg,
        weight_col=weight_col, exact_stats=exact_stats,
    )


def sketch_to_driver(
    df: DataFrame,
    value_col: str,
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
) -> Sketch:
    """Global sketch returned as a driver-side :class:`Sketch` object.

    The rows collected are partial sketches — one per partition, kilobytes
    each — so this is cheap even when ``df`` is huge.
    """
    cfg = cfg or SketchConfig()
    partials = build_partials(df, value_col, None, cfg, weight_col)
    rows = partials.collect()
    if not rows:
        return Sketch.empty(cfg)
    return Sketch.merge_all(
        [Sketch.from_state(cfg, r.asDict()) for r in rows]
    )


def bucket_by_quantiles(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    cfg: SketchConfig | None = None,
    round_digits: int = 6,
    alias: str = "bucket",
) -> tuple[DataFrame, list[float]]:
    """Equi-depth feature binning driven by the sketch: assign every row a
    bucket in ``0..k-1`` by which of the DDSketch ``i/k`` quantile edges
    its value reaches (``bucket = #edges <= value``).  Returns
    ``(df_with_bucket, edges)``.

    **Scale**: the edge computation is the cells quantile pipeline (one
    scan, KB-sized shuffle), the ``k-1`` edges are the ONLY driver
    collect, and assignment is a pure column expression (comparison
    chain in whole-stage codegen) — no join, no second shuffle.  Exact
    equi-depth binning needs a global sort per NTILE; this is the
    sketch-powered replacement whose edges are within
    ``cfg.relative_accuracy`` of exact and fully deterministic, so the
    assignment replays in ANSI SQL.

    Edges come from the positive values only (the DDSketch domain);
    values below every edge (including non-positive ones) land in bucket
    0.  Edges are rounded to ``round_digits`` (same decimal rounding the
    SQL replay applies) so both engines compare against bit-identical
    thresholds.  With heavily skewed data, adjacent edges can coincide
    after rounding — those buckets are simply empty.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    qs = [i / k for i in range(1, k)]
    est = quantile_sketch(
        df.where(F.col(value_col) > 0), value_col, qs=qs, cfg=cfg,
        exact_stats=False,
    )
    sel = [
        F.round(F.col(quantile_label(q)), round_digits).alias(f"e{i}")
        for i, q in enumerate(qs)
    ]
    row = est.select(*sel).first()
    if row is None or any(row[f"e{i}"] is None for i in range(len(qs))):
        raise ValueError(f"bucket_by_quantiles: no positive {value_col!r} values")
    edges = [float(row[f"e{i}"]) for i in range(len(qs))]

    b = None
    for e in edges:
        term = (F.col(value_col) >= F.lit(e)).cast("int")
        b = term if b is None else b + term
    return df.withColumn(alias, b), edges


def bucket_by_quantiles_grouped(
    df: DataFrame,
    value_col: str,
    by: list[str] | str,
    k: int = 10,
    cfg: SketchConfig | None = None,
    round_digits: int = 6,
    alias: str = "bucket",
) -> DataFrame:
    """Per-GROUP equi-depth binning: every row's bucket is computed against
    its own group's ``i/k`` sketch quantile edges (e.g. length deciles
    *per language*) — the grouped twin of :func:`bucket_by_quantiles`.

    **Scale**: group edges come from the cells quantile pipeline (one
    scan, KB cells per group) and come back as ONE array column per
    group; the assignment is a broadcast join on the group key plus a
    single ``size(filter(edges, e -> v >= e))`` expression — no driver
    collect at all, so group cardinality is unbounded.  Groups absent
    from the edge table (no positive values) get a NULL bucket.
    """
    by = [by] if isinstance(by, str) else list(by)
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    qs = [i / k for i in range(1, k)]
    est = quantile_sketch(
        df.where(F.col(value_col) > 0), value_col, by=by, qs=qs, cfg=cfg,
        exact_stats=False,
    )
    edges = est.select(
        *by,
        F.array(
            *[
                F.round(F.col(quantile_label(q)), round_digits)
                for q in qs
            ]
        ).alias("_edges"),
    )
    j = df.join(F.broadcast(edges), by, "left")
    v = F.col(value_col).cast("double")
    bucket = F.when(
        F.col("_edges").isNotNull() & v.isNotNull(),
        F.size(F.filter("_edges", lambda e: v >= e)),
    )
    return j.withColumn(alias, bucket.cast("int")).drop("_edges")
