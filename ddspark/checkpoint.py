"""Checkpoint/resume for long sketch builds, with per-partition lineage.

At 10^12-file scale a sketch build is a multi-hour scan; losing the cluster
must not mean starting over.  Because partial sketches are tiny and
associative (reference merge semantics, ``ddsketch/ddsketch.py:186-215``),
the natural checkpoint unit is the *partial-sketch table*: one sketch row
per (group, input file), persisted as parquet under the checkpoint dir.

Layout:

    <dir>/attempt_<k>/            partial rows (parquet, atomic via _SUCCESS)
    <dir>/attempt_<k>.json        stage metrics: files, rows, seconds

Resume logic: list the input files, subtract the files recorded by
*successful* attempts (lineage column ``_file``), process only the rest in
a new attempt, then merge every attempt's partials (quantiles go straight
from the partials' bucket cells to the JVM finalizer).  Interrupted attempts
(no ``_SUCCESS``) are ignored and redone — per-row exactly-once falls out of
file-granular idempotency, not task-level bookkeeping.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .agg import _state_cells, build_partials, finalize_cells_sql, merge_partials
from .sketch import SketchConfig

__all__ = ["checkpointed_sketch_agg", "checkpointed_quantile_sketch", "attempts_info"]


def _success(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _attempt_dirs(ckpt_dir: str) -> list[str]:
    if not os.path.isdir(ckpt_dir):
        return []
    return sorted(
        os.path.join(ckpt_dir, d)
        for d in os.listdir(ckpt_dir)
        if d.startswith("attempt_") and not d.endswith(".json")
    )


def attempts_info(ckpt_dir: str) -> list[dict]:
    out = []
    for d in _attempt_dirs(ckpt_dir):
        meta = d + ".json"
        if _success(d) and os.path.exists(meta):
            with open(meta) as fh:
                out.append(json.load(fh))
    return out


def _completed_files(ckpt_dir: str) -> set[str]:
    done: set[str] = set()
    for info in attempts_info(ckpt_dir):
        done.update(info["files"])
    return done


def _checkpointed_partials(
    spark: SparkSession,
    input_path: str,
    value_expr: str,
    by: list[str],
    cfg: SketchConfig,
    ckpt_dir: str,
    weight_col: str | None,
    max_files: int | None,
) -> DataFrame:
    """Run the next attempt (if any input file is left) and return the
    partial rows of every completed attempt, ``_file`` dropped."""
    if not ckpt_dir:
        raise ValueError("ckpt_dir is required")
    os.makedirs(ckpt_dir, exist_ok=True)

    # refuse to mix parameters within one checkpoint dir: partials built
    # from a different value_expr/by/weight would merge silently otherwise
    params = {"value_expr": value_expr, "by": by, "weight_col": weight_col}
    for info in attempts_info(ckpt_dir):
        recorded = {k: info.get(k) for k in params}
        if recorded != params:
            raise ValueError(
                f"checkpoint {ckpt_dir} was built with {recorded}, "
                f"refusing to resume with {params}"
            )

    src = spark.read.parquet(input_path)
    all_files = sorted(src.inputFiles())
    done = _completed_files(ckpt_dir)
    todo = [f for f in all_files if f not in done]
    if max_files is not None:
        todo = todo[:max_files]

    if todo:
        # next index = max existing + 1: a deleted/crashed attempt must not
        # cause an existing completed attempt dir to be overwritten
        existing = [
            int(os.path.basename(d).split("_", 1)[1]) for d in _attempt_dirs(ckpt_dir)
        ]
        attempt = f"attempt_{(max(existing) + 1 if existing else 0):05d}"
        out_dir = os.path.join(ckpt_dir, attempt)
        t0 = time.perf_counter()
        batch = (
            spark.read.parquet(*todo)
            .withColumn("_file", F.input_file_name())
            .withColumn("_v", F.expr(value_expr))
        )
        partials = build_partials(
            batch, "_v", by + ["_file"], cfg, weight_col=weight_col
        )
        partials.write.mode("overwrite").parquet(out_dir)
        rows = spark.read.parquet(out_dir).agg(F.sum("rows")).collect()[0][0] or 0
        with open(out_dir + ".json", "w") as fh:
            json.dump(
                {
                    "attempt": attempt,
                    "files": todo,
                    "n_files": len(todo),
                    "rows": int(rows),
                    "seconds": round(time.perf_counter() - t0, 3),
                    "value_expr": value_expr,
                    "by": by,
                    "weight_col": weight_col,
                },
                fh,
            )

    # an attempt counts only when BOTH the parquet _SUCCESS and the metadata
    # json exist — the same criterion _completed_files uses for resume dedup.
    # (A crash between the two would otherwise double-count the attempt's
    # files: resume reprocesses them while the merge still reads the orphan.)
    good = [
        d
        for d in _attempt_dirs(ckpt_dir)
        if _success(d) and os.path.exists(d + ".json")
    ]
    if not good:
        raise ValueError(f"no completed attempts under {ckpt_dir}")
    return spark.read.parquet(*good).drop("_file")


def checkpointed_sketch_agg(
    spark: SparkSession,
    input_path: str,
    value_expr: str,
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
    ckpt_dir: str = "",
    weight_col: str | None = None,
    max_files: int | None = None,
) -> DataFrame:
    """Resumable grouped sketch over a parquet table.

    ``value_expr`` may be any column expression (e.g. ``length(content)``).
    ``max_files`` caps how many input files this invocation processes —
    callers can budget work per run and resume later; the return value is
    the merge of *all* checkpointed partials so far.
    """
    by = list(by or [])
    cfg = cfg or SketchConfig()
    partials = _checkpointed_partials(
        spark, input_path, value_expr, by, cfg, ckpt_dir, weight_col, max_files
    )
    return merge_partials(partials, by, cfg)


def checkpointed_quantile_sketch(
    spark: SparkSession,
    input_path: str,
    value_expr: str,
    by: list[str] | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
    cfg: SketchConfig | None = None,
    ckpt_dir: str = "",
    weight_col: str | None = None,
    max_files: int | None = None,
) -> DataFrame:
    """:func:`checkpointed_sketch_agg`, finalized to
    ``by... | count sum min max avg | p...`` without a merge stage."""
    by = list(by or [])
    cfg = cfg or SketchConfig()
    partials = _checkpointed_partials(
        spark, input_path, value_expr, by, cfg, ckpt_dir, weight_col, max_files
    )
    return finalize_cells_sql(_state_cells(partials, by, cfg), list(qs), by, cfg)
