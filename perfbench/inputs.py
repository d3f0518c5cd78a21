"""Seeded, deterministic input generation for the benchmark workloads.

Every input set is a directory of parquet files plus a ``STAMP.json`` that
records the workload, seed, generator version and every size setting.  A
cached directory is reused only when its stamp equals the requested one, so
an input built from other settings is never mistaken for the right one.
The same seed always yields byte-identical values.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
KEEP_PER_WORKLOAD = 2  # cached input sets kept per workload (newest first)

LANGS = ["en", "zh", "es", "de", "fr", "ja", "ru", "pt", "ar"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def _write_files(out_dir: str, table: pa.Table, files: int, prefix: str = "part") -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"{prefix}-{i:03d}.parquet"))


def gen_corpus(out: str, rng: np.random.Generator, spec: dict) -> None:
    """``(lang, content_length)`` with Zipf-skewed language frequencies and a
    per-language lognormal length distribution (integers >= 1)."""
    n, g = spec["rows"], spec["groups"]
    weights = 1.0 / np.arange(1, g + 1) ** 1.2
    lang = rng.choice(g, size=n, p=weights / weights.sum())
    mu = 7.0 + 0.15 * lang
    length = np.maximum(1, rng.lognormal(mu, 1.4)).astype(np.int64)
    names = pa.array(LANGS[:g] + [f"l{i}" for i in range(len(LANGS), g)])
    table = pa.table({
        "lang": pa.DictionaryArray.from_arrays(pa.array(lang.astype(np.int32)), names),
        "content_length": length,
    })
    _write_files(os.path.join(out, "data"), table, spec["files"])


def gen_wide_states(out: str, rng: np.random.Generator, spec: dict) -> None:
    """Values log-uniform over ``decades`` decades, so every group's dense
    sketch state spans the whole key range (~2,000 bins at alpha=0.01)."""
    n, half = spec["rows"], spec["decades"] / 2.0
    table = pa.table({
        "g": rng.integers(0, spec["groups"], size=n, dtype=np.int64),
        "v": 10.0 ** rng.uniform(-half, half, size=n),
    })
    _write_files(os.path.join(out, "data"), table, spec["files"])


def gen_dashboard(out: str, rng: np.random.Generator, spec: dict) -> None:
    """A TPC-H-like ``lineitem`` plus an ``events`` stream cut into slices
    (one parquet file each) for micro-batch ingestion."""
    n = spec["lineitem_rows"]
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, size=n), 2)
    lineitem = pa.table({
        "l_orderkey": rng.integers(1, n // 4 + 2, size=n, dtype=np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n)],
    })
    _write_files(os.path.join(out, "lineitem"), lineitem, spec["lineitem_files"])
    m = spec["events_rows"]
    kind = rng.integers(0, len(EVENT_TYPES), size=m)
    events = pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "user_id": rng.integers(0, 500, size=m, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[kind],
        "value": np.round(rng.lognormal(3.0 + 0.3 * kind, 1.0), 2) + 0.01,
    })
    _write_files(os.path.join(out, "events"), events, spec["slices"], prefix="slice")


GENERATORS = {
    "corpus": gen_corpus,
    "wide_states": gen_wide_states,
    "dashboard": gen_dashboard,
}


def materialize(cache_root: str, workload: str, seed: int, kind: str, spec: dict) -> str:
    """Directory holding the stamped input set for ``(workload, seed, spec)``,
    generated on first use."""
    stamp = {"workload": workload, "seed": seed, "generator": kind,
             "version": GENERATOR_VERSION, "spec": spec}
    key = f"{workload}-s{seed}-" + "-".join(f"{k}{spec[k]}" for k in sorted(spec))
    path = os.path.join(cache_root, key)
    stamp_path = os.path.join(path, "STAMP.json")
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if json.load(f) == stamp:
                os.utime(path)
                return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    GENERATORS[kind](tmp, np.random.default_rng(seed), spec)
    with open(os.path.join(tmp, "STAMP.json"), "w") as f:
        json.dump(stamp, f, sort_keys=True)
    os.replace(tmp, path)
    _evict(cache_root, workload, keep=path)
    return path


def _evict(cache_root: str, workload: str, keep: str) -> None:
    mine = [
        os.path.join(cache_root, d) for d in os.listdir(cache_root)
        if d.startswith(workload + "-s") and not d.endswith(".tmp")
    ]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[KEEP_PER_WORKLOAD:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
