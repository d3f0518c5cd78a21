"""ddspark — a PySpark-native distributed sketch / approximate-aggregation
engine with the query capabilities of DataDog/sketches-py (DDSketch), built
from scratch on the Spark DataFrame API.

Layering:

* :mod:`ddspark.mapping` / :mod:`ddspark.store` / :mod:`ddspark.sketch` —
  pure NumPy sketch algebra (no Spark).
* :mod:`ddspark.agg` — distributed aggregation: values become bucket cells
  ``(group, sgn, key)`` (Catalyst expressions and Spark hash aggregation, or
  Arrow-batched NumPy partial sketches per partition exploded JVM-side),
  then the pure-JVM quantile finalizer :func:`~ddspark.agg.finalize_cells_sql`.
* :mod:`ddspark._pyworker` — installed on import: keeps reused Python workers
  from re-reading every zip on ``sys.path`` (pyspark.zip, the Spark jar) at
  the start of each task.
* :mod:`ddspark.sqlpath` — DDSketch expressed purely in Spark SQL
  expressions (JVM-side, whole-stage codegen; positive values).
* :mod:`ddspark.sketches` — sibling mergeable sketches (HLL, Bloom, ...).
* :mod:`ddspark.pipeline` — training-data pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing).
"""

from ._pyworker import install_zip_guard
from .mapping import (
    CubicallyInterpolatedMapping,
    KeyMapping,
    LinearlyInterpolatedMapping,
    LogarithmicMapping,
    mapping_from_name,
)
from .sketch import DEFAULT_BIN_LIMIT, DEFAULT_REL_ACC, Sketch, SketchConfig
from .store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST, DENSE, STORE_MODES

install_zip_guard()

__version__ = "0.1.0"

__all__ = [
    "KeyMapping",
    "LogarithmicMapping",
    "LinearlyInterpolatedMapping",
    "CubicallyInterpolatedMapping",
    "mapping_from_name",
    "Sketch",
    "SketchConfig",
    "DEFAULT_REL_ACC",
    "DEFAULT_BIN_LIMIT",
    "DENSE",
    "COLLAPSE_LOWEST",
    "COLLAPSE_HIGHEST",
    "STORE_MODES",
]
