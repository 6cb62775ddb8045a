"""tsdat_spark — a PySpark-native time-series standardize → QC → transform →
rollup → store engine.

Re-expresses the capabilities of tsdat/tsdat (PNNL's declarative xarray
time-series standardization framework, studied read-only at
``/root/reference``) as an idiomatic Spark DataFrame engine:

- data model: one row per sample, series identified by key columns, a single
  ``ts`` timestamp column (tsdat: ``xr.Dataset`` with a required ``time``
  coord — ``tsdat/config/dataset/dataset_config.py:64-68``)
- QC: boolean-mask checkers + handlers (tsdat ``tsdat/qc``) as Catalyst
  column expressions + DataFrame stages
- transforms: bin-average / linear-interpolate / nearest-neighbor with
  tsdat's transform_v2 overlap-weight semantics
  (``tsdat/transform_v2/utils/get_bound_overlaps.py:51-92``)
- rollup: 1m/1h/1d continuous-aggregate retention tiers with mergeable
  t-digest sketches; each coarser tier merges the finer tier's digests
- storage: partitioned parquet tier tables + per-partition lineage
  manifests and checkpoint/resume

Nothing here is a port: execution is lazy Catalyst plans, shuffles are
explicit, and all per-element math is JVM-side column expressions or
Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"

from .config import DatasetSpec, VariableSpec  # noqa: F401
from .session import get_spark  # noqa: F401
from .units import UnitsError, conversion as units_conversion  # noqa: F401
from .yaml_config import ConfigError, PipelineSpec, load_pipeline_yaml  # noqa: F401
