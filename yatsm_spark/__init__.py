"""yatsm_spark — a from-scratch PySpark-native time-series rollup /
downsample / retention / change-detection engine over Common-Crawl-style
web-page tables.

Capabilities mirror the reference package ``bullocke/yatsm`` (YATSM /
CCDC-style Landsat time-series change detection) re-grounded per
BASELINE.json: per-URL series instead of per-pixel series, Iceberg/Parquet
tables instead of GDAL stacks, Catalyst DataFrame plans instead of
per-process numpy loops.  See SURVEY.md for the full blueprint.

Design rules (normative):
  * DataFrame/SQL only; RDDs never; per-row Python UDFs never.
  * Per-url kernels (CCDC segmentation, Gorilla codec, EWMA) run as
    ``mapInPandas`` over url-sorted partitions, many url runs per Arrow
    batch, through one runner (plans/__init__.py::map_key_runs).
  * Fixed explicit schemas; session timezone pinned UTC.
  * Aggregates designed re-aggregable (cnt+sum, never avg-of-avgs) so
    retention tiers cascade exactly.
"""

__version__ = "0.1.0"
