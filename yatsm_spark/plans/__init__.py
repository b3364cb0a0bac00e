"""Per-key pandas kernels over key-contiguous partitions.

Every per-url kernel (blob encoders, CCDC segmentation, EWMA) runs the same
physical plan: ``repartition(key) + sortWithinPartitions(key, *order)`` —
or a scan of an already key-bucketed, key-sorted table — then ONE
``mapInPandas`` over whole partitions.  One Arrow batch carries many
contiguous key runs, so the per-group Python/Arrow cost that
``groupBy().applyInPandas`` pays (one UDF call + one frame per group) is
amortized across the batch.  A run can cross an Arrow batch boundary;
:func:`map_key_runs` holds the last run of each batch back and prepends it
to the next, so kernels only ever see complete runs and their output does
not depend on ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _run_bounds(*keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of each run of equal key tuples in key-contiguous
    arrays — one vectorized comparison per key column, no pandas groupby."""
    n = len(keys[0])
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for k in keys:
        change |= k[1:] != k[:-1]
    bounds = np.flatnonzero(change) + 1
    return np.concatenate(([0], bounds)), np.concatenate((bounds, [n]))


def map_key_runs(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame | None],
    schema: str,
    presorted: bool = False,
) -> DataFrame:
    """Run ``fn`` over blocks of complete key runs of ``df``.

    Unless ``presorted`` (caller contract: partitions are already
    key-contiguous and ``(key, *order)``-sorted, e.g. a table written by
    sources/storage.py::write_bucketed_tier — the kernel stage then runs
    with ZERO shuffle), rows are co-located and sorted by
    ``repartition(*key).sortWithinPartitions(*key, *order)``.  ``fn``
    receives pandas blocks holding only whole runs, in sort order, and
    returns a frame matching ``schema`` (or None / empty for no rows).
    """
    keys = [key] if isinstance(key, str) else list(key)
    if not presorted:
        df = df.repartition(*keys).sortWithinPartitions(*keys, *order)

    def runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for block in _complete_blocks(batches, keys):
            out = fn(block)
            if out is not None and len(out):
                yield out

    return df.mapInPandas(runs, schema=schema)


def _complete_blocks(batches, keys):
    """Re-cut a key-contiguous batch stream so no key run is split: the
    last run of each batch may continue in the next, so it is held back
    and prepended there."""
    pend: pd.DataFrame | None = None
    for pdf in batches:
        if pdf.empty:
            continue
        if pend is not None:
            pdf = pd.concat([pend, pdf], ignore_index=True)
        cut = int(_run_bounds(*(pdf[k].to_numpy() for k in keys))[0][-1])
        pend = pdf.iloc[cut:]
        if cut:
            yield pdf.iloc[:cut]
    if pend is not None:
        yield pend
