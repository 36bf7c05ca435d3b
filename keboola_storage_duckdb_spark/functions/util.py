"""Shared helpers for compute-heavy operator stages."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Driver routes: small inputs of the crossover operators (connected
# components, BPE training, the packing exclusive scan, exact quantiles,
# Lloyd, quota sampling, the n-gram brute GEMMs, the cosine candidate
# broadcast) collect once and run in one process instead of as Spark
# jobs. Each site gates its collect through :func:`bounded_collect` with
# its own row/byte bound; setting this to False forces every distributed
# form (the 100 TB path) without touching any call site.
DRIVER_ROUTES = True


def par(df: DataFrame, mult: int = 1) -> int:
    """Target partition count for compute-heavy stages: the session's core
    parallelism (not the input's — a single-row-group parquet scan or an
    AQE-coalesced shuffle can leave a tiny partition count feeding a stage
    whose cost is quadratic in its *output*, serializing the heavy work)."""
    return df.sparkSession.sparkContext.defaultParallelism * mult


def bounded_collect(df: DataFrame, max_rows: int,
                    max_bytes: int | None = None,
                    row_bytes: Column | None = None,
                    rows=None):
    """The one driver collect of every driver route: ``df`` as a pyarrow
    Table when it holds at most ``max_rows`` rows (and, with
    ``row_bytes``, at most ``max_bytes`` of Σ ``row_bytes``), else None
    so the caller runs its distributed form. None at once when
    :data:`DRIVER_ROUTES` is off.

    Only a TRUE row count may gate the collect: ``rows`` must be the row
    count of ``df`` itself — or of a frame ``df`` only filters, which
    bounds it from above — given as an int or as a zero-argument
    callable (evaluated only when the switch is on). Without it, or
    whenever bytes are gated, one aggregate probe (count + Σ row_bytes)
    runs over ``df`` as given; callers with an expensive upstream
    lazily checkpoint ``df`` first so the probe materializes what the
    collect then reads.

    Arrow (``toArrow``), not ``collect()``: no per-Row objects, and the
    null bitmap stays separate from NaN values."""
    if not DRIVER_ROUTES:
        return None
    n_bytes = 0
    if rows is None or row_bytes is not None:
        aggs = [F.count(F.lit(1))]
        if row_bytes is not None:
            aggs.append(F.sum(row_bytes))
        probe = df.agg(*aggs).first()
        n = probe[0]
        if row_bytes is not None:
            n_bytes = probe[1] or 0
    else:
        n = rows() if callable(rows) else rows
    if n > max_rows or (row_bytes is not None and n_bytes > max_bytes):
        return None
    return df.toArrow()
