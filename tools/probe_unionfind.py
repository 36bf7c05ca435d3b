"""Probe the connected_components driver union-find ceiling: wall +
driver RSS at 1M/2M/5M/10M edges so the driver route's bounds
(graph._CC_DRIVER_MAX_ROWS / _CC_DRIVER_MAX_BYTES) are measured
constants, not guesses.

Edges are synthetic chains+cliques with string ids shaped like the
minhash pair graphs (doc-<n>). Measures (a) the pure-Python union-find
over pre-built rows, and (b) the end-to-end connected_components call
(probe agg + collect + union-find + createDataFrame) with the bound
raised to cover the size.

Usage: python tools/probe_unionfind.py [--sizes 1000000 5000000 10000000]
"""

from __future__ import annotations

import argparse
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+",
                    default=[1_000_000, 2_000_000, 5_000_000, 10_000_000])
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from keboola_storage_duckdb_spark.functions import graph
    from keboola_storage_duckdb_spark.functions.graph import (
        connected_components)
    from keboola_storage_duckdb_spark.session import get_spark

    spark = get_spark(app_name="probe_unionfind")
    spark.sparkContext.setLogLevel("ERROR")
    # raise the driver route's bounds to cover every probed size
    graph._CC_DRIVER_MAX_ROWS = max(args.sizes) + 1
    graph._CC_DRIVER_MAX_BYTES = 8 << 30

    for n in args.sizes:
        # half chain edges (worst diameter), half clique-star edges
        df = (spark.range(n)
              .select(F.concat(F.lit("doc-"), F.col("id")).alias("id_a"),
                      F.concat(F.lit("doc-"),
                               F.when(F.col("id") % 2 == 0,
                                      F.col("id") + 1)
                                .otherwise(F.col("id") % 1000))
                       .alias("id_b")))
        df = df.localCheckpoint()           # isolate build cost
        rss0 = _rss_mb()
        t0 = time.perf_counter()
        out = connected_components(df)
        n_out = out.count()
        dt = time.perf_counter() - t0
        print(f"edges={n:>9,} wall={dt:6.1f}s vertices={n_out:,} "
              f"rss_before={rss0:7.1f}MB rss_after={_rss_mb():7.1f}MB")


if __name__ == "__main__":
    main()
