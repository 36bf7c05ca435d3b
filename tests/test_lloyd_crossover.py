"""Driver-Lloyd crossover (r16 opt): kmeans / kmeans_fit /
pq_train_codebooks run their iteration driver-side under
_DRIVER_LLOYD_MAX_FLOATS — these tests pin BIT-equality of centroids
and assignments against the distributed loop (``util.DRIVER_ROUTES =
False`` forces it; kmeans and the PQ codebooks are pinned in
test_driver_routes.py) and the collect's refusal gates."""

import pytest

from keboola_storage_duckdb_spark.functions import util
from keboola_storage_duckdb_spark.sources.tables import load_table


def _distributed(monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setattr(util, "DRIVER_ROUTES", False)
        return fn()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "/root/testdata/sf0.01", "embeddings")


def test_kmeans_fit_driver_equals_distributed(spark, emb, monkeypatch):
    from keboola_storage_duckdb_spark.functions.clustering import kmeans_fit
    a_drv, c_drv = kmeans_fit(emb, "vec_id", "embedding", k=8, rounds=2)
    a_dst, c_dst = _distributed(monkeypatch, lambda: kmeans_fit(
        emb, "vec_id", "embedding", k=8, rounds=2))
    # centroids bit-equal (plain float lists on both paths)
    assert c_drv == c_dst
    assert (sorted(map(tuple, a_drv.select("id", "cluster").collect()))
            == sorted(map(tuple, a_dst.select("id", "cluster").collect())))


def test_kmeans_fit_more_rounds_bitequal(spark, emb, monkeypatch):
    from keboola_storage_duckdb_spark.functions.clustering import kmeans_fit
    _, c_drv = kmeans_fit(emb, "vec_id", "embedding", k=5, rounds=4)
    _, c_dst = _distributed(monkeypatch, lambda: kmeans_fit(
        emb, "vec_id", "embedding", k=5, rounds=4))
    assert c_drv == c_dst


def test_lloyd_collect_gates(spark, emb, monkeypatch):
    """Size gate refuses (falls to distributed), the switch disables,
    null, ragged and empty vectors refuse."""
    from pyspark.sql import functions as F

    from keboola_storage_duckdb_spark.functions import clustering
    from keboola_storage_duckdb_spark.functions.clustering import (
        _lloyd_collect)
    base = emb.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("v"))
    with monkeypatch.context() as m:
        m.setattr(clustering, "_DRIVER_LLOYD_MAX_FLOATS", 1)
        assert _lloyd_collect(base) is None           # too many floats
    with monkeypatch.context() as m:
        m.setattr(util, "DRIVER_ROUTES", False)
        assert _lloyd_collect(base) is None           # disabled
    withnull = base.withColumn(
        "v", F.when(F.col("id") == 0, F.lit(None)).otherwise(F.col("v")))
    assert _lloyd_collect(withnull) is None           # null vector
    ragged = base.withColumn(
        "v", F.when(F.col("id") == 0, F.slice("v", 1, 3))
              .otherwise(F.col("v")))
    assert _lloyd_collect(ragged) is None             # ragged vectors
    empty = base.withColumn("v", F.expr("slice(v, 1, 0)"))
    assert _lloyd_collect(empty) is None              # zero-dim vectors
    assert _lloyd_collect(base) is not None


def test_lloyd_collect_refuses_nan_element(spark, emb):
    """ADVICE r16: a NULL ELEMENT inside a vector (NaN after np.stack)
    must refuse the driver route — the distributed F.avg skips NULLs,
    so the routes genuinely diverge there, and the NaN centroid would
    render an unparseable CAST(nan AS DOUBLE) literal."""
    from pyspark.sql import functions as F

    from keboola_storage_duckdb_spark.functions.clustering import (
        _lloyd_collect, kmeans)
    base = emb.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("v"))
    poisoned = base.withColumn(
        "v", F.when(F.col("id") == 0,
                    F.expr("transform(v, (x, i) -> "
                           "CASE WHEN i = 0 THEN NULL ELSE x END)"))
             .otherwise(F.col("v")))
    assert _lloyd_collect(poisoned) is None
    # and kmeans on such input serves from the distributed loop without
    # crashing (F.avg skips the NULL element)
    out = kmeans(poisoned, "id", "v", k=2, max_iter=1).collect()
    assert len(out) > 0


def test_lloyd_collect_refuses_non_float32_exact(spark):
    """ADVICE r16: driver means use numpy pairwise summation, the
    distributed route merges Spark partial sums — bit-equal only when
    sums are exact. Varying-exponent float64 data (not float32
    round-trippable) must therefore refuse the driver route."""
    from keboola_storage_duckdb_spark.functions.clustering import (
        _lloyd_collect)
    rows = [(i, [1.0 + 1e-12 * i, 2.0 ** (-30 + i), 0.1])
            for i in range(12)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    assert _lloyd_collect(df) is None
    # the same magnitudes rounded to float32 pass
    import numpy as np
    rows32 = [(i, [float(np.float32(v)) for v in vec])
              for i, vec in rows]
    df32 = spark.createDataFrame(rows32, "id bigint, v array<double>")
    assert _lloyd_collect(df32) is not None
