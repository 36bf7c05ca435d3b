"""Edge-case hardening: degenerate documents (empty / single-word / NULL),
empty inputs through the pair operators, null strata."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark):
    return spark.createDataFrame(
        [(0, "alpha beta gamma delta"),
         (1, "alpha beta gamma delta"),   # exact dup of 0
         (2, "one"),                       # single word: no bigrams
         (3, ""),                          # empty text
         (4, None),                        # NULL text
         (5, "zeta eta theta iota")],
        "doc_id long, text string")


def test_pair_ops_handle_degenerate_docs(spark):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        minhash_lsh_pairs, ngram_jaccard_pairs, ngram_jaccard_prefix_pairs,
        simhash_pairs)

    docs = _docs(spark)
    for fn in (ngram_jaccard_pairs, ngram_jaccard_prefix_pairs,
               minhash_lsh_pairs):
        got = {(r.id_a, r.id_b): r.jaccard
               for r in fn(docs, "doc_id", "text", threshold=0.8).collect()}
        assert got == {(0, 1): 1.0}, (fn.__name__, got)
    # simhash ignores docs with no tokens; exact dups at hamming 0
    sh = {(r.id_a, r.id_b): r.hamming
          for r in simhash_pairs(docs, "doc_id", "text", 3).collect()}
    assert sh.get((0, 1)) == 0


def test_pair_ops_on_empty_input(spark):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        minhash_lsh_pairs, ngram_jaccard_pairs)

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(empty, "doc_id", "text").count() == 0
    assert minhash_lsh_pairs(empty, "doc_id", "text").count() == 0


def test_connected_components_empty_edges(spark):
    from keboola_storage_duckdb_spark.functions.graph import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_asof_join_empty_right(spark):
    import datetime as dt
    from keboola_storage_duckdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1))], "eid long, uid long, ts timestamp")
    right = spark.createDataFrame([], "uid long, ts timestamp, rid long")
    out = asof_join(left, right, on="uid", ts="ts", right_cols=["rid"],
                    suffix="")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].rid is None


def test_fingerprint_empty_and_null(spark):
    from keboola_storage_duckdb_spark.functions.text import fingerprint

    got = {r.id: r.fp for r in
           fingerprint(_docs(spark), "doc_id", "text").collect()}
    assert got[3] is not None          # empty string fingerprints fine
    assert got[4] is None              # NULL text -> NULL fingerprint
    assert got[0] == got[1]            # exact dups agree


def test_grouped_quantile_engines_empty_input(spark):
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles_grouped_frame, grouped_quantiles_df)

    empty = spark.createDataFrame([], "g string, v double")
    for fn in (exact_quantiles_grouped_frame, grouped_quantiles_df):
        out = fn(empty, "g", "v", [0.5, 0.9])
        assert out.columns == ["g", "n", "qs"]
        assert out.count() == 0, fn.__name__


def test_exact_quantiles_auto_all_null_and_empty(spark, monkeypatch):
    """All auto routes must agree on the degenerate shapes: an all-NULL
    column yields per-prob Nones on every engine (native percentile's
    NULL array is normalized), and empty input likewise."""
    from keboola_storage_duckdb_spark.functions import util
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles_auto)

    allnull = spark.createDataFrame([(None,), (None,)], "x double")
    empty = spark.createDataFrame([], "x double")
    for df in (allnull, empty):
        for routes, kw in ((True, {}), (False, {"max_rows": 0}),
                           (False, {})):
            monkeypatch.setattr(util, "DRIVER_ROUTES", routes)
            out = exact_quantiles_auto(df, ["x"], [0.25, 0.75], **kw)
            assert out["x"] == [None, None], (df, routes, kw)


def test_exact_quantiles_driver_route_nan_and_null(spark, monkeypatch):
    """The r16 driver-collect route must match the other engines when
    the column mixes SQL NULLs (dropped) with genuine NaN values
    (ordered above every double) — the toArrow null bitmap keeps them
    distinct where toPandas would conflate."""
    import math

    from keboola_storage_duckdb_spark.functions import util
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles_auto)
    rows = [(1.0,), (None,), (float("nan"),), (3.0,), (2.0,), (None,)]
    df = spark.createDataFrame(rows, "x double")
    probs = [0.0, 0.5, 1.0]
    drv = exact_quantiles_auto(df, ["x"], probs)
    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    hist = exact_quantiles_auto(df, ["x"], probs, max_rows=0)
    nat = exact_quantiles_auto(df, ["x"], probs)
    def norm(d):
        return [("nan" if isinstance(v, float) and math.isnan(v) else v)
                for v in d["x"]]
    assert norm(drv) == norm(hist) == norm(nat)


def test_exact_quantiles_auto_stats_never_take_driver_route(spark,
                                                            monkeypatch):
    """VERDICT r16 #1: stats-supplied calls carry only the max per-column
    NON-NULL count, but the driver route's toArrow collects ALL rows — a
    mostly-NULL column would pass the value bound yet collect everything.
    The driver route must therefore be refused whenever
    ``precomputed_stats`` is supplied (only a true row count may gate a
    driver collect)."""
    from keboola_storage_duckdb_spark.operators import quantiles as q

    rows = [(float(i),) if i % 100 == 0 else (None,) for i in range(500)]
    df = spark.createDataFrame(rows, "x double")

    # without stats the driver route serves (n=500 true rows, in bound)
    out2 = q.exact_quantiles_auto(df, ["x"], [0.5])
    assert out2["x"] == [200.0]

    def _boom(*a, **k):
        raise AssertionError("driver route taken with precomputed_stats")

    monkeypatch.setattr(q, "_exact_quantiles_driver", _boom)
    # non-null n=5 → would trivially pass the 8M value bound
    stats = {"x": (5, 0, 0.0, 400.0)}
    out = q.exact_quantiles_auto(df, ["x"], [0.5],
                                 precomputed_stats=stats)
    assert out["x"] == [200.0]


def test_pack_token_stream_empty_input(spark):
    from keboola_storage_duckdb_spark.functions.packing import (
        pack_token_stream)

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert pack_token_stream(empty, "doc_id", "text").count() == 0
