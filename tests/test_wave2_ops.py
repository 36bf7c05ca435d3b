"""Wave-2 operators: as-of join, connected components, pattern profiling,
deterministic hash sampling, rollup."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    from keboola_storage_duckdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 10:00:00")),
         (2, 1, _ts("2024-01-01 12:00:00")),
         (3, 2, _ts("2024-01-01 10:30:00"))],
        ["eid", "uid", "ts"])
    right = spark.createDataFrame(
        [(100, 1, _ts("2024-01-01 09:00:00")),
         (101, 1, _ts("2024-01-01 11:00:00")),
         (102, 2, _ts("2024-01-01 11:00:00"))],  # after left row 3
        ["rid", "uid", "ts"])
    out = asof_join(left, right.select("uid", "ts", "rid"),
                    on="uid", ts="ts", right_cols=["rid"], suffix="")
    got = {r.eid: r.rid for r in out.collect()}
    assert got == {1: 100, 2: 101, 3: None}


def test_asof_join_inclusive_at_equal_ts(spark):
    from keboola_storage_duckdb_spark.operators.asof import asof_join

    t = _ts("2024-01-01 10:00:00")
    left = spark.createDataFrame([(1, 1, t)], ["eid", "uid", "ts"])
    right = spark.createDataFrame([(100, 1, t)], ["rid", "uid", "ts"])
    out = asof_join(left, right.select("uid", "ts", "rid"),
                    on="uid", ts="ts", right_cols=["rid"], suffix="")
    assert out.collect()[0].rid == 100  # right row at exactly left.ts matches


def test_connected_components_two_clusters(spark):
    from keboola_storage_duckdb_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4)], ["id_a", "id_b"])
    got = {r.id: r.cluster for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_chain_converges(spark):
    # a 12-node path graph needs several propagation rounds
    from keboola_storage_duckdb_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    got = {r.id: r.cluster for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_connected_components_long_chain_needs_pointer_jump(spark,
                                                            monkeypatch):
    # A 60-node path converges within max_iter=25 ONLY because pointer
    # jumping (enabled from round jump_from=2) doubles label reach per
    # round; plain min-propagation moves one hop per round.
    # The driver routes off force the distributed loop (the default would
    # take the driver union-find fast path on a graph this small).
    from keboola_storage_duckdb_spark.functions import util
    from keboola_storage_duckdb_spark.functions.graph import connected_components

    monkeypatch.setattr(util, "DRIVER_ROUTES", False)

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"])
    got = {r.id: r.cluster for r in
           connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 61


def test_pattern_counts_detects(spark):
    from keboola_storage_duckdb_spark.operators.profile import pattern_counts

    df = spark.createDataFrame(
        [("a@b.com", "2024-01-02"), ("not-an-email", "2024-01-03"),
         (None, "nope")],
        ["email_col", "date_col"])
    rows = {(r.col, r.pattern): r for r in
            pattern_counts(df, ["email_col", "date_col"]).collect()}
    assert rows[("email_col", "email")].n_match == 1
    assert rows[("email_col", "email")].n_nonnull == 2
    assert rows[("date_col", "date_iso")].n_match == 2
    assert rows[("date_col", "email")].n_match == 0
    assert rows[("email_col", "email")].match_share == pytest.approx(0.5)


def test_hash_sample_deterministic(spark, sf_dir):
    import __spark_entry__ as E

    a = sorted(r.doc_id for r in E.q_hash_sample(spark, sf_dir).collect())
    b = sorted(r.doc_id for r in E.q_hash_sample(spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_rollup_has_grand_total(spark, sf_dir):
    import __spark_entry__ as E

    rows = E.q_rollup_agg(spark, sf_dir).collect()
    total = [r for r in rows if r.l_returnflag is None and r.l_linestatus is None]
    assert len(total) == 1
    assert total[0].n_rows == sum(
        r.n_rows for r in rows
        if r.l_returnflag is not None and r.l_linestatus is not None)


def test_prefix_jaccard_equals_inverted_index(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_jaccard_pairs, ngram_jaccard_prefix_pairs)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {(r.id_a, r.id_b): r.jaccard
         for r in ngram_jaccard_pairs(docs, "doc_id", "text", 0.8).collect()}
    b = {(r.id_a, r.id_b): r.jaccard
         for r in ngram_jaccard_prefix_pairs(docs, "doc_id", "text", 0.8).collect()}
    assert a == b and len(a) > 0

    # adaptive density guard: below the limit the result is identical...
    c = {(r.id_a, r.id_b): r.jaccard
         for r in ngram_jaccard_prefix_pairs(docs, "doc_id", "text", 0.8,
                                             adaptive=True).collect()}
    assert c == a
    # ...past the limit BOTH dense routes return an exact-verified SUBSET
    # (sub-recall only — never a false positive, values exact)
    d = {(r.id_a, r.id_b): r.jaccard
         for r in ngram_jaccard_prefix_pairs(
             docs, "doc_id", "text", 0.8, adaptive=True,
             density_limit=1, max_doc_freq_cap=2,
             dense_route="df_cap").collect()}
    assert set(d) <= set(a)
    assert all(a[k] == v for k, v in d.items())
    # df-cap with a cap above the max df degenerates to the full answer
    e = {(r.id_a, r.id_b): r.jaccard
         for r in ngram_jaccard_prefix_pairs(
             docs, "doc_id", "text", 0.8, adaptive=True,
             density_limit=1, max_doc_freq_cap=10**9,
             dense_route="df_cap").collect()}
    assert e == a
    # LSH route: exact values on whatever it recalls, and on this small
    # corpus near-dup pairs share most shingles so recall is high
    g = {(r.id_a, r.id_b): r.jaccard
         for r in ngram_jaccard_prefix_pairs(
             docs, "doc_id", "text", 0.8, adaptive=True,
             density_limit=1).collect()}
    assert set(g) <= set(a)
    assert all(a[k] == v for k, v in g.items())
    assert len(g) >= len(a) // 2


def test_skew_agg_matches_plain_groupby(spark, sf_dir):
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from keboola_storage_duckdb_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plain = {r.event_type: (r.n, float(r.s)) for r in
             ev.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("s"))
               .collect()}
    salted = {r.event_type: (r.n_events, r.sum_value)
              for r in E.q_skew_agg(spark, sf_dir).collect()}
    assert plain == salted


def test_connected_components_string_ids(spark):
    # regression: a Σ-labels convergence check was NULL over string ids and
    # terminated after one round with wrong clusters
    from keboola_storage_duckdb_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ["id_a", "id_b"])
    got = {r.id: r.cluster for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_asof_join_atomic_carry_with_null_columns(spark):
    # regression: independent last(ignorenulls) per column stitched fields
    # from different right rows when a right column held NULL
    import datetime as dt
    from keboola_storage_duckdb_spark.operators.asof import asof_join

    t = lambda s: dt.datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, 1, t("2024-01-01 03:00:00"))], ["eid", "uid", "ts"])
    right = spark.createDataFrame(
        [(1, t("2024-01-01 01:00:00"), 10, None),
         (1, t("2024-01-01 02:00:00"), None, 20)],
        "uid long, ts timestamp, x long, y long")
    out = asof_join(left, right.select("uid", "ts", "x", "y"),
                    on="uid", ts="ts", right_cols=["x", "y"], suffix="")
    row = out.collect()[0]
    # the matched row is r2 (ts=02:00) — its (NULL, 20), never (10, 20)
    assert row.x is None and row.y == 20


def test_lang_id_null_text(spark):
    # regression: NULL text must yield ('und', 0), not NULL-propagated junk
    from keboola_storage_duckdb_spark.functions.text import language_id

    df = spark.createDataFrame([(0, None), (1, "the cat")],
                               "doc_id long, text string")
    got = {r.id: (r.pred_lang, r.hits)
           for r in language_id(df, "doc_id", "text").collect()}
    assert got[0] == ("und", 0)
    assert got[1][0] == "en"
