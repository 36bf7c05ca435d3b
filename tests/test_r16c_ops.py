"""Round-16c operators: funnel, cohort retention, gap fill, SymSpell
fuzzy linkage, and n-gram containment dedup."""

import datetime

import pytest
from pyspark.sql import functions as F

from keboola_storage_duckdb_spark.functions import dedup_ml, util

TS0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    """rows = (event_id, minutes_offset, user_id, event_type)"""
    return spark.createDataFrame(
        [(eid, TS0 + datetime.timedelta(minutes=m), uid, et, 1.0, "{}")
         for eid, m, uid, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")


# ---------------------------------------------------------------- funnel

def test_funnel_order_matters(spark):
    from keboola_storage_duckdb_spark.streaming.events import funnel_steps
    rows = [
        # user 1: full ordered funnel
        (1, 0, 1, "signup"), (2, 1, 1, "view"), (3, 2, 1, "click"),
        (4, 3, 1, "purchase"),
        # user 2: purchase BEFORE the click — stops at view
        (5, 0, 2, "signup"), (6, 1, 2, "view"), (7, 2, 2, "purchase"),
        (8, 3, 2, "click"),
        # user 3: no signup — counts nowhere
        (9, 0, 3, "view"), (10, 1, 3, "click"), (11, 2, 3, "purchase"),
    ]
    out = {r["step"]: r for r in
           funnel_steps(_ev(spark, rows),
                        ["signup", "view", "click", "purchase"]).collect()}
    assert [out[k]["n_users"] for k in (1, 2, 3, 4)] == [2, 2, 2, 1]
    assert out[4]["conversion"] == 0.5
    # user 2's trailing click DOES qualify (after view), but no purchase
    # follows it, so step 4 only counts user 1


def test_funnel_equal_ts_uses_event_id_order(spark):
    from keboola_storage_duckdb_spark.streaming.events import funnel_steps
    # same timestamp: event_id order decides; signup(1) < view(2) works,
    # view(3) < signup(4) does not
    rows = [(1, 0, 1, "signup"), (2, 0, 1, "view"),
            (3, 0, 2, "view"), (4, 0, 2, "signup")]
    out = {r["step"]: r["n_users"] for r in
           funnel_steps(_ev(spark, rows), ["signup", "view"]).collect()}
    assert out == {1: 2, 2: 1}


# ---------------------------------------------------------------- cohort

def test_cohort_retention_matrix(spark):
    from keboola_storage_duckdb_spark.streaming.events import cohort_retention
    day = 24 * 60
    rows = [
        # user 1 signs up Mon week 0 (2024-01-01 is a Monday), active wk 0+2
        (1, 0, 1, "signup"), (2, 14 * day, 1, "click"),
        # user 2 signs up week 1, active weeks 1 and 2 (offsets 0, 1)
        (3, 7 * day, 2, "signup"), (4, 15 * day, 2, "view"),
        # user 3 never signs up: excluded entirely
        (5, 0, 3, "view"),
        # user 1 pre-signup event would be same week here; give user 4 a
        # pre-cohort-week event instead
        (6, 0, 4, "view"), (7, 8 * day, 4, "signup"),
    ]
    out = {(str(r["cohort_week"]), r["week_offset"]): r["n_users"]
           for r in cohort_retention(_ev(spark, rows)).collect()}
    assert out[("2024-01-01", 0)] == 1          # user 1 week 0
    assert out[("2024-01-01", 2)] == 1          # user 1 offset 2
    assert out[("2024-01-08", 0)] == 2          # users 2 and 4
    assert out[("2024-01-08", 1)] == 1          # user 2 only
    # user 4's pre-cohort week-0 event must NOT appear as an offset row
    assert all(k[0] != "2024-01-01" or n >= 1 for k, n in out.items())
    assert len(out) == 4


# ---------------------------------------------------------------- gapfill

def test_gap_fill_locf_and_interp(spark):
    from keboola_storage_duckdb_spark.streaming.events import gap_fill_hourly
    rows = [(1, TS0, 10.0), (2, TS0 + datetime.timedelta(hours=3), 40.0),
            (3, TS0 + datetime.timedelta(hours=3), 60.0)]
    ev = spark.createDataFrame(
        [(i, t, 1, "click", v, "{}") for i, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    out = {r["bucket"].hour: r for r in gap_fill_hourly(ev).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert out[0]["avg_value"] == 10.0 and out[0]["is_gap"] == 0
    assert out[3]["avg_value"] == 50.0          # (40+60)/2 exact
    for h in (1, 2):
        assert out[h]["is_gap"] == 1 and out[h]["n_events"] == 0
        assert out[h]["filled_locf"] == 10.0
    # linear between (0h, 10.0) and (3h, 50.0)
    assert out[1]["filled_interp"] == 10.0 + 40.0 * (1.0 / 3.0)
    assert out[2]["filled_interp"] == 10.0 + 40.0 * (2.0 / 3.0)


def test_gap_fill_edge_gaps_stay_null(spark):
    from keboola_storage_duckdb_spark.streaming.events import gap_fill_hourly
    # two series; series b has a single bucket (no gaps at all)
    ev = spark.createDataFrame(
        [(1, TS0, 1, "a", 5.0, "{}"),
         (2, TS0 + datetime.timedelta(hours=2), 1, "a", 7.0, "{}"),
         (3, TS0, 2, "b", 9.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    rows = gap_fill_hourly(ev).collect()
    assert len([r for r in rows if r["series"] == "a"]) == 3
    assert len([r for r in rows if r["series"] == "b"]) == 1


# ---------------------------------------------------------------- linkage

def test_fuzzy_symdelete_exact_complete(spark):
    from keboola_storage_duckdb_spark.operators.linkage import (
        fuzzy_pairs_symdelete)
    names = [(1, "acme corp"), (2, "acme c0rp"),   # substitution
             (3, "acme corps"),                     # insertion vs 1
             (4, "acme cor"),                       # deletion vs 1
             (5, "acme inc"),                       # distance > 1 from all
             (6, "acme corp")]                      # exact duplicate of 1
    df = spark.createDataFrame(names, "id long, name string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_pairs_symdelete(df, "id", "name").collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert got[(1, 6)] == 0
    assert (3, 4) not in got                       # dist 2 ("corps"/"cor")
    assert all(not (a == 5 or b == 5) for a, b in got)


def test_fuzzy_symdelete_matches_bruteforce(spark):
    import random
    from keboola_storage_duckdb_spark.operators.linkage import (
        fuzzy_pairs_symdelete)
    rng = random.Random(16)
    names = ["".join(rng.choice("ab") for _ in range(rng.randint(2, 5)))
             for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(names)), "id long, name string")
    got = {(r["id_a"], r["id_b"]) for r in
           fuzzy_pairs_symdelete(df, "id", "name").collect()}
    brute = {(r["id_a"], r["id_b"]) for r in
             df.alias("a").join(df.alias("b"),
                                F.col("a.id") < F.col("b.id"))
               .select(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"),
                       F.levenshtein("a.name", "b.name").alias("d"))
               .filter(F.col("d") <= 1).collect()}
    assert got == brute and brute       # complete AND non-trivial


def test_fuzzy_symdelete_rejects_radius_2(spark):
    from keboola_storage_duckdb_spark.operators.linkage import (
        fuzzy_pairs_symdelete)
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    with pytest.raises(ValueError):
        fuzzy_pairs_symdelete(df, "id", "name", max_dist=2)


# ------------------------------------------------------------ containment

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _candidate_routes(monkeypatch, fn, *args, **kw):
    """``fn`` with the driver routes off: the candidate-join routes."""
    with monkeypatch.context() as m:
        m.setattr(util, "DRIVER_ROUTES", False)
        return fn(*args, **kw)


def test_containment_finds_quoted_subset(spark):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    quote = "the quick brown fox jumps over the lazy dog today"
    docs = _docs(spark, [
        (1, quote),
        (2, "intro words here " + quote + " and a very long tail of extra "
            "commentary that keeps going on and on"),
        (3, "completely unrelated text about spark query engines and "
            "distributed joins at scale")])
    out = {(r["contained"], r["container"]): r
           for r in ngram_containment_pairs(docs, "doc_id", "text").collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["containment"] >= 0.9
    # the long doc is NOT contained in the short one
    assert (2, 1) not in out
    assert all(3 not in k for k in out)


def test_containment_min_shingles_and_both_directions(spark):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    text = "alpha beta gamma delta epsilon zeta eta"
    docs = _docs(spark, [(1, text), (2, text), (3, "tiny doc")])
    got = {(r["contained"], r["container"]) for r in
           ngram_containment_pairs(docs, "doc_id", "text").collect()}
    assert got == {(1, 2), (2, 1)}      # equal sets emit both directions


def test_containment_hashed_equals_string_path(spark):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    from keboola_storage_duckdb_spark.sources.tables import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {(r["contained"], r["container"], r["inter"]) for r in
         ngram_containment_pairs(docs, "doc_id", "text",
                                 hashed_verify=True).collect()}
    b = {(r["contained"], r["container"], r["inter"]) for r in
         ngram_containment_pairs(docs, "doc_id", "text",
                                 hashed_verify=False).collect()}
    assert a == b and len(a) == 56


def test_jaccard_brute_route_equals_candidate_routes(spark, monkeypatch):
    """r17 opt: the candidate-free jaccard GEMM route must emit
    bit-identical rows to the prefix-filtered candidate route, on the
    hashed AND string verify paths, with adaptive on."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_jaccard_prefix_pairs)
    from keboola_storage_duckdb_spark.sources.tables import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for kw in ({"adaptive": True}, {"hashed_verify": False}):
        brute = sorted(map(tuple, ngram_jaccard_prefix_pairs(
            docs, "doc_id", "text", threshold=0.8, **kw).collect()))
        cand = sorted(map(tuple, _candidate_routes(
            monkeypatch, ngram_jaccard_prefix_pairs,
            docs, "doc_id", "text", threshold=0.8, **kw).collect()))
        assert brute == cand and len(brute) > 0, kw


def test_jaccard_brute_degenerate_inputs(spark, monkeypatch):
    """Duplicate ids never self-pair; shingle-free docs pair with
    nothing; output ids are (min, max)-ordered like the candidate
    route's id_a < id_b."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_jaccard_prefix_pairs)
    text = "alpha beta gamma delta epsilon zeta eta"
    docs = _docs(spark, [(1, text), (1, text), (2, text), (3, "tiny"),
                         (4, None)])
    for routes in (True, False):
        monkeypatch.setattr(util, "DRIVER_ROUTES", routes)
        got = {(r.id_a, r.id_b, r.jaccard) for r in
               ngram_jaccard_prefix_pairs(docs, "doc_id", "text",
                                          threshold=0.8).collect()}
        assert got == {(1, 2, 1.0)}, routes


def test_jaccard_brute_adaptive_density_refuses(spark, monkeypatch):
    """When the Σdf² probe would reroute the candidate path to the
    sub-recall LSH form, the (exact) brute route must refuse and let the
    adaptive routing decide — both forms give the same rows."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_jaccard_prefix_pairs)
    text = "alpha beta gamma delta epsilon zeta eta"
    docs = _docs(spark, [(i, text) for i in range(6)])
    a = sorted(map(tuple, ngram_jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=0.8, adaptive=True,
        density_limit=10).collect()))
    b = sorted(map(tuple, _candidate_routes(
        monkeypatch, ngram_jaccard_prefix_pairs,
        docs, "doc_id", "text", threshold=0.8, adaptive=True,
        density_limit=10).collect()))
    assert a == b and len(a) > 0


def test_containment_brute_degenerate_inputs(spark, monkeypatch):
    """ADVICE r16: the brute GEMM route must match the candidate routes
    on degenerate inputs — min_shingles=0 empty shingle sets pair with
    NOTHING (the accept is vacuously true at na=0 otherwise), and
    duplicate doc ids never emit (X, X) self-pairs (the join routes
    filter contained != container by ID, not by row position)."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    text = "alpha beta gamma delta epsilon zeta eta"
    # doc 3 has ZERO shingles (single token); min_shingles=0 admits it
    docs = _docs(spark, [(1, text), (2, text), (3, "tiny")])
    for routes in (True, False):
        monkeypatch.setattr(util, "DRIVER_ROUTES", routes)
        got = {(r["contained"], r["container"]) for r in
               ngram_containment_pairs(docs, "doc_id", "text",
                                       min_shingles=0).collect()}
        assert got == {(1, 2), (2, 1)}, routes
    # duplicate ids: two rows both id=1 with identical text
    dup = _docs(spark, [(1, text), (1, text), (2, text)])
    for routes in (True, False):
        monkeypatch.setattr(util, "DRIVER_ROUTES", routes)
        got = {(r["contained"], r["container"]) for r in
               ngram_containment_pairs(dup, "doc_id", "text").collect()}
        assert got == {(1, 2), (2, 1)}, routes


def test_fuzzy_variant_cap_subrecall(spark):
    from keboola_storage_duckdb_spark.operators.linkage import (
        fuzzy_pairs_symdelete)
    # 6 copies of one name (quadratic group) + one typo pair elsewhere
    rows = [(i, "dup name") for i in range(6)] + [(10, "unique x"),
                                                  (11, "unique y")]
    df = spark.createDataFrame(rows, "id long, name string")
    exact = fuzzy_pairs_symdelete(df, "id", "name").count()
    capped = {(r["id_a"], r["id_b"]) for r in
              fuzzy_pairs_symdelete(df, "id", "name",
                                    max_variant_freq=5).collect()}
    assert exact == 15 + 1                # C(6,2) dups + the typo pair
    assert capped == {(10, 11)}           # dup group dropped by the cap


def test_containment_df_cap_subrecall_and_noop(spark):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    quote = "the quick brown fox jumps over the lazy dog today"
    docs = _docs(spark, [(1, quote), (2, quote + " with a long extra tail "
                                         "of trailing commentary text")])
    exact = {(r["contained"], r["container"]) for r in
             ngram_containment_pairs(docs, "doc_id", "text").collect()}
    high = {(r["contained"], r["container"]) for r in
            ngram_containment_pairs(docs, "doc_id", "text",
                                    max_doc_freq=100).collect()}
    low = ngram_containment_pairs(docs, "doc_id", "text",
                                  max_doc_freq=0).count()
    assert (1, 2) in exact and high == exact   # generous cap = exact
    assert low == 0                            # cap 0 drops every posting


def test_containment_dense_mask_route_equals_array_route(spark,
                                                          monkeypatch):
    """All THREE routes (r16: brute GEMM default, candidate+mask join,
    candidate+array join) emit identical rows."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    from keboola_storage_duckdb_spark.sources.tables import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    brute = {tuple(r) for r in
             ngram_containment_pairs(docs, "doc_id", "text").collect()}
    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    dense = {tuple(r) for r in
             ngram_containment_pairs(docs, "doc_id", "text").collect()}
    monkeypatch.setattr(dedup_ml, "_DENSE_VOCAB_MAX", 0)
    array = {tuple(r) for r in
             ngram_containment_pairs(docs, "doc_id", "text").collect()}
    assert brute == dense == array and len(brute) == 56


def test_containment_brute_sparse_fallthrough(spark, monkeypatch):
    """When the byte gate admits the collect but the corpus turns out
    sparse (vocab > _DENSE_VOCAB_MAX), the brute helper returns None and
    the candidate-join routes serve — rows identical either way."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    words = [f"w{i}" for i in range(40)]
    docs = _docs(spark, [
        (1, " ".join(words[:20])),
        (2, " ".join(words[:18])),          # contained in 1
        (3, " ".join(words[20:40]))])
    brute = {tuple(r) for r in
             ngram_containment_pairs(docs, "doc_id", "text").collect()}
    # vocab is ~37 distinct bigrams; a vocabulary bound of 8 forces the
    # post-collect fall-through (and the join side routes to arrays)
    monkeypatch.setattr(dedup_ml, "_DENSE_VOCAB_MAX", 8)
    fell = {tuple(r) for r in
            ngram_containment_pairs(docs, "doc_id", "text").collect()}
    assert fell == brute and (2, 1) in {(a, b) for a, b, *_ in fell}


def test_stream_funnel_state_matches_batch(spark, tmp_path):
    from keboola_storage_duckdb_spark.sources.tables import load_table
    from keboola_storage_duckdb_spark.streaming.events import (
        funnel_steps, stream_funnel_state)
    steps = ["signup", "view", "click", "purchase"]
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "funnel_src")
    ev.write.parquet(src)
    got = stream_funnel_state(spark, src, ev.schema, steps)
    q = (got.writeStream.format("memory").queryName("funnel_stream")
            .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from funnel_stream").collect()
    # last update per user is the final vector (single batch here, but
    # keep it robust against multi-batch replans)
    final = {}
    for r in rows:
        final[r["user_id"]] = [r[f"r{k}"] for k in range(4)]
    stream_counts = [sum(1 for v in final.values() if v[k] is not None)
                     for k in range(4)]
    batch = {r["step"]: r["n_users"]
             for r in funnel_steps(ev, steps).collect()}
    assert stream_counts == [batch[k] for k in (1, 2, 3, 4)]
    assert stream_counts[0] > 0 and stream_counts[3] <= stream_counts[2]


# ------------------------------------------------- sequence analytics

def test_transition_matrix_probs(spark):
    from keboola_storage_duckdb_spark.streaming.events import (
        transition_matrix)
    rows = [(1, 0, 1, "view"), (2, 1, 1, "click"), (3, 2, 1, "view"),
            (4, 3, 1, "purchase"),
            (5, 0, 2, "view"), (6, 1, 2, "click")]
    out = {(r["from_type"], r["to_type"]): (r["n"], r["p"])
           for r in transition_matrix(_ev(spark, rows)).collect()}
    assert out[("view", "click")] == (2, 2 / 3)
    assert out[("view", "purchase")] == (1, 1 / 3)
    assert out[("click", "view")] == (1, 1.0)
    assert len(out) == 3                # last event of each user emits none


def test_top_paths_order_and_ties(spark):
    from keboola_storage_duckdb_spark.streaming.events import top_paths
    rows = [(1, 0, 1, "view"), (2, 1, 1, "click"),
            (3, 0, 2, "view"), (4, 1, 2, "click"),
            (5, 0, 3, "signup"),
            # user 4: same ts — event_id order decides the path
            (6, 0, 4, "view"), (7, 0, 4, "click")]
    out = [(r["path"], r["n_users"], r["rank"])
           for r in top_paths(_ev(spark, rows), k=10).collect()]
    assert out[0] == ("view>click", 3, 1)
    assert out[1] == ("signup", 1, 2)


def test_ab_test_readout_exact(spark):
    import hashlib
    from keboola_storage_duckdb_spark.streaming.events import ab_test_readout
    rows = []
    eid = 0
    for uid in range(40):
        rows.append((eid, uid, uid, "view")); eid += 1
        if uid % 3 == 0:
            rows.append((eid, uid + 1, uid, "purchase")); eid += 1
    ev = _ev(spark, [(e, m, u, t) for (e, m, u, t) in rows])
    out = {r["variant"]: r for r in ab_test_readout(ev).collect()}
    def variant(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2
    exp_n = {v: sum(1 for u in range(40) if variant(u) == v) for v in (0, 1)}
    exp_c = {v: sum(1 for u in range(40) if variant(u) == v and u % 3 == 0)
             for v in (0, 1)}
    for v in (0, 1):
        assert out[v]["n_users"] == exp_n[v]
        assert out[v]["conversions"] == exp_c[v]
        assert out[v]["rate"] == exp_c[v] / exp_n[v]
    assert out[0]["z"] == 0.0 and out[1]["z"] is not None


def test_ab_test_degenerate_pool_null_z(spark):
    from keboola_storage_duckdb_spark.streaming.events import ab_test_readout
    # nobody converts: pooled rate 0 -> z must be NULL, never NaN/inf
    rows = [(i, 0, i, "view") for i in range(10)]
    out = {r["variant"]: r["z"] for r in
           ab_test_readout(_ev(spark, rows)).collect()}
    assert out[0] == 0.0 and out[1] is None


def test_rolling_zscore_spike_and_warmup(spark):
    import datetime as dt
    from keboola_storage_duckdb_spark.streaming.events import rolling_zscore
    rows, eid = [], 0
    for h in range(30):
        n = 50 if h == 29 else (2 + (h % 3))   # spike in the last hour
        for i in range(n):
            rows.append((eid, h * 60 + i, 1, "click")); eid += 1
    out = {r["bucket"].hour + 24 * (r["bucket"].day - 1): r
           for r in rolling_zscore(_ev(spark, rows),
                                   min_obs=12).collect()}
    assert out[0]["z"] is None and out[5]["z"] is None      # warm-up
    assert out[29]["is_anomaly"] == 1 and out[29]["z"] > 3
    assert out[20]["is_anomaly"] == 0


def test_rolling_zscore_constant_series_null_z(spark):
    from keboola_storage_duckdb_spark.streaming.events import rolling_zscore
    rows, eid = [], 0
    for h in range(20):
        for i in range(4):
            rows.append((eid, h * 60 + i, 1, "view")); eid += 1
    zs = [r["z"] for r in rolling_zscore(_ev(spark, rows),
                                         min_obs=5).collect()]
    assert all(z is None for z in zs)      # zero std: guarded, not NaN
