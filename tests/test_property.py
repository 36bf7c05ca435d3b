"""Property-based tests (hypothesis): dedup write modes and the typed
where-filter grammar checked against plain-Python models on randomized
inputs — the class of coverage the reference's example-based suite lacks
(SURVEY §5 "not present: property-based/randomized testing").

Small key spaces force PK collisions; explicit ``seq`` order columns make
last-wins deterministic so the model is exact.
"""

from __future__ import annotations

import operator

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 9)), min_size=0, max_size=12)

SETTINGS = dict(max_examples=12, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


def _df(spark, rows, with_seq=False):
    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    if with_seq:
        return spark.createDataFrame(data, "k long, v long, seq long")
    return spark.createDataFrame([(k, v) for k, v, _ in data],
                                 "k long, v long")


@given(existing=ROWS, staging=ROWS)
@settings(**SETTINGS)
def test_upsert_update_duplicates_model(spark, existing, staging):
    from keboola_storage_duckdb_spark.operators.dedup import (
        dedup_staging_last_wins, upsert_update_duplicates)

    # model: staging last-wins per key, overrides existing, rest inserted
    ex = {}
    for k, v in existing:
        ex[k] = v  # make existing PK-unique (last wins) for a valid target
    stg = {}
    for k, v in staging:
        stg[k] = v
    expect = {**ex, **stg}

    exd = dedup_staging_last_wins(
        _df(spark, existing, True), ["k"], "seq").select("k", "v")
    got = upsert_update_duplicates(
        exd, _df(spark, staging, True), ["k"], order_col="seq")
    assert {(r.k, r.v) for r in got.collect()} == set(expect.items())


@given(existing=ROWS, staging=ROWS)
@settings(**SETTINGS)
def test_upsert_do_nothing_model(spark, existing, staging):
    from keboola_storage_duckdb_spark.operators.dedup import (
        dedup_staging_last_wins, upsert_do_nothing)

    ex = {k: v for k, v in existing}
    expect = dict(ex)
    for k, v in staging:  # first staged row per new key wins; existing kept
        if k not in expect:
            expect[k] = v

    exd = dedup_staging_last_wins(
        _df(spark, existing, True), ["k"], "seq").select("k", "v")
    got = upsert_do_nothing(
        exd, _df(spark, staging, True), ["k"], order_col="seq")
    assert {(r.k, r.v) for r in got.collect()} == set(expect.items())


_OPS = {"eq": operator.eq, "ne": operator.ne, "gt": operator.gt,
        "ge": operator.ge, "lt": operator.lt, "le": operator.le}


_FILTERS = st.one_of(
    # any op with a single value
    st.tuples(st.sampled_from(sorted(_OPS)),
              st.lists(st.integers(-5, 5), min_size=1, max_size=1)),
    # multi-value only for eq (IN) / ne (NOT IN) — the grammar rejects the rest
    st.tuples(st.sampled_from(["eq", "ne"]),
              st.lists(st.integers(-5, 5), min_size=2, max_size=3, unique=True)),
)


@given(data=st.lists(st.integers(-5, 5), min_size=0, max_size=15),
       op_values=_FILTERS)
@settings(**SETTINGS)
def test_typed_where_model(spark, data, op_values):
    op, values = op_values
    from keboola_storage_duckdb_spark.operators.filters import typed_where

    df = spark.createDataFrame([(i, x) for i, x in enumerate(data)], "i long, x long")
    got = sorted(r.i for r in
                 df.filter(typed_where("x", op, values)).collect())
    if op == "eq" and len(values) > 1:        # eq + multi-value → IN
        expect = [i for i, x in enumerate(data) if x in values]
    elif op == "ne" and len(values) > 1:      # ne + multi-value → NOT IN
        expect = [i for i, x in enumerate(data) if x not in values]
    else:
        expect = [i for i, x in enumerate(data) if _OPS[op](x, values[0])]
    assert got == expect


@given(lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
                      min_size=1, max_size=10),
       rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
                       min_size=0, max_size=10))
@settings(**SETTINGS)
def test_asof_join_model(spark, lefts, rights):
    """as-of vs brute-force model: most recent right at-or-before each left
    (per key), ties toward the larger payload id (window tie-break)."""
    import datetime as dt
    from keboola_storage_duckdb_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(i, k, t(s)) for i, (k, s) in enumerate(lefts)],
        "eid long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(100 + i, k, t(s)) for i, (k, s) in enumerate(rights)],
        "rid long, k long, ts timestamp")
    out = asof_join(left, right.select("k", "ts", "rid"),
                    on="k", ts="ts", right_cols=["rid"], suffix="")
    got = {r.eid: r.rid for r in out.collect()}
    for i, (k, s) in enumerate(lefts):
        cands = [(rs, 100 + j) for j, (rk, rs) in enumerate(rights)
                 if rk == k and rs <= s]
        expect = max(cands)[1] if cands else None  # latest ts, then max rid
        assert got[i] == expect, (i, k, s, cands)


@given(events=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 100)),
                       min_size=1, max_size=14))
@settings(**SETTINGS)
def test_sessionize_model(spark, events):
    """sessionize vs model: per-user sorted gaps > threshold split sessions."""
    import datetime as dt
    from keboola_storage_duckdb_spark.streaming.events import sessionize

    base = dt.datetime(2024, 1, 1)
    gap_min = 1
    rows = [(i, u, base + dt.timedelta(seconds=s * 10), 1.0)
            for i, (u, s) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    got = {(r.user_id, r.session_start, r.session_end): r.n_events
           for r in sessionize(df, gap_minutes=gap_min).collect()}

    expect = {}
    for u in {u for u, _ in events}:
        ts = sorted(t for (uu, s) in events if uu == u
                    for t in [base + dt.timedelta(seconds=s * 10)])
        sess = [[ts[0]]]
        for a, b in zip(ts, ts[1:]):
            if (b - a).total_seconds() > gap_min * 60:
                sess.append([b])
            else:
                sess[-1].append(b)
        for s in sess:
            expect[(u, s[0], s[-1])] = len(s)
    assert got == expect


@given(edges=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                      min_size=1, max_size=14))
@settings(**SETTINGS)
def test_connected_components_model(spark, edges):
    """connected_components vs a plain union-find on randomized small graphs
    (self-loops and duplicate edges included)."""
    from keboola_storage_duckdb_spark.functions.graph import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.cluster for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # expected label = min vertex id per component
    comp: dict[int, list[int]] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    expect = {v: min(vs) for root, vs in comp.items() for v in vs}
    assert got == expect


@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=6),
    size=st.integers(2, 6), stride=st.integers(1, 6))
@settings(**SETTINGS)
def test_chunk_documents_model(spark, texts, size, stride):
    """Chunking invariants vs a plain-Python model: same chunk set, every
    token covered, first chunk starts at token 0, consecutive starts differ
    by exactly `stride`."""
    import re

    from keboola_storage_duckdb_spark.functions.text import (
        BPE_REGEX,
        chunk_documents,
    )
    stride = min(stride, size)  # overlap requires stride <= size
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
           for r in chunk_documents(docs, "doc_id", "text",
                                    chunk_size=size, stride=stride).collect()}
    expect = {}
    for i, t in enumerate(texts):
        toks = re.findall(BPE_REGEX, t)
        if not toks:
            continue
        last = -(-max(len(toks) - size, 0) // stride)  # ceil
        for c in range(last + 1):
            piece = toks[c * stride:c * stride + size]
            expect[(i, c)] = (" ".join(piece), len(piece))
    assert got == expect
    # coverage: the union of chunk ranges is the whole token list
    for i, t in enumerate(texts):
        toks = re.findall(BPE_REGEX, t)
        if toks:
            covered = set()
            for (d, c) in (k for k in expect if k[0] == i):
                covered |= set(range(c * stride,
                                     min(c * stride + size, len(toks))))
            assert covered == set(range(len(toks)))


@given(n_commits=st.integers(1, 6), retain=st.integers(1, 6))
@settings(**SETTINGS)
def test_version_log_model(tmp_path_factory, n_commits, retain):
    """VersionLog: versions number densely from 1; latest tracks commits;
    vacuum removes exactly the non-retained data dirs but keeps entries."""
    import os

    from keboola_storage_duckdb_spark.backends.versioned import (
        CommitConflictError,
        VersionLog,
    )
    root = str(tmp_path_factory.mktemp("vlog"))
    log = VersionLog(root)
    for i in range(n_commits):
        staged = log.staging_dir()
        os.makedirs(staged)
        with open(os.path.join(staged, "part"), "w") as f:
            f.write(str(i))
        assert log.commit(staged, f"op{i}") == i + 1
    assert log.latest_version() == n_commits
    assert [e["version"] for e in log.history()] == \
        list(range(1, n_commits + 1))
    # a stale writer (snapshot taken before the last commit) must conflict
    staged = log.staging_dir()
    os.makedirs(staged)
    try:
        log.commit(staged, "stale", version=log.latest_version())
        assert False, "stale commit must conflict"
    except CommitConflictError:
        pass
    removed = log.vacuum(retain_last=retain)
    assert removed == list(range(1, max(n_commits - retain, 0) + 1))
    # retained versions still resolve; vacuumed ones raise
    for v in range(1, n_commits + 1):
        if v in removed:
            try:
                log.data_dir(v)
                assert False
            except Exception:
                pass
        else:
            assert os.path.isdir(log.data_dir(v))


@given(vals=st.lists(
           st.floats(min_value=-1e6, max_value=1e6,
                     allow_nan=False, allow_infinity=False, width=64),
           min_size=1, max_size=40),
       probs=st.lists(st.floats(min_value=0.0, max_value=1.0,
                                allow_nan=False), min_size=1, max_size=4),
       bins=st.sampled_from([2, 4, 4096]),
       max_inbin=st.sampled_from([1, 3, 4_000_000]))
@settings(**SETTINGS)
def test_exact_quantiles_model(spark, vals, probs, bins, max_inbin):
    """Property: the bounded-memory two-pass selection is bit-identical to
    Spark's percentile() for arbitrary doubles / probabilities / bin
    configurations (tiny bins + max_inbin force deep recursive refinement
    and heavy in-bin selection)."""
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles)

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    parr = ("array(" + ",".join(f"CAST({repr(p)} AS DOUBLE)" for p in probs)
            + ")")
    ref = df.agg(F.expr(f"percentile(x, {parr})")).collect()[0][0]
    got = exact_quantiles(df, ["x"], probs, bins=bins, max_inbin=max_inbin)
    assert got["x"] == list(ref)
    # the auto route must be bit-identical on ALL THREE engine choices:
    # default = driver collect; with the driver routes off,
    # max_rows=0 forces the bounded path and the default the native
    from keboola_storage_duckdb_spark.functions import util
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles_auto)
    for routes, kw in ((True, {}), (False, {"max_rows": 0}), (False, {})):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(util, "DRIVER_ROUTES", routes)
            auto = exact_quantiles_auto(df, ["x"], probs, bins=bins,
                                        max_inbin=max_inbin, **kw)
        assert auto["x"] == list(ref), f"route={routes, kw}"


@given(rows=st.lists(
           st.tuples(st.integers(0, 3),
                     st.one_of(st.none(),
                               st.floats(min_value=-1e6, max_value=1e6,
                                         allow_nan=False))),
           min_size=1, max_size=30),
       probs=st.lists(st.floats(min_value=0.0, max_value=1.0,
                                allow_nan=False), min_size=1, max_size=3),
       bins=st.sampled_from([2, 1024]),
       max_inbin=st.sampled_from([1, 100_000]))
@settings(**SETTINGS)
def test_grouped_quantile_engines_model(spark, rows, probs, bins, max_inbin):
    """Property: BOTH grouped engines — the driver-metadata hybrid
    (exact_quantiles_grouped_frame) and the fully in-plan DAG
    (grouped_quantiles_df) — are bit-identical to per-group percentile()
    for arbitrary (group, nullable double) rows, probabilities and bin
    configurations (tiny bins/max_inbin force refinement + selection)."""
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles_grouped_frame, grouped_quantiles_df)

    df = spark.createDataFrame(rows, "g long, v double")
    parr = ("array(" + ",".join(f"CAST({repr(p)} AS DOUBLE)" for p in probs)
            + ")")
    ref = {r.g: (list(r.qs) if r.qs is not None else [None] * len(probs))
           for r in df.groupBy("g")
                      .agg(F.expr(f"percentile(v, {parr})").alias("qs"))
                      .collect()}
    nref = {r.g: r.n for r in
            df.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    for fn in (exact_quantiles_grouped_frame, grouped_quantiles_df):
        out = fn(df, "g", "v", probs, bins=bins,
                 max_inbin=max_inbin).collect()
        assert {r.g: list(r.qs) for r in out} == ref, fn.__name__
        assert {r.g: r.n for r in out} == nref, fn.__name__


DOC_TEXTS = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=14)
      .map(lambda toks: " ".join(toks)),
    min_size=0, max_size=6)


def _brute_spans(texts: list[str], k: int, cross_doc: bool):
    """Plain-Python duplicate_spans model: window multiset → marked
    positions → island merge (merge while pos <= prev + k)."""
    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    wins: dict[str, list[tuple[int, int]]] = {}
    for i, ts in toks.items():
        if len(ts) < k:
            continue
        for p in range(len(ts) - k + 1):
            wins.setdefault(" ".join(ts[p:p + k]), []).append((i, p))
    expect = set()
    for i, ts in toks.items():
        marked = sorted(
            p for w, occs in wins.items() for (d, p) in occs
            if d == i and (len({dd for dd, _ in occs}) > 1 if cross_doc
                           else len(occs) > 1))
        if not marked:
            continue
        start, prev, n = marked[0], marked[0], 1
        for p in marked[1:]:
            if p <= prev + k:
                prev, n = p, n + 1
            else:
                expect.add((i, start, prev + k, prev + k - start, n))
                start, prev, n = p, p, 1
        expect.add((i, start, prev + k, prev + k - start, n))
    return expect


@given(texts=DOC_TEXTS, k=st.integers(2, 4),
       cross=st.booleans())
@settings(**SETTINGS)
def test_duplicate_spans_model(spark, texts, k, cross):
    from keboola_storage_duckdb_spark.functions.spans import (
        cut_spans, duplicate_spans)

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    spans = duplicate_spans(df, "doc_id", "text", k=k, cross_doc=cross)
    got = {(r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_windows)
           for r in spans.collect()}
    assert got == _brute_spans(texts, k, cross)

    # cut model: drop tokens covered by any span; empty-doc normalization
    covered = {}
    for d, s, e, _, _ in got:
        covered.setdefault(d, set()).update(range(s, e))
    out = {r.doc_id: r for r in
           cut_spans(df, spans, "doc_id", "text").collect()}
    for i, t in enumerate(texts):
        ts = t.split(" ")
        keep = [tok for p, tok in enumerate(ts)
                if p not in covered.get(i, set())]
        assert out[i].clean_text == " ".join(keep), (i, texts)
        assert out[i].removed_tokens == len(ts) - len(keep)


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 40)),
                     min_size=0, max_size=25, unique_by=lambda t: t),
       quotas=st.dictionaries(st.integers(0, 4), st.integers(0, 6),
                              max_size=5))
@settings(**SETTINGS)
def test_quota_sample_matches_python_model(spark, rows, quotas):
    """quota_sample (prefilter path) vs a brute-force Python model:
    per group, the quota smallest md5(id) rows with ranks 1..n —
    randomized group sizes, quotas (incl. 0 / over-size / absent)."""
    import hashlib

    from keboola_storage_duckdb_spark.functions.sketch import quota_sample

    df = spark.createDataFrame(rows or [(99, -1)], "g int, id long")
    if not rows:
        df = df.filter(F.lit(False))
    got = {(r.g, r.sample_rank): (r.id, r.quota)
           for r in quota_sample(df, "g", "id",
                                 {str(k): v for k, v in quotas.items()}
                                 ).collect()}
    want = {}
    for g in {r[0] for r in rows}:
        q = quotas.get(g)
        if not q:
            continue
        members = sorted((hashlib.md5(str(i).encode()).hexdigest(), i)
                         for gg, i in rows if gg == g)
        for rank, (_, i) in enumerate(members[:q], 1):
            want[(str(g), rank)] = (i, q)
    assert got == want


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 40),
                               st.integers(0, 9)),
                     min_size=0, max_size=25,
                     unique_by=lambda t: (t[0], t[1])),
       budgets=st.dictionaries(st.integers(0, 4), st.integers(0, 30),
                               max_size=5))
@settings(**SETTINGS)
def test_token_quota_sample_matches_python_model(spark, rows, budgets):
    """token_quota_sample vs brute force: the greedy hash-order prefix
    whose EXCLUSIVE cumulative weight stays under budget — randomized
    weights (incl. zero-weight rows) and budgets (incl. zero)."""
    import hashlib

    from keboola_storage_duckdb_spark.functions.sketch import (
        token_quota_sample)

    df = spark.createDataFrame(rows or [(99, -1, 0)],
                               "g int, id long, w int")
    if not rows:
        df = df.filter(F.lit(False))
    got = {(r.g, r.id): (r.weight, r.cum_before)
           for r in token_quota_sample(
               df, "g", "id", "w",
               {str(k): v for k, v in budgets.items()}).collect()}
    want = {}
    for g in {r[0] for r in rows}:
        b = budgets.get(g)
        if b is None:
            continue
        members = sorted((hashlib.md5(str(i).encode()).hexdigest(), i, w)
                         for gg, i, w in rows if gg == g)
        cum = 0
        for _, i, w in members:
            if cum < b:
                want[(str(g), i)] = (w, cum)
            cum += w
    assert got == want


@given(a=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)),
                  min_size=0, max_size=15),
       b=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)),
                  min_size=0, max_size=15),
       k=st.integers(1, 4))
@settings(**SETTINGS)
def test_rrf_fuse_matches_python_model(spark, a, b, k):
    """Model: per (query, doc), rrf = 1/(60+rank_a) + 1/(60+rank_b)
    with a missing system contributing 0; final top-k per query ranked
    (score desc, doc asc). Input lists are (query, doc) pairs ranked by
    list position within each query."""
    from keboola_storage_duckdb_spark.functions.similarity import rrf_fuse

    def ranked(pairs):
        seen, out = set(), {}
        for q, d in pairs:
            if (q, d) in seen:
                continue
            seen.add((q, d))
            out[(q, d)] = sum(1 for (q2, _) in out if q2 == q) + 1
        return out

    ra, rb = ranked(a), ranked(b)
    scores = {}
    for (q, d), r in ra.items():
        scores[(q, d)] = scores.get((q, d), 0.0) + 1.0 / (60 + r)
    for (q, d), r in rb.items():
        scores[(q, d)] = scores.get((q, d), 0.0) + 1.0 / (60 + r)
    expect = {}
    for q in {q for q, _ in scores}:
        docs = sorted(((d, s) for (q2, d), s in scores.items() if q2 == q),
                      key=lambda t: (-t[1], t[0]))
        for i, (d, s) in enumerate(docs[:k], 1):
            expect[(q, d)] = (s, i)

    def df(r):
        rows = [(q, d, rank) for (q, d), rank in r.items()]
        return spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank int")

    got = {(r.query_id, r.neighbor_id): (r.rrf_score, r.rank)
           for r in rrf_fuse(df(ra), df(rb), k=k).collect()}
    assert got == expect


@given(ids=st.lists(st.integers(0, 30), min_size=0, max_size=10))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_index_delete_model(spark, sf_dir, tmp_path_factory, ids):
    """Model: postings after delete == original ids minus the delete
    set, for any subset (present, absent, duplicated ids)."""
    from keboola_storage_duckdb_spark.functions import ann_index as AI
    from keboola_storage_duckdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(40)
    path = str(tmp_path_factory.mktemp("pdel") / "idx")
    AI.pq_index_build(emb, "vec_id", "embedding", path,
                      label_col="label")
    before = {r.id for r in AI.pq_index_load(spark, path)
                            .codes(spark).select("id").collect()}
    AI.pq_index_delete(spark, path, ids)
    after = {r.id for r in AI.pq_index_load(spark, path)
                           .codes(spark).select("id").collect()}
    assert after == before - set(ids)
