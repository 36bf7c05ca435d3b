"""Round-8 operators: quota sampling (fixed-budget mixture), IVF recall
frame, streaming exact-dedup survivor, and the fixed-iteration k-means
oracle twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from keboola_storage_duckdb_spark.sources.tables import load_table


def test_quota_sample_budgets_and_edges(spark, sf_dir):
    """Each group yields min(quota, group size) rows; explicit zero and
    absent groups yield none; the picked rows are the group's bottom-k
    by md5(id) — deterministic across runs."""
    from keboola_storage_duckdb_spark.functions.sketch import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
                 .collect()}
    quotas = {"en": 5, "de": 2, "fr": 10_000, "zh": 0}
    out = quota_sample(docs, "lang", "doc_id", quotas).collect()

    got = {}
    for r in out:
        got.setdefault(r.g, []).append(r)
    assert set(got) <= {"en", "de", "fr"}          # zh=0, es absent
    assert len(got["en"]) == 5 and len(got["de"]) == 2
    assert len(got["fr"]) == sizes["fr"]           # over-quota = whole group
    # ranks are 1..n and agree with the bottom-k order
    from keboola_storage_duckdb_spark.functions.sketch import bottom_k_sample
    bk = {(r.g, r.sample_rank): r.id
          for r in bottom_k_sample(docs, "lang", "doc_id", k=5).collect()
          if r.g == "en"}
    for r in got["en"]:
        assert bk[("en", r.sample_rank)] == r.id


def test_quota_sample_prefilter_is_exact(spark, sf_dir, monkeypatch):
    """The hash-threshold scale path returns BIT-IDENTICAL rows to the
    naive full-rank form (the guard's contract) and to the driver route,
    including the over-quota and tiny-quota shapes."""
    from keboola_storage_duckdb_spark.functions import util
    from keboola_storage_duckdb_spark.functions.sketch import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    quotas = {"en": 3, "de": 1, "fr": 10_000, "es": 12}
    driver = {(r.g, r.sample_rank): (r.id, r.quota) for r in
              quota_sample(docs, "lang", "doc_id", quotas,
                           prefilter=True).collect()}
    # the driver routes off: the prefilter and the naive distributed forms
    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    thresh = {(r.g, r.sample_rank): (r.id, r.quota) for r in
              quota_sample(docs, "lang", "doc_id", quotas,
                           prefilter=True).collect()}
    naive = {(r.g, r.sample_rank): (r.id, r.quota) for r in
             quota_sample(docs, "lang", "doc_id", quotas,
                          prefilter=False).collect()}
    assert driver == thresh == naive and len(driver) > 0
    monkeypatch.undo()

    # r17 opt: precomputed sizes skip the probe but change nothing —
    # on the driver route AND the hash-threshold route
    from keboola_storage_duckdb_spark.functions.sketch import _group_counts
    counts = _group_counts(docs, "lang", "doc_id")
    sized = {(r.g, r.sample_rank): (r.id, r.quota) for r in
             quota_sample(docs, "lang", "doc_id", quotas,
                          prefilter=True, sizes=counts).collect()}
    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    sized_t = {(r.g, r.sample_rank): (r.id, r.quota) for r in
               quota_sample(docs, "lang", "doc_id", quotas,
                            prefilter=True, sizes=counts).collect()}
    assert sized == sized_t == naive


def test_ivf_recall_bounds_and_exact_self_consistency(spark, sf_dir):
    """recall ∈ [0, 1]; n_hits <= k; and probing EVERY cell gives
    recall 1.0 (IVF with nprobe = n_labels IS the exact search)."""
    from keboola_storage_duckdb_spark.functions.similarity import ivf_recall

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    rows = ivf_recall(emb, q, "vec_id", "embedding", "label",
                      k=5, nprobe=2).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall - r.n_hits / 5) < 1e-15
    n_labels = emb.select("label").distinct().count()
    full = ivf_recall(emb, q, "vec_id", "embedding", "label",
                      k=5, nprobe=n_labels).collect()
    assert all(r.recall == 1.0 for r in full)


def test_stream_exact_dedup_matches_batch_survivors(spark, sf_dir,
                                                    tmp_path):
    """After the stream drains, the last emission per fingerprint equals
    the batch min-id survivor — across multi-file micro-batches, with
    state bounded at one (min id, count) pair per distinct content."""
    from keboola_storage_duckdb_spark.streaming.events import (
        stream_exact_dedup)

    docs = load_table(spark, sf_dir, "documents").limit(300) \
        .select("doc_id", "text")
    src = str(tmp_path / "dedup_src")
    docs.repartition(4).write.parquet(src)

    got = stream_exact_dedup(spark, src, docs.schema,
                             id_col="doc_id", text_col="text")
    qy = (got.writeStream.format("memory").queryName("sed_test")
             .outputMode("update").trigger(availableNow=True).start())
    qy.awaitTermination(120)
    # update mode re-emits per batch; memory sink appends, so aggregate
    # the final value per fingerprint = min survivor / max n_rows seen
    final = {}
    for r in spark.sql("select * from sed_test").collect():
        cur = final.get(r.fp)
        if cur is None or r.n_rows > cur[1]:
            final[r.fp] = (r.survivor, r.n_rows)
        elif r.n_rows == cur[1] and r.survivor < cur[0]:
            final[r.fp] = (r.survivor, r.n_rows)

    batch = (docs.select(
                F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
                "doc_id")
                 .groupBy("fp")
                 .agg(F.min("doc_id").alias("survivor"),
                      F.count(F.lit(1)).alias("n_rows"))).collect()
    expected = {r.fp: (r.survivor, r.n_rows) for r in batch}
    assert final == expected


def test_token_quota_sample_greedy_prefix(spark, sf_dir):
    """Kept rows are exactly the greedy hash-order prefix whose
    exclusive cumulative weight stays under budget — verified against a
    Python model; zero budget and huge budget behave."""
    import hashlib

    from keboola_storage_duckdb_spark.functions.sketch import (
        token_quota_sample)

    docs = load_table(spark, sf_dir, "documents")
    budgets = {"en": 3000, "de": 1, "zh": 10**9, "es": 0}
    got = {(r.g, r.id): (r.weight, r.cum_before) for r in
           token_quota_sample(docs, "lang", "doc_id", "n_chars",
                              budgets).collect()}

    rows = docs.select("lang", "doc_id", "n_chars").collect()
    want = {}
    for g in {r.lang for r in rows}:
        if g not in budgets:
            continue
        members = sorted(
            (hashlib.md5(str(r.doc_id).encode()).hexdigest(),
             r.doc_id, r.n_chars) for r in rows if r.lang == g)
        cum = 0
        for _, did, w in members:
            if cum < budgets[g]:
                want[(g, did)] = (w, cum)
            cum += w
    assert got == want
    # de budget 1 keeps exactly the first doc; zh huge keeps the group
    assert sum(1 for (g, _) in got if g == "de") == 1
    assert sum(1 for (g, _) in got if g == "zh") \
        == sum(1 for r in rows if r.lang == "zh")


def test_corpus_shards_layout_and_parallel_plan(spark, sf_dir):
    """(shard, pos) is a dense 0..n_s-1 numbering per shard in global
    md5 order; changing the seed reshuffles; and the plan never plans a
    SinglePartition exchange (two-phase scan, like pack_sequences)."""
    import hashlib

    from keboola_storage_duckdb_spark.functions.packing import corpus_shards

    docs = load_table(spark, sf_dir, "documents")
    out = corpus_shards(docs, "doc_id", n_shards=4, seed="e1")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    rows = out.collect()
    assert len(rows) == docs.count()

    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    model = {}
    for r in docs.select("doc_id").collect():
        h = hashlib.md5(f"e1|{r.doc_id}".encode()).hexdigest()
        model.setdefault(int(h[:12], 16) % 4, []).append((h, r.doc_id))
    for shard, members in by_shard.items():
        want = [d for _, d in sorted(model[shard])]
        got = [r.doc_id for r in sorted(members, key=lambda r: r.pos)]
        assert [r.pos for r in sorted(members, key=lambda r: r.pos)] \
            == list(range(len(members)))
        assert got == want
    # a different seed produces a different order
    other = corpus_shards(docs, "doc_id", n_shards=4, seed="e2")
    assert {(r.doc_id, r.shard, r.pos) for r in other.collect()} \
        != {(r.doc_id, r.shard, r.pos) for r in rows}


def test_bloom_filter_one_sided_error(spark):
    """Members are NEVER missed (no false negatives) at any filter
    size; an undersized filter (1 word = 32 bits for 60 values)
    produces false positives — the documented one-sided contract.
    Merging two filters by bit_or equals building over the union."""
    from keboola_storage_duckdb_spark.functions.sketch import (
        bloom_probe, bloom_table)

    vals = spark.createDataFrame([(f"v{i}",) for i in range(60)],
                                 "s string")
    inside = vals.filter(F.col("s").isin([f"v{i}" for i in range(30)]))
    for n_words in (1, 64):
        filt = bloom_table(inside, "s", n_words=n_words, k=3)
        got = {r.item: r.bloom_member
               for r in bloom_probe(filt, vals, "s",
                                    n_words=n_words, k=3).collect()}
        assert all(got[f"v{i}"] for i in range(30))     # no false negs
        fps = sum(1 for i in range(30, 60) if got[f"v{i}"])
        if n_words == 1:
            assert fps > 0      # 32 bits for 30 values must collide
        else:
            assert fps <= 3     # 2048 bits: fp rate ~ (kn/m)^k, tiny

    # mergeability: bit_or of two partial filters == filter of union
    a = bloom_table(vals.filter(F.col("s") < "v3"), "s", 64, 3)
    b = bloom_table(vals.filter(F.col("s") >= "v3"), "s", 64, 3)
    merged = {r.word: r.bits for r in
              a.unionByName(b).groupBy("word")
               .agg(F.bit_or("bits").alias("bits")).collect()}
    whole = {r.word: r.bits for r in
             bloom_table(vals, "s", 64, 3).collect()}
    assert merged == whole


def test_encoding_quality_crafted_mojibake(spark):
    """The fixtures are all-ASCII, so exercise the rule on crafted
    damage: U+FFFD tombstones, control bytes, heavy non-ASCII — and
    pin cross-engine exactness on those strings via the SQL twin."""
    import duckdb

    from keboola_storage_duckdb_spark.functions.text import (
        ENCODING_QUALITY_SQL_TEMPLATE, encoding_quality)

    rows = [
        (1, "clean ascii text"),
        (2, "bad � tombstone"),
        (3, "ctrl\x01byte"),
        (4, "naïve café résumé"),          # some non-ASCII, under half
        (5, "ありがとうございます"),          # all non-ASCII
        (6, None),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_chars, r.n_replacement, r.n_control,
                      r.n_non_ascii, r.keep)
           for r in encoding_quality(df, "doc_id", "text").collect()}
    assert got[1] == (16, 0, 0, 0, True)
    assert got[2][1] == 1 and got[2][4] is False
    assert got[3][2] == 1 and got[3][4] is False
    assert got[4][3] == 4 and got[4][4] is True
    assert got[5][4] is False               # all non-ASCII fails ratio
    assert got[6] == (0, 0, 0, 0, True)     # NULL == empty == keep
    assert got[7] == (0, 0, 0, 0, True)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {r[0]: tuple(r[1:]) for r in con.execute(
        ENCODING_QUALITY_SQL_TEMPLATE.format(
            id_col="doc_id", text_col="text",
            table="documents")).fetchall()}
    assert got == want


def test_kmeans_fixed_agrees_with_duckdb_unrolled(spark, sf_dir, duck):
    """The 2-iteration Lloyd assignment is bit-identical to the unrolled
    DuckDB oracle (seed order, centroid means, argmin tie-breaks)."""
    import __spark_entry__ as E

    got = {r.vec_id: r.cluster
           for r in E.queries()["kmeans_fixed"](spark, sf_dir).collect()}
    want = dict(duck.execute(E.oracle_sql()["kmeans_fixed"]).fetchall())
    assert got == want


def test_stream_cm_sketch_equals_batch(spark, sf_dir, tmp_path):
    """The streaming Count-Min counters after the stream drains equal
    the batch sketch over the same rows (complete mode; state bounded
    at depth x width cells)."""
    from keboola_storage_duckdb_spark.functions.sketch import (
        cm_sketch_table)
    from keboola_storage_duckdb_spark.streaming.events import (
        stream_cm_sketch)

    ev = load_table(spark, sf_dir, "events").limit(3000)
    src = str(tmp_path / "cm_src")
    ev.repartition(3).write.parquet(src)
    got = stream_cm_sketch(spark, src, ev.schema,
                           value_col="event_type", depth=4, width=64)
    q = (got.writeStream.format("memory").queryName("cm_test")
            .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(240), "stream did not drain in time"
    stream_cells = {(r.row, r.bucket): r.cnt for r in
                    spark.sql("select * from cm_test").collect()}
    batch_cells = {(r.row, r.bucket): r.cnt for r in
                   cm_sketch_table(spark.read.parquet(src), "event_type",
                                   depth=4, width=64).collect()}
    assert stream_cells == batch_cells


def test_r8_ops_on_empty_inputs(spark):
    """Driver-resilience edges: every r8 operator returns an empty (or
    well-defined) frame on empty input instead of crashing — the
    two-phase scans exercise their empty-offsets path, the bloom probe
    its missing-filter path, leakage its empty-benchmark path."""
    from keboola_storage_duckdb_spark.functions.packing import (
        corpus_shards, pack_token_stream)
    from keboola_storage_duckdb_spark.functions.sketch import (
        bloom_probe, bloom_table, quota_sample, token_quota_sample)
    from keboola_storage_duckdb_spark.functions.spans import leakage_report
    from keboola_storage_duckdb_spark.functions.text import encoding_quality

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", 22)],
        "doc_id long, text string, lang string, n_chars int")
    empty = docs.filter(F.lit(False))

    assert corpus_shards(empty, "doc_id").count() == 0
    assert pack_token_stream(empty, "doc_id", "text").count() == 0
    assert quota_sample(empty, "lang", "doc_id", {"en": 5}).count() == 0
    assert quota_sample(docs, "lang", "doc_id", {}).count() == 0
    assert token_quota_sample(empty, "lang", "doc_id", "n_chars",
                              {"en": 5}).count() == 0
    assert encoding_quality(empty, "doc_id", "text").count() == 0

    # empty benchmark: no rows (nothing to report on); empty corpus:
    # every benchmark doc reports zero leakage
    assert leakage_report(empty, docs, "doc_id", "text", k=2).count() == 0
    r = leakage_report(docs, empty, "doc_id", "text", k=2).collect()
    assert len(r) == 1 and r[0].n_leaked == 0 \
        and r[0].leak_fraction == 0.0 and r[0].n_windows == 3

    # empty bloom build: filter has no rows, every probe is a miss
    filt = bloom_table(empty.select(F.col("text").alias("s")), "s")
    probed = bloom_probe(filt, docs.select(F.col("text").alias("s")),
                         "s").collect()
    assert len(probed) == 1 and probed[0].bloom_member is False


def test_training_pipeline_end_to_end(spark, sf_dir):
    """The full pretraining data pipeline, composed from the registry
    operators the way a user would chain them: quality filter -> exact
    span dedup (keep-first cut) -> span decontamination -> token-stream
    packing -> epoch shard layout. Asserts the conservation invariants
    each stage owes the next (no doc invented or silently dropped,
    token counts only shrink under cuts, the packed stream is gapless,
    shards partition the survivors)."""
    from keboola_storage_duckdb_spark.functions.packing import (
        corpus_shards, pack_token_stream)
    from keboola_storage_duckdb_spark.functions.spans import (
        contamination_spans, cut_spans, duplicate_spans)
    from keboola_storage_duckdb_spark.functions.text import quality_verdict

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    # 1. quality gate: keep decisions cover every doc exactly once
    verdict = quality_verdict(docs, "doc_id", "text")
    assert verdict.count() == n_docs
    kept = (docs.join(verdict.filter("keep").select("doc_id"), "doc_id"))
    n_kept = kept.count()
    assert 0 < n_kept < n_docs

    # 2. substring dedup with the keep-first survivor policy
    spans = duplicate_spans(kept, "doc_id", "text", k=8, cross_doc=True,
                            keep_first=True)
    deduped = cut_spans(kept, spans, "doc_id", "text")
    assert deduped.count() == n_kept            # cut, never dropped
    tok = deduped.filter(F.col("kept_tokens") < F.col("kept_tokens")
                         + F.col("removed_tokens"))
    assert tok.count() == spans.select("doc_id").distinct().count()

    # 3. span decontamination against a held-out split
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    clean_in = deduped.select("doc_id",
                              F.col("clean_text").alias("text"))
    cspans = contamination_spans(clean_in, bench, "doc_id", "text", k=6)
    clean = cut_spans(clean_in, cspans, "doc_id", "text")
    assert clean.count() == n_kept

    # 4. pack the surviving token stream into 512-token contexts
    packed = pack_token_stream(
        clean.select("doc_id", F.col("clean_text").alias("text")),
        "doc_id", "text", max_len=512)
    rows = sorted(packed.collect(), key=lambda r: r.start_token)
    pos = 0
    for r in rows:                               # gapless exclusive scan
        assert r.start_token == pos
        pos += r.n_tokens
    assert rows and pos == sum(r.n_tokens for r in rows)

    # 5. epoch shard layout partitions exactly the packed docs
    shards = corpus_shards(packed, "doc_id", n_shards=4, seed="ep0")
    assert shards.count() == packed.count()
    assert (shards.groupBy("shard", "pos").count()
                  .filter("count > 1").count()) == 0
