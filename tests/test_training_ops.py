"""Training-data pipeline operators: dedup families, similarity, text,
multimodal plumbing, sessionization."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different words entirely here now"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "one"),                                            # <2 tokens
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_jaccard_finds_near_dups(docs):
    from keboola_storage_duckdb_spark.functions.dedup_ml import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert pairs[(0, 3)] == 1.0          # exact dup
    assert 0.5 <= pairs[(0, 1)] < 1.0    # near dup
    assert (0, 2) not in pairs


def test_minhash_lsh_agrees_with_exact(docs):
    from keboola_storage_duckdb_spark.functions.dedup_ml import minhash_lsh_pairs

    got = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    # exact dup pair must always survive LSH (identical signatures)
    assert (0, 3) in got


def test_simhash_fold_equals_grouped(spark, sf_dir):
    """The shuffle-free per-row fold signature must be bit-identical to
    the explode+groupBy formulation it replaced."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        simhash,
        simhash_grouped,
    )
    from keboola_storage_duckdb_spark.sources.tables import load_table
    d = load_table(spark, sf_dir, "documents")
    a = {(r.id, r.simhash) for r in simhash(d, "doc_id", "text").collect()}
    # r17: the Arrow default must equal the JVM fold bit-for-bit
    af = {(r.id, r.simhash) for r in
          simhash(d, "doc_id", "text", arrow=False).collect()}
    assert a == af
    b = {(r.id, r.simhash)
         for r in simhash_grouped(d, "doc_id", "text").collect()}
    assert a == b and a


def test_simhash_bits_out_of_range_raises(docs):
    """Token hashes are 32-bit: ``bits`` past 32 would shift the Arrow
    kernel's uint32 past its width (undefined; the JVM fold gives 0
    votes there), so out-of-range widths are refused up front."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import simhash

    for bits in (0, 33, 64):
        with pytest.raises(ValueError, match="bits"):
            simhash(docs, "doc_id", "text", bits=bits)
        with pytest.raises(ValueError, match="bits"):
            simhash(docs, "doc_id", "text", bits=bits, arrow=False)
    a = {(r.id, r.simhash) for r in
         simhash(docs, "doc_id", "text", bits=16).collect()}
    b = {(r.id, r.simhash) for r in
         simhash(docs, "doc_id", "text", bits=16, arrow=False).collect()}
    assert a == b and all(0 <= s < 1 << 16 for _, s in a)


def test_simhash_identical_docs_zero_hamming(docs):
    from keboola_storage_duckdb_spark.functions.dedup_ml import simhash_pairs

    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(docs, "doc_id", "text", max_hamming=8).collect()}
    assert got[(0, 3)] == 0


def test_shingle_guard_short_docs(docs):
    from keboola_storage_duckdb_spark.functions.dedup_ml import shingle_df

    sh = shingle_df(docs, "doc_id", "text")
    assert sh.filter(F.col("id") == 4).count() == 0  # "one" yields no bigram


def test_brute_force_topk_self_excluded(spark):
    from keboola_storage_duckdb_spark.functions.similarity import brute_force_topk

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        ["vec_id", "embedding"])
    out = brute_force_topk(vecs, vecs.filter("vec_id = 0"), "vec_id",
                           "embedding", k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]
    assert all(r.query_id == 0 and r.neighbor_id != 0 for r in out)


def test_lsh_ann_subset_of_exact(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.similarity import (
        brute_force_topk, lsh_ann_topk)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 3")
    exact = brute_force_topk(emb, q, "vec_id", "embedding", k=20)
    approx = lsh_ann_topk(emb, q, "vec_id", "embedding", k=5, n_planes=4)
    # every ANN neighbor's score must equal the exact score for that pair
    ex = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in ex:
            assert ex[key] == r.score


def test_chunk_documents_boundaries(spark):
    from keboola_storage_duckdb_spark.functions.text import chunk_documents
    docs = spark.createDataFrame(
        [(1, "one two three four"),            # n=4 == size → 1 chunk
         (2, "a b c d e f"),                   # n=6 → starts 0, 3 → 2 chunks
         (3, ""),                              # empty → no chunks
         (4, "x")],                            # n=1 → 1 short chunk
        ["doc_id", "text"])
    out = chunk_documents(docs, "doc_id", "text", chunk_size=4, stride=3)
    rows = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
            for r in out.collect()}
    assert rows == {
        (1, 0): ("one two three four", 4),
        (2, 0): ("a b c d", 4),
        (2, 1): ("d e f", 3),                  # overlap of 1 token at stride 3
        (4, 0): ("x", 1),
    }


def test_decontaminate_flags_overlap(spark):
    from keboola_storage_duckdb_spark.functions.dedup_ml import decontaminate
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "a quick brown dog"),        # shares shingle 'quick brown'
         (2, "entirely different words here"),
         (3, "fox jumps high")],          # shares 'fox jumps'
        ["doc_id", "text"])
    out = {r.doc_id: (r.n_shared, r.contaminated)
           for r in decontaminate(corpus, bench, "doc_id", "text").collect()}
    assert out == {1: (1, True), 2: (0, False), 3: (1, True)}


def test_gopher_rules(spark):
    from keboola_storage_duckdb_spark.functions.text import gopher_quality
    good = "the cat and the dog have been known to sit with that old mat"
    docs = spark.createDataFrame(
        [(1, good),                                  # passes all but count
         (2, "xx " * 5 + "### ### ### ### ###"),     # symbol + stopword fail
         (3, "a b c d e f g h i j")],                # mean-len + stopword fail
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           gopher_quality(docs, "doc_id", "text", min_words=5).collect()}
    assert out[1].keep
    assert not out[2].ok_symbol and not out[2].keep
    assert not out[3].ok_mean_len and not out[3].ok_stop


def test_pii_redact_patterns(spark):
    from keboola_storage_duckdb_spark.functions.text import pii_redact
    docs = spark.createDataFrame(
        [(1, "mail bob@example.com or +420123456789 from 10.0.0.1"),
         (2, "call 555-867-5309 twice 555-867-5309"),
         (3, "nothing sensitive here")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in pii_redact(docs, "doc_id", "text").collect()}
    assert out[1].redacted == "mail [EMAIL] or [PHONE] from [IP]"
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 1, 1)
    assert out[2].redacted == "call [PHONE] twice [PHONE]"
    assert out[2].n_phones == 2
    assert out[3].redacted == "nothing sensitive here"


def test_language_id_und_fallback(spark):
    from keboola_storage_duckdb_spark.functions.text import language_id

    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "zzz qqq xxx")], ["doc_id", "text"])
    got = {r.id: r.pred_lang for r in language_id(df, "doc_id", "text").collect()}
    assert got[0] == "en"
    assert got[1] == "und"


def test_fingerprint_normalization(spark):
    from keboola_storage_duckdb_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [(0, "Hello,  World!"), (1, "hello world"), (2, "other")],
        ["doc_id", "text"])
    got = {r.id: r.fp for r in fingerprint(df, "doc_id", "text").collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_multimodal_plumbing(docs):
    from keboola_storage_duckdb_spark.functions.multimodal import (
        decode_image, extract_features, to_binary_payload)

    payload = to_binary_payload(docs, "doc_id", "text")
    assert dict(payload.dtypes)["payload"] == "binary"
    feats = extract_features(payload).collect()
    assert len(feats) == docs.count()
    by_id = {r.id: r for r in feats}
    assert by_id[0].n_bytes == len("the quick brown fox jumps over the lazy dog")
    assert by_id[0].content_md5 == by_id[3].content_md5  # exact dups
    assert 16 <= by_id[0].fake_width < 256
    with pytest.raises(ValueError):
        decode_image(b"xx")  # needs a codec we don't ship


def test_sessionize_gap(spark):
    import datetime as dt

    from keboola_storage_duckdb_spark.streaming.events import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 100, t0, 1.0, "a"),
        (2, 100, t0 + dt.timedelta(minutes=10), 1.0, "a"),
        (3, 100, t0 + dt.timedelta(minutes=60), 1.0, "a"),  # new session
        (4, 200, t0, 1.0, "a"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value", "event_type"])
    out = sessionize(ev, gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[100]) == 2
    assert len(per_user[200]) == 1
    s1 = sorted(per_user[100], key=lambda r: r.session_idx)
    assert s1[0].n_events == 2 and s1[1].n_events == 1


def test_stream_hourly_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Structured-Streaming twin (availableNow) == batch rollup."""
    from keboola_storage_duckdb_spark.sources.tables import load_table
    from keboola_storage_duckdb_spark.streaming.events import (
        hourly_rollup, stream_hourly_rollup)

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)  # µs timestamps so readStream sees a legal schema
    stream_df = stream_hourly_rollup(spark, src, ev.schema)
    q = (stream_df.writeStream.format("memory").queryName("rollup_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.bucket, r.event_type): (r.n_events, r.sum_value)
           for r in spark.sql("SELECT * FROM rollup_test").collect()}
    want = {(r.bucket, r.event_type): (r.n_events, r.sum_value)
            for r in hourly_rollup(ev).collect()}
    assert got == want


def test_pack_token_stream_matches_global_window(spark, sf_dir):
    """Two-phase exclusive scan == the naive single-partition global
    window cumsum, bit-for-bit, and zero-token docs occupy no span."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from keboola_storage_duckdb_spark.functions.packing import (
        pack_token_stream)
    from keboola_storage_duckdb_spark.functions.text import BPE_REGEX
    from keboola_storage_duckdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {r.doc_id: (r.n_tokens, r.start_token, r.first_chunk,
                      r.last_chunk, r.n_chunks)
           for r in pack_token_stream(docs, "doc_id", "text",
                                      max_len=512, partitions=7).collect()}
    toks = (docs.select(
                "doc_id",
                F.size(F.regexp_extract_all(F.col("text"),
                                            F.lit(BPE_REGEX), F.lit(0)))
                 .cast("long").alias("n"))
                .filter(F.col("n") > 0))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    ref = {r.doc_id: (r.n, r.s, r.s // 512, (r.s + r.n - 1) // 512,
                      (r.s + r.n - 1) // 512 - r.s // 512 + 1)
           for r in toks.withColumn(
               "s", F.coalesce(F.sum("n").over(w), F.lit(0))).collect()}
    assert got == ref and len(got) > 0

    # empty / null docs occupy no span and shift nothing
    d2 = spark.createDataFrame(
        [(1, "aa bb"), (2, ""), (3, None), (4, "cc")],
        "doc_id long, text string")
    out = {r.doc_id: (r.start_token, r.n_tokens) for r in
           pack_token_stream(d2, "doc_id", "text", max_len=3).collect()}
    assert out == {1: (0, 2), 4: (2, 1)}


def test_exclusive_scan_driver_gates_refuse(spark):
    """Ties, nulls and exotic key types in the order column refuse the
    driver scan (ordering among ties is undefined in both forms) and the
    distributed scan serves."""
    from pyspark.sql import functions as F

    from keboola_storage_duckdb_spark.functions.packing import (
        _exclusive_scan_driver)

    tied = spark.createDataFrame(
        [(1, "k1", 2), (2, "k1", 3), (3, "k2", 5)],
        "doc_id long, h string, n long")
    assert _exclusive_scan_driver(tied, "h", [], "n", "s") is None
    withnull = spark.createDataFrame(
        [(1, None, 2), (2, "k1", 3)], "doc_id long, h string, n long")
    assert _exclusive_scan_driver(withnull, "h", [], "n", "s") is None
    dated = spark.createDataFrame(
        [(1, 2)], "doc_id long, n long").withColumn(
            "h", F.current_date())
    assert _exclusive_scan_driver(dated, "h", [], "n", "s") is None
    ok = spark.createDataFrame(
        [(1, "a", 2), (2, "b", 3)], "doc_id long, h string, n long")
    out = _exclusive_scan_driver(ok, "h", [], "n", "s")
    assert out is not None
    assert {(r.doc_id, r.s) for r in out.collect()} == {(1, 0), (2, 2)}


def test_quality_verdict_reasons(spark):
    """Composed filter stack: keep only when every rule passes; reasons
    list the failed rules in QUALITY_RULES order."""
    from keboola_storage_duckdb_spark.functions.text import (
        QUALITY_RULES, quality_verdict)

    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks back home with a friend to rest for a while "
            "because the day was long and the sun was very warm "
            "so they sat down by the river and talked about all "
            "the small things that had happened in that strange week")
    short = "too short"
    symbols = "# " * 60
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           quality_verdict(df, "doc_id", "text").collect()}
    assert out[1].keep is True and out[1].reasons == []
    assert out[1].lang == "en"
    assert out[2].keep is False and "word_count" in out[2].reasons
    assert out[3].keep is False
    assert {"symbol_ratio", "alpha_words"} <= set(out[3].reasons)
    # reasons respect the declared rule order
    order = [nm for nm, _ in QUALITY_RULES]
    for r in out.values():
        assert r.reasons == sorted(r.reasons, key=order.index)


def test_gopher_quality_null_text(spark):
    """NULL text normalizes to the empty doc (r7 review: Spark's
    non-ANSI size(split(NULL)) = -1 silently diverged from DuckDB's
    len(NULL) = NULL in every rule — latent until a NULL text appears)."""
    import duckdb

    from keboola_storage_duckdb_spark.functions.text import (
        GOPHER_SQL_TEMPLATE, GOPHER_STOPWORDS, gopher_quality)

    df = spark.createDataFrame(
        [(1, None), (2, "the and of to a in is was")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           gopher_quality(df, "doc_id", "text").collect()}
    assert got[1].keep is False and got[1].n_words == 1   # [''] one token

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, NULL), "
                "(2, 'the and of to a in is was')")
    sql = GOPHER_SQL_TEMPLATE.format(
        id_col="doc_id", text_col="text", table="documents",
        min_words=50, max_words=100_000,
        stopwords=", ".join(f"'{w}'" for w in GOPHER_STOPWORDS))
    duck = {r[0]: r for r in con.execute(sql).fetchall()}
    for d in (1, 2):
        g = got[d]
        assert duck[d] == (g.doc_id, g.n_words, g.ok_count, g.ok_mean_len,
                           g.ok_symbol, g.ok_alpha, g.ok_stop, g.keep), d


def test_corpus_pipeline_end_to_end(spark, sf_dir):
    """The composed training-data pipeline a real user runs, chained
    through the actual operators: quality filter (with reasons) →
    substring-dedup cut → token chunking → deterministic per-language
    sample. Pins that the stages COMPOSE: schemas line up, filters
    propagate, and every stage's output feeds the next untouched."""
    from pyspark.sql import functions as F

    from keboola_storage_duckdb_spark.functions.sketch import weighted_sample
    from keboola_storage_duckdb_spark.functions.spans import (
        cut_spans, duplicate_spans)
    from keboola_storage_duckdb_spark.functions.text import (
        chunk_documents, quality_verdict)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    # 1. filter: keep survivors of the composed rule stack
    verdict = quality_verdict(docs, "doc_id", "text")
    kept = (docs.join(
        verdict.filter("keep")
               .select("doc_id", F.col("lang").alias("pred_lang")),
        "doc_id"))
    n_kept = kept.count()
    assert 0 < n_kept < n_docs

    # 2. dedup: cut cross-doc duplicated spans out of the survivors
    spans = duplicate_spans(kept, "doc_id", "text", k=8)
    clean = cut_spans(kept, spans, "doc_id", "text")
    assert clean.count() == n_kept             # left join: no doc dropped
    removed = clean.agg(F.sum("removed_tokens")).collect()[0][0]
    assert removed > 0                         # fixture has near-dup docs

    # 3. chunk the cleaned text into training windows
    chunks = chunk_documents(
        clean.filter("kept_tokens > 0"), "doc_id", "clean_text",
        chunk_size=32, stride=24)
    assert chunks.count() > 0

    # 4. language-balanced deterministic sample of the survivors
    weighted = kept.select("doc_id", "pred_lang",
                           F.size(F.split("text", " ")).alias("w"))
    sample = weighted_sample(weighted, "pred_lang", "doc_id", "w", k=4)
    per_lang = {r.group: r.n for r in
                sample.groupBy("group").agg(F.count("*").alias("n"))
                      .collect()}
    assert all(n == 4 for n in per_lang.values())
    # sampled ids are survivors (weights came from the kept frame)
    ids = {r.id for r in sample.collect()}
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert ids <= kept_ids


def test_epoch_plan_totals_preserving(spark, sf_dir):
    """Every mixture-kept document with >=1 token lands in exactly one
    shard at exactly one offset; within each shard the spans tile
    [0, sum(n_tokens)) with no gap or overlap; chunk ids follow the
    max_len arithmetic; and the kept set IS the certified
    temperature_mixture draw."""
    from keboola_storage_duckdb_spark.functions.packing import epoch_plan
    from keboola_storage_duckdb_spark.functions.sketch import (
        temperature_mixture)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = epoch_plan(docs, "lang", "doc_id", "text", budget=200,
                     n_shards=4, max_len=64, seed="epoch").collect()
    kept = {r["id"] for r in
            temperature_mixture(docs, "lang", "doc_id", 200).collect()}
    assert {r.doc_id for r in out} <= kept
    assert len({r.doc_id for r in out}) == len(out)  # one slot per doc
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
        assert r.first_chunk == r.start_token // 64
        assert r.last_chunk == (r.start_token + r.n_tokens - 1) // 64
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1
    assert set(by_shard) <= {0, 1, 2, 3} and len(by_shard) > 1
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.start_token)
        pos = 0
        for r in rows:  # perfect tiling: no gap, no overlap
            assert r.start_token == pos, (shard, r)
            pos += r.n_tokens


def test_bfd_pack_invariants(spark, sf_dir):
    """BFD frame invariants: per shard, bins_used sits in
    [lower_bound, next_fit_bins], wastage is exactly the bin-capacity
    remainder, the fill ratio matches, and the whole frame is
    deterministic across runs. Oversize docs clip to capacity (so no
    single doc can exceed a bin)."""
    from keboola_storage_duckdb_spark.functions.packing import bfd_pack
    from keboola_storage_duckdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = {r.shard: r for r in
           bfd_pack(docs, "doc_id", "text", max_len=64,
                    n_shards=8).collect()}
    assert len(out) == 8
    for r in out.values():
        assert r.lower_bound <= r.bins_used <= r.next_fit_bins, r
        assert r.wastage_tokens == r.bins_used * 64 - r.n_tokens, r
        assert abs(r.fill_ratio - r.n_tokens / (r.bins_used * 64.0)) \
            < 1e-12
        assert r.n_docs > 0 and r.n_tokens > 0
    again = {r.shard: r for r in
             bfd_pack(docs, "doc_id", "text", max_len=64,
                      n_shards=8).collect()}
    assert {k: tuple(v) for k, v in out.items()} \
        == {k: tuple(v) for k, v in again.items()}
    # totals preserved across the shard partition: every >=1-token doc
    # counted exactly once
    from pyspark.sql import functions as F
    from keboola_storage_duckdb_spark.functions.text import BPE_REGEX
    n_docs = docs.filter(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX),
                                    F.lit(0))) > 0).count()
    assert sum(r.n_docs for r in out.values()) == n_docs


def test_bfd_bisect_equals_naive():
    """The sorted-list+bisect BFD core (VERDICT r11 #3) must produce the
    exact remaining-capacity multiset of the original naive
    tightest-fit scan with its lowest-index tie-break — equal-capacity
    bins are interchangeable, so dropping the index from the tie-break
    is output-identical. Pin it against the reference scan on random
    workloads plus the adversarial edge shapes (all-equal sizes,
    exact-fill pairs, all-oversize-clipped)."""
    import random

    from keboola_storage_duckdb_spark.functions.packing import \
        _bfd_remaining

    def naive(sizes, cap):
        remaining = []
        for size in sorted(sizes, reverse=True):
            best, best_rem = -1, cap + 1
            for i, rem in enumerate(remaining):
                if size <= rem < best_rem:
                    best, best_rem = i, rem
            if best < 0:
                remaining.append(cap - size)
            else:
                remaining[best] -= size
        return sorted(remaining)

    rng = random.Random(12)
    cases = [
        [7] * 50,                       # all equal
        [3, 5, 3, 5, 4, 4],             # exact-fill pairs at cap=8
        [9, 17, 100],                   # nothing shares a bin at cap=8
        [1],
        [],
    ]
    for _ in range(30):
        cases.append([rng.randint(1, 8) for _ in range(rng.randint(0, 120))])
    for sizes in cases:
        for cap in (8, 16, 64):
            clipped = [min(s, cap) for s in sizes]
            assert _bfd_remaining(clipped, cap) == naive(clipped, cap), \
                (cap, sizes)


def test_padding_waste_identities(spark, sf_dir):
    """kept + trunc == total tokens; pad + kept == docs*L; packed_seqs
    is the ceil lower bound."""
    from keboola_storage_duckdb_spark.functions.packing import (
        padding_waste)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for r in padding_waste(docs, "lang", "doc_id", "text",
                           max_len=64).collect():
        assert r.trunc_tokens + (r.n_docs * 64 - r.pad_tokens) \
            == r.n_tokens
        assert r.packed_seqs == (r.n_tokens + 63) // 64
        assert 0 < r.pad_fill <= 1 and 0 < r.packed_fill <= 1


def test_zorder_layout_skipping_gain(spark, sf_dir):
    """Z-order frame invariants: buckets partition the rows (counts
    sum to the table), span fractions are in (0, 1], and the POINT of
    the layout — the Z-order buckets' mean span on the SECOND
    dimension is far below the natural layout's (which cannot skip on
    y at all: its per-bucket y span stays ~the full range), while
    x-skipping stays useful."""
    from keboola_storage_duckdb_spark.functions.layout import (
        zorder_layout_frame)
    from keboola_storage_duckdb_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date")).alias("d"))
    rows = zorder_layout_frame(orders, "o_custkey", "d",
                               n_buckets=64).collect()
    n_total = orders.count()
    by_layout = {}
    for r in rows:
        by_layout.setdefault(r.layout, []).append(r)
        assert 0 < r.x_span_frac <= 1 and 0 < r.y_span_frac <= 1, r
        assert r.x_min <= r.x_max and r.y_min <= r.y_max
    for layout, rs in by_layout.items():
        assert sum(r.n_rows for r in rs) == n_total, layout
    mean = lambda rs, c: sum(getattr(r, c) for r in rs) / len(rs)
    nat, zo = by_layout["natural"], by_layout["zorder"]
    # natural sort on x: near-perfect x skipping, zero y skipping
    assert mean(nat, "y_span_frac") > 0.9
    # z-order: buys y skipping (each bucket spans a fraction of y)...
    assert mean(zo, "y_span_frac") < 0.6 * mean(nat, "y_span_frac")
    # ...without giving up x entirely (still far better than no sort)
    assert mean(zo, "x_span_frac") < 0.5


def test_zorder_key_is_morton_interleave(spark):
    """The key expression is the exact Morton interleave: hand-check
    small values (x bits at even positions, y at odd) with ranges
    that make the 16-bit scaling the identity."""
    from keboola_storage_duckdb_spark.functions.layout import (
        zorder_key_expr)
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long")
    got = {(r.x, r.y): r.z for r in df.select(
        "x", "y", zorder_key_expr("x", "y", 0, 65535, 0, 65535)
        .alias("z")).collect()}

    def morton(x, y):
        z = 0
        for i in range(16):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y, z)


def test_ivf_kmeans_full_probe_equals_exact(spark, sf_dir):
    """Trained-quantizer IVF (r12): probing EVERY trained list is a
    no-op filter, so nprobe >= n_clusters must equal the exact
    squared-L2 top-k row-for-row; nprobe=1 must return neighbors only
    from each query's single probed list; and the plan must broadcast
    the routed probes (no cartesian, no single-partition sort)."""
    from keboola_storage_duckdb_spark.functions.clustering import (
        ivf_kmeans_ann_topk, kmeans_fit)
    from keboola_storage_duckdb_spark.functions.similarity import (
        exact_l2_topk)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    full = ivf_kmeans_ann_topk(emb, q, "vec_id", "embedding", k=5,
                               n_clusters=4, rounds=2, nprobe=4)
    exact = exact_l2_topk(emb, q, "vec_id", "embedding", k=5)
    assert sorted(map(tuple, full.collect())) \
        == sorted(map(tuple, exact.collect()))

    one = ivf_kmeans_ann_topk(emb, q, "vec_id", "embedding", k=5,
                              n_clusters=4, rounds=2, nprobe=1)
    asg, _ = kmeans_fit(emb, "vec_id", "embedding", k=4, rounds=2)
    cl = {r.id: r.cluster for r in asg.select("id", "cluster").collect()}
    by_q = {}
    for r in one.collect():
        by_q.setdefault(r.query_id, set()).add(cl[r.neighbor_id])
    for qid, labs in by_q.items():
        assert len(labs) == 1, (qid, labs)   # one probed list only

    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_cosine_near_dup_exact_join_matches_crossjoin_reference(spark):
    """The r14 two-stage unblocked path (BLAS candidate superset + exact
    JVM verify) must be row-identical to the legacy corpus×corpus cross
    join it replaced — including the edge cases the kernel special-cases:
    null id, null vector, mixed-length vectors (JVM zip_with null-pads →
    null score → dropped), a pair exactly AT the threshold, and one just
    below it (the candidate slack must not leak sub-threshold pairs)."""
    from pyspark.sql import types as T

    from keboola_storage_duckdb_spark.functions.similarity import (
        cosine_expr, cosine_near_dup_pairs, with_norm)

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),        # exact dup of 1 → score 1.0
        (3, [1.0, 1.0, 0.0]),        # cos vs 1/2 = 0.707107
        (4, [0.0, 1.0, 0.0]),        # orthogonal to 1/2
        (5, [3.0, 4.0, 0.0]),        # cos vs 1 = 0.6 exactly (threshold hit)
        (6, None),                   # null vector — never pairs
        (None, [1.0, 0.0, 0.0]),     # null id — never pairs
        (7, [1.0, 0.0]),             # shorter vector — null-padded vs dim-3
        (8, [1.0, 0.0]),             # pairs only with 7 (same length)
    ]
    df = spark.createDataFrame(rows, schema)
    got = cosine_near_dup_pairs(df, "vec_id", "embedding", threshold=0.6)

    v = with_norm(df.select(F.col("vec_id").alias("id"),
                            F.col("embedding").alias("v")), "v", "n2")
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                 F.col("n2").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                 F.col("n2").alias("nb"))
    ref = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("score",
                        F.round(cosine_expr("va", "vb", "na", "nb"), 6))
            .filter(F.col("score") >= 0.6)
            .select("id_a", "id_b", "score"))
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, ref.collect()))
    # the known pairs: dup (1,2)=1.0, threshold-exact (1,5)=(2,5)=0.6,
    # (3,5)=0.989949▸, (1,3)=(2,3)=0.707107, same-length-2 pair (7,8)=1.0
    ids = {(r[0], r[1]) for r in got_rows}
    assert (1, 2) in ids and (1, 5) in ids and (2, 5) in ids
    assert (7, 8) in ids
    assert all(6 not in p and None not in p for p in ids)


def test_cosine_near_dup_unblocked_gate_still_raises(spark):
    from keboola_storage_duckdb_spark.functions.similarity import (
        cosine_near_dup_pairs)

    df = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"))
    with pytest.raises(ValueError, match="unblocked"):
        cosine_near_dup_pairs(df, "vec_id", "embedding", 0.9,
                              unblocked_limit=10).collect()


def test_cosine_tiled_selfjoin_equals_broadcast(spark, monkeypatch):
    """VERDICT r14 #5: past the broadcast bound the unblocked candidate
    stage runs as a tile-pair self-join with no driver collect — output
    must equal the broadcast-GEMM path row for row (the verify stage is
    shared, so this pins candidate COMPLETENESS and uniqueness)."""
    import math

    from keboola_storage_duckdb_spark.functions import similarity
    from keboola_storage_duckdb_spark.functions.similarity import (
        _cosine_candidate_pairs_tiled, cosine_near_dup_pairs)

    rows = [(i, [math.cos(math.radians(3.0 * (i % 7))),
                 math.sin(math.radians(3.0 * (i % 7)))])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    broad = sorted(tuple(r) for r in cosine_near_dup_pairs(
        df, "vec_id", "embedding", 0.999).collect())
    # a broadcast bound under the corpus size forces the tiled stage
    monkeypatch.setattr(similarity, "_COSINE_BROADCAST_MAX_ROWS", 10)
    tiled = sorted(tuple(r) for r in cosine_near_dup_pairs(
        df, "vec_id", "embedding", 0.999).collect())
    monkeypatch.undo()
    assert broad == tiled and len(broad) > 0

    # candidate stage alone: many tiny tiles, each unordered pair once
    cand = _cosine_candidate_pairs_tiled(df, "vec_id", "embedding",
                                         0.999, rows_per_tile=7).collect()
    pairs = [(r.id_a, r.id_b) for r in cand]
    assert len(pairs) == len(set(pairs))       # no duplicate emission
    assert all(a < b for a, b in pairs)        # normalized order
    confirmed = {(a, b) for a, b, _ in broad}
    assert confirmed <= set(pairs)             # sound over-approximation


def test_simhash_dedup_keep_survivor_semantics(docs):
    """The survivor form must keep exactly one doc per SimHash cluster
    (the min id), mark the rest keep=False, give singletons their own
    cluster, and stay row-per-document regardless of pair density."""
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        simhash_dedup_keep, simhash_pairs)

    keep = {r.doc_id: (r.cluster, r.keep)
            for r in simhash_dedup_keep(docs, "doc_id", "text").collect()}
    assert len(keep) == docs.count()           # one row per document
    # exact dup (0, 3) must share a cluster rooted at the min id, with
    # only the root kept
    assert keep[0] == (0, True)
    assert keep[3][0] == 0 and keep[3][1] is False
    # every pair the detector emits must land in one cluster
    for r in simhash_pairs(docs, "doc_id", "text").collect():
        assert keep[r.id_a][0] == keep[r.id_b][0], (r, keep)
    # keep = (doc is its cluster's min id) for every doc
    import collections
    members = collections.defaultdict(list)
    for d, (c, _) in keep.items():
        members[c].append(d)
    for d, (c, k) in keep.items():
        assert k is (d == min(members[c])), (d, c, k)


def test_semdedup_keep_first_rule(spark, sf_dir):
    """SemDeDup (T81): the keep verdict must be exactly the keep-first
    rule over the within-cluster round-6 cosine pairs — a vector is
    dropped iff SOME lower-id member of its own trained cluster
    matches at >= threshold; every vector appears exactly once; and
    the decision never crosses clusters (a cross-cluster match at the
    same threshold must not drop anything on its own)."""
    from keboola_storage_duckdb_spark.functions.clustering import (
        kmeans_fit, semdedup_keep)
    from keboola_storage_duckdb_spark.functions.similarity import (
        cosine_near_dup_pairs)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    t = 0.35
    out = semdedup_keep(emb, "vec_id", "embedding", k=4, rounds=2,
                        threshold=t)
    rows = {r.id: (r.cluster, r.keep) for r in out.collect()}
    assert len(rows) == emb.count()            # every vector, once

    labeled, _ = kmeans_fit(emb, "vec_id", "embedding", k=4, rounds=2)
    pairs = cosine_near_dup_pairs(labeled, "id", "v", threshold=t,
                                  block_col="cluster").collect()
    dropped_expected = {p.id_b for p in pairs}
    dropped_got = {i for i, (_, keep) in rows.items() if not keep}
    assert dropped_got == dropped_expected

    # pairs were within-cluster by construction
    for p in pairs:
        assert rows[p.id_a][0] == rows[p.id_b][0]
    # at least one drop on the fixture, and never everything
    assert dropped_got and len(dropped_got) < len(rows)


def test_prototype_prune_quota_and_ranking(spark, sf_dir):
    """Prototypicality pruning (T82): per cluster, keep EXACTLY
    ceil(num/den * n) members and exactly the top-ranked ones by
    (round-6 dist DESC, id ASC); every vector is emitted with its
    verdict; the integer quota never rounds down."""
    import math

    from keboola_storage_duckdb_spark.functions.clustering import (
        prototype_prune)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for num, den in ((1, 2), (2, 3)):
        out = prototype_prune(emb, "vec_id", "embedding", k=4, rounds=2,
                              keep_num=num, keep_den=den).collect()
        assert len(out) == emb.count()
        by_cluster: dict = {}
        for r in out:
            by_cluster.setdefault(r.cluster, []).append(r)
        for cl, members in by_cluster.items():
            n = len(members)
            quota = math.ceil(n * num / den)
            kept = [r for r in members if r.keep]
            assert len(kept) == quota, (cl, n, num, den)
            ranked = sorted(members, key=lambda r: (-r.dist, r.id))
            assert {r.id for r in kept} == {r.id for r in ranked[:quota]}


def test_prototype_prune_plan_single_window_exchange(spark, sf_dir):
    """T82 scale shape: the distance is a narrow map (centroid
    literals — no join, no shuffle of the vectors for it) and rank +
    count share ONE cluster-keyed exchange; no cartesian product
    anywhere."""
    from keboola_storage_duckdb_spark.functions.clustering import (
        prototype_prune)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = prototype_prune(emb, "vec_id", "embedding", k=4, rounds=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(cluster") <= 1, plan


def test_semdedup_index_lifecycle(spark, tmp_path):
    """Persisted SemDeDup index (T83): build stores ONLY survivors +
    frozen centroids; query drops a delta vector iff a stored SURVIVOR
    matches (dropped corpus members never veto — the index forgot them)
    or a lower-id delta member does; add appends the delta's keepers so
    a later delta sees them. Unit-circle fixture (k=1 so every pair is
    comparable; the clustering itself is certified elsewhere):
    cos(20 deg)=0.94 >= 0.9 matches, cos(40 deg)=0.77 does not."""
    import math

    from keboola_storage_duckdb_spark.functions.clustering import (
        semdedup_index_build, semdedup_index_load, semdedup_index_query,
        semdedup_index_add)

    def vec(deg):
        a = math.radians(deg)
        return [math.cos(a), math.sin(a)]

    path = str(tmp_path / "semidx")
    base = spark.createDataFrame(
        [(1, vec(0)), (2, vec(20)), (3, vec(180))],
        "vec_id bigint, embedding array<double>")
    meta = semdedup_index_build(base, "vec_id", "embedding", path,
                                k=1, rounds=2, threshold=0.9,
                                fingerprint="fp-test")
    assert meta["kind"] == "semdedup" and meta["k"] == 1
    assert semdedup_index_load(spark, path)["fingerprint"] == "fp-test"
    surv = {r.id for r in
            spark.read.parquet(path + "/survivors").collect()}
    assert surv == {1, 3}                     # 2 dropped: cos20 vs id 1

    delta = spark.createDataFrame(
        [(101, vec(40)),    # cos20 to DROPPED 2, cos40 to kept 1 -> KEEP
         (102, vec(182)),   # cos2 to stored survivor 3 -> DROP
         (103, vec(41))],   # cos1 to lower-id delta 101 -> DROP
        "vec_id bigint, embedding array<double>")
    v1 = {r.id: r.keep for r in
          semdedup_index_add(spark, path, delta, "vec_id",
                             "embedding").collect()}
    assert v1 == {101: True, 102: False, 103: False}
    surv = {r.id for r in
            spark.read.parquet(path + "/survivors").collect()}
    assert surv == {1, 3, 101}                # only the keeper appended

    delta2 = spark.createDataFrame(
        [(201, vec(42)),    # cos2 to NOW-STORED 101 -> DROP
         (202, vec(270))],  # far from everything -> KEEP
        "vec_id bigint, embedding array<double>")
    v2 = {r.id: r.keep for r in
          semdedup_index_query(spark, path, delta2, "vec_id",
                               "embedding").collect()}
    assert v2 == {201: False, 202: True}

    # kind guard: a foreign meta.json refuses to load
    import json
    import os
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "meta.json"), "w") as f:
        json.dump({"kind": "minhash_lsh"}, f)
    try:
        semdedup_index_load(spark, bad)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_semdedup_index_add_replay_idempotent(spark, tmp_path):
    """ADVICE r14: a crash between add's two appends leaves a keeper in
    survivors/ but not seen/; a replay of the same delta must (a)
    re-verdict the keeper as KEEP (the stored self-copy never vetoes)
    and (b) not append a duplicate survivor row."""
    import math

    from keboola_storage_duckdb_spark.functions.clustering import (
        semdedup_index_build, semdedup_index_add)

    def vec(deg):
        a = math.radians(deg)
        return [math.cos(a), math.sin(a)]

    path = str(tmp_path / "semidx")
    base = spark.createDataFrame(
        [(1, vec(0))], "vec_id bigint, embedding array<double>")
    semdedup_index_build(base, "vec_id", "embedding", path,
                         k=1, rounds=2, threshold=0.9)
    delta = spark.createDataFrame(
        [(101, vec(90))], "vec_id bigint, embedding array<double>")
    v1 = {r.id: r.keep for r in
          semdedup_index_add(spark, path, delta, "vec_id",
                             "embedding").collect()}
    assert v1 == {101: True}
    # replay the SAME delta (as after a crash before the seen/ append)
    v2 = {r.id: r.keep for r in
          semdedup_index_add(spark, path, delta, "vec_id",
                             "embedding").collect()}
    assert v2 == {101: True}              # not misreported as drop
    rows = spark.read.parquet(path + "/survivors") \
                     .filter("id = 101").count()
    assert rows == 1                      # no duplicate survivor row


def test_prototype_prune_rejects_bad_quota(spark):
    import pytest as _pytest

    from keboola_storage_duckdb_spark.functions.clustering import (
        prototype_prune)

    df = spark.createDataFrame([(1, [0.0, 1.0])],
                               "id bigint, v array<double>")
    with _pytest.raises(ValueError):
        prototype_prune(df, "id", "v", keep_num=1, keep_den=0)
    with _pytest.raises(ValueError):
        prototype_prune(df, "id", "v", keep_num=-1, keep_den=2)
    with _pytest.raises(ValueError):
        prototype_prune(df, "id", "v", keep_num=3, keep_den=2)


def test_stream_semdedup_add(spark, tmp_path):
    """Streaming SemDeDup ingestion (T83 streaming twin): micro-batched
    verdict-and-append against the frozen index — one fixed split is
    deterministic, redelivery is a no-op at BOTH levels (same
    checkpoint: batch skipped; fresh checkpoint over the same files:
    the seen/ anti-join drops every already-processed id), and only
    keepers ever enter the survivor lists."""
    import math
    import os

    from keboola_storage_duckdb_spark.functions.clustering import (
        semdedup_index_build, semdedup_index_query, stream_semdedup_add)

    def vec(deg):
        a = math.radians(deg)
        return [math.cos(a), math.sin(a)]

    path = str(tmp_path / "sidx")
    base = spark.createDataFrame(
        [(1, vec(0)), (3, vec(180))],
        "vec_id bigint, embedding array<double>")
    semdedup_index_build(base, "vec_id", "embedding", path,
                         k=1, rounds=2, threshold=0.9)
    # delta: 101 keeps (90deg), 102 drops vs survivor 1 (cos 2deg),
    # 103 drops vs lower-id delta keeper 101 (cos 1deg)
    delta = spark.createDataFrame(
        [(101, vec(90)), (102, vec(2)), (103, vec(91))],
        "vec_id bigint, embedding array<double>")
    src = str(tmp_path / "src")
    delta.coalesce(1).write.parquet(src)

    q = stream_semdedup_add(spark, path, src, delta.schema, "vec_id",
                            "embedding", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    surv = {r.id for r in spark.read.parquet(path + "/survivors").collect()}
    assert surv == {1, 3, 101}
    seen = {r.id for r in spark.read.parquet(path + "/seen").collect()}
    assert seen == {1, 3, 101, 102, 103}

    # same checkpoint -> batch-level no-op
    q2 = stream_semdedup_add(spark, path, src, delta.schema, "vec_id",
                             "embedding", str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    # fresh checkpoint over the same files -> record-level no-op
    q3 = stream_semdedup_add(spark, path, src, delta.schema, "vec_id",
                             "embedding", str(tmp_path / "ckpt2"))
    q3.awaitTermination(120)
    surv2 = {r.id for r in spark.read.parquet(path + "/survivors").collect()}
    assert surv2 == {1, 3, 101}

    # a later delta sees the streamed keeper: 201 at 92deg drops vs 101
    later = spark.createDataFrame([(201, vec(92)), (202, vec(270))],
                                  "vec_id bigint, embedding array<double>")
    v = {r.id: r.keep for r in semdedup_index_query(
        spark, path, later, "vec_id", "embedding").collect()}
    assert v == {201: False, 202: True}
