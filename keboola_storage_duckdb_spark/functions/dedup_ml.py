"""Near-duplicate detection for large-scale training-data pipelines.

Beyond the reference's exact-PK dedup (SURVEY §2.5) — these are the fuzzy
dedup operators a 100 TB text corpus needs:

  * exact dedup        hash groupBy on content (or normalized fingerprint)
  * n-gram Jaccard     inverted-index (shingle) join — exact pairwise
                       similarity, blocked so there is NO all-pairs product
  * MinHash + LSH      shingle → md5 minhash signature → banded buckets →
                       candidate join → exact verify. Scales linearly in
                       corpus size; the classic Broder scheme.
  * SimHash            32-bit signature + pigeonhole-blocked Hamming join

Portability: all hashes are md5 (identical in Spark and DuckDB), so every
operator here has an exact SQL oracle twin. Everything is built from JVM-side
expressions (split/transform/md5/bit ops) — no Python UDFs in hot paths.

Scale notes (100 TB): shingle explode multiplies rows ~Nx but is map-side
only; the heavy ops are the groupBys on (doc, seed) / (band, bucket) hash
keys, which shuffle-partition evenly. Stop-shingle removal (max_doc_freq)
bounds inverted-index skew: a shingle occurring in k docs produces k² pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import bounded_collect
from .util import par as _par

# n-gram brute GEMM routes (bounded_collect driver routes): the (id, text)
# collect is bounded by rows and by text + id bytes — past it nothing is
# ever collected and the candidate-join routes serve. The doc×vocab
# float32 bit matrix is bounded by vocabulary and by cells (64 MB at the
# cell bound); |A∩B| ≤ vocab « 2²⁴, so every float32 count is exact.
# _DENSE_VOCAB_MAX also gates containment's Spark-side bitmask route.
_BRUTE_COLLECT_BYTES = 64 << 20
_BRUTE_MAX_CELLS = 16_000_000
_DENSE_VOCAB_MAX = 8192


def word_tokens(text_col: str | Column) -> Column:
    """Whitespace word tokens (text normalized upstream if needed)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")





def shingle_arrays(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shs) — each doc's *distinct* word-bigram shingles as one array.
    Dedup is per-row ``array_distinct`` (set semantics are per-document), so
    the whole set representation is a shuffle-free narrow map. Docs with <2
    tokens yield an empty array (guarded: Spark's sequence(1,0) counts DOWN,
    unlike DuckDB's generate_series which returns empty)."""
    toks = docs.select(F.col(id_col).alias("id"),
                       word_tokens(text_col).alias("toks"))
    toks = toks.repartition(_par(docs))  # explode fan-out off 1-split inputs
    return toks.select(
        "id",
        F.array_distinct(
            F.when(F.size("toks") < 2, F.array().cast("array<string>"))
             .otherwise(F.expr(
                 "transform(sequence(1, size(toks) - 1), "
                 "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        ).alias("shs"))


def _explode_shingles(arr: DataFrame) -> DataFrame:
    return arr.select("id", F.size("shs").alias("n"),
                      F.explode("shs").alias("shingle"))


def shingle_df(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n, shingle) — ``shingle_arrays`` exploded, with ``n`` = the
    doc's distinct-shingle count carried alongside so Jaccard consumers skip
    a separate per-doc size aggregation plus its two re-join steps."""
    return _explode_shingles(shingle_arrays(docs, id_col, text_col))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str, text_col: str) -> DataFrame:
    """Test-set decontamination: flag corpus docs sharing any word-bigram
    shingle with a benchmark/eval set (the n-gram-overlap rule LLM data
    pipelines apply before training; see e.g. GPT-3/PaLM appendix
    methodology — public knowledge).

    Returns (doc_id, n_sh, n_shared, contaminated) — one row per corpus
    doc, n_shared = distinct shingles also present in the benchmark.

    Scale: the benchmark side is tiny relative to a 100 TB corpus, so its
    distinct-shingle set is BROADCAST and the corpus side never shuffles —
    a map-side semi-join after the per-row shingle transform. The corpus
    explode is narrow; the per-doc count re-aggregates on doc_id (one
    shuffle keyed by doc id, which partitions evenly by construction).

    The shingle-array frame feeds TWO consumers (the exploded semi-join
    and the per-doc ``n_sh`` size) — Spark has no cross-branch CSE, so
    without a cut point the corpus tokenizes+shingles twice. The lazy
    localCheckpoint shares it: r9 same-session alternating A/B at sf0.1,
    collect action — plain 3.43 s min vs checkpointed 1.03 s. A
    single-pass rewrite (mark hits with a broadcast LEFT join, fold n_sh
    + n_shared into one exploded groupBy) tokenizes once but hash-aggs
    the FULL exploded set and measured 3.24 s — rejected. At 100× the
    checkpoint is a linear, executor-local materialization of the
    shingle arrays (same class as duplicate_spans' ``wins`` cut point).
    """
    doc_arr = shingle_arrays(docs, id_col, text_col) \
        .localCheckpoint(eager=False)
    bench_sh = (_explode_shingles(
        shingle_arrays(benchmark, id_col, text_col))
        .select("shingle").distinct())
    doc_sh = _explode_shingles(doc_arr)
    shared = (doc_sh.join(F.broadcast(bench_sh), "shingle")
              .groupBy("id").agg(F.count(F.lit(1)).alias("n_shared")))
    return (doc_arr
            .select("id", F.size("shs").alias("n_sh"))
            .join(shared, "id", "left")
            .select(F.col("id").alias("doc_id"),
                    F.col("n_sh").cast("int").alias("n_sh"),
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                     .alias("n_shared"))
            .withColumn("contaminated", F.col("n_shared") > 0))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.8,
                        max_doc_freq: int | None = None,
                        pack_ids: bool = False) -> DataFrame:
    """Exact pairwise bigram-Jaccard via inverted-index join.

    Only pairs sharing ≥1 shingle are ever materialized (blocking), so the
    cost is Σ_shingle df(s)² — bounded by ``max_doc_freq`` stop-shingle
    removal at corpus scale. Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``pack_ids=True`` aggregates the pair counts on a single packed long key
    (id_a<<32 | id_b) instead of a two-column key — ~40%% faster through the
    Σdf² shuffle+agg, valid only for integral non-negative ids < 2³².

    r13 (VERDICT r12 wrong #1): deregistered from the query surface —
    the Σ df(s)² candidate product is quadratic in shingle document
    frequency, a scale-killer on skewed vocabularies (sf0.1 A/B: 4.45 s
    vs PPJoin's 2.60 s; the gap widens with df skew). It stays as the
    DOCUMENTED naive comparison baseline only, pinned equal to the
    PPJoin default by
    test_wave2_ops.py::test_prefix_jaccard_equals_inverted_index.
    Production path: :func:`ngram_jaccard_prefix_pairs`.
    """
    sh = shingle_df(docs, id_col, text_col)
    if max_doc_freq is not None:
        from pyspark.sql import Window

        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = (sh.join(freq.filter(F.col("df") <= max_doc_freq), "shingle")
                .select("id", "shingle")
                # set sizes must reflect the *surviving* shingles
                .withColumn("n", F.count(F.lit(1))
                                  .over(Window.partitionBy("id"))))
    # The streamed side must be wide: the broadcast join's *output* is
    # Σ df(s)² rows (≫ input), so a small input partition count would
    # serialize the pair-count aggregation. Explicit repartition pins the
    # fan-out stage at 2× core count. Set sizes na/nb ride along and come
    # out of the agg as per-pair constants — no size re-join.
    a = (sh.repartition(_par(sh, 2))
           .select(F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle"))
    b = sh.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle")
    # Length filter (PPJoin lemma): J ≥ t forces t·|B| ≤ |A| ≤ |B|/t, so
    # size-incompatible pairs are dropped BEFORE the pair-count aggregation
    # — two integer comparisons per joined row cut ~60% of the shuffle+agg
    # on this corpus without changing the result.
    pairs = (a.join(b, "shingle")
              .filter((F.col("id_a") < F.col("id_b"))
                      & (F.col("na") >= F.ceil(F.lit(threshold) * F.col("nb")))
                      & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na")))))
    if pack_ids:
        packed = pairs.select(
            (F.shiftleft(F.col("id_a").cast("bigint"), 32)
             + F.col("id_b").cast("bigint")).alias("pk"), "na", "nb")
        grouped = packed.groupBy("pk").agg(
            F.count(F.lit(1)).alias("common"),
            F.first("na").alias("na"), F.first("nb").alias("nb"))
        common = grouped.select(
            F.shiftrightunsigned("pk", 32).alias("id_a"),
            F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("id_b"),
            "common", "na", "nb")
    else:
        common = (pairs.groupBy("id_a", "id_b")
                       .agg(F.count(F.lit(1)).alias("common"),
                            F.first("na").alias("na"),
                            F.first("nb").alias("nb")))
    out = (common.withColumn("jaccard",
                             F.col("common").cast("double")
                             / (F.col("na") + F.col("nb") - F.col("common")))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))
    return out



def _verify_pairs_with_arrays(cands: DataFrame, arr: DataFrame,
                              threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    whole shingle arrays: STREAM the candidates and join the (one row per
    doc) array table on each side — AQE broadcasts the array side when it
    fits and degrades to a shuffle join on huge corpora. The candidate set
    is never broadcast: on dense corpora it can be orders of magnitude
    larger than the doc count (prefix filtering at sf0.1 yields 4.4M
    candidate pairs from 5k docs)."""
    a_arr = arr.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    b_arr = arr.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    paired = cands.repartition(_par(cands, 2)).join(a_arr, "id_a") \
                  .join(b_arr, "id_b")
    scored = paired.select(
        "id_a", "id_b",
        F.size(F.array_intersect("shs_a", "shs_b")).alias("common"),
        F.size("shs_a").alias("na"), F.size("shs_b").alias("nb"))
    return (scored.withColumn("jaccard",
                              F.col("common").cast("double")
                              / (F.col("na") + F.col("nb") - F.col("common")))
                  .filter(F.col("jaccard") >= threshold)
                  .select("id_a", "id_b", "jaccard"))



def minhash_signatures(docs: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = 12,
                       _arr: DataFrame | None = None) -> DataFrame:
    """(id, mh0..mh{n-1}) MinHash signature table. One row per shingle with
    n_hashes hash *columns* (not an n_hashes-way explode): map-side combine
    reduces (id → n_hashes mins) directly, shuffling one row per
    (doc, shingle) instead of n_hashes rows."""
    sh = (_explode_shingles(_arr) if _arr is not None
          else shingle_df(docs, id_col, text_col))
    hashed = sh.select(
        "id",
        *[F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle"))).alias(f"h{s}")
          for s in range(n_hashes)])
    return hashed.groupBy("id").agg(
        *[F.min(F.col(f"h{s}")).alias(f"mh{s}") for s in range(n_hashes)])


def minhash_band_buckets(docs: DataFrame, id_col: str, text_col: str,
                         n_hashes: int = 12, band_size: int = 4,
                         _arr: DataFrame | None = None,
                         _sig: DataFrame | None = None) -> DataFrame:
    """MinHash signatures + LSH banding.

    Permutation h_s(x) = md5(s || '|' || x) — min over a doc's shingles of a
    cryptographic hash is a valid minwise permutation and is portable across
    engines. Returns (id, band, bucket) where bucket = md5 of the band's
    concatenated minhashes.

    ``_sig``: a precomputed (usually checkpointed) signature frame from
    :func:`minhash_signatures` — callers that consume the signatures
    more than once pass it so the md5-per-shingle subtree is computed
    exactly once (r17 opt).
    """
    assert n_hashes % band_size == 0
    sig = (_sig if _sig is not None
           else minhash_signatures(docs, id_col, text_col, n_hashes,
                                   _arr=_arr))
    n_bands = n_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        parts = [F.col(f"mh{b * band_size + r}") for r in range(band_size)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat(*parts)).alias("bucket")))
    return (sig.select("id", F.explode(F.array(*band_cols)).alias("bb"))
               .select("id", F.col("bb.band").alias("band"),
                       F.col("bb.bucket").alias("bucket")))


def minhash_lsh_pairs(docs: DataFrame, id_col: str, text_col: str,
                      n_hashes: int = 12, band_size: int = 4,
                      threshold: float = 0.8) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: banded candidate generation, then
    exact Jaccard verification restricted to candidates.

    Returns (id_a, id_b, jaccard) for verified pairs. Candidate count scales
    with the number of true near-dups, not the corpus square.
    """
    # One shingle computation shared by candidate generation AND verify:
    # lazy localCheckpoint materializes the (id, shs) arrays at first use
    # and both branches reuse them instead of re-tokenizing the corpus.
    arr = shingle_arrays(docs, id_col, text_col).localCheckpoint(eager=False)
    # bb feeds BOTH sides of the bucket self-join; without the sig cut
    # the 12-way md5 + min-agg signature subtree plans twice above the
    # checkpointed arr (the simhash_pairs disease, r17 opt — the frame
    # is (id, 12 hex minhashes), ~400 B/doc).
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, _arr=arr) \
        .localCheckpoint(eager=False)
    bb = minhash_band_buckets(docs, id_col, text_col, n_hashes, band_size,
                              _sig=sig)
    left = bb.select(F.col("id").alias("id_a"), "band", "bucket")
    right = bb.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = (left.join(right, ["band", "bucket"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b").distinct())

    # Candidate-driven verify on whole shingle ARRAYS: join each candidate
    # pair to the two docs' shingle sets and take size(array_intersect).
    # Cost is Σ_cand (n_a + n_b) — proportional to the number of candidates
    # LSH emits, never the full inverted-index pair product.
    return _verify_pairs_with_arrays(cands, arr, threshold)


def simhash(docs: DataFrame, id_col: str, text_col: str,
            bits: int = 32, arrow: bool = True) -> DataFrame:
    """32-bit SimHash over word tokens (occurrence-weighted).

    Token hash = first 8 md5 hex chars → uint32; per-bit vote sum; sign →
    bit. Returns (id, simhash).

    Default route (r17 opt, guide §4.2): one Arrow ``mapInPandas`` batch
    pass — hashlib md5 at C speed per token, the 32 vote sums as one
    numpy reduction per doc. All-integer arithmetic, so the signature is
    bit-identical to the JVM fold (pytest-pinned); zero shuffle either
    way. The previous form (``arrow=False``, kept as the certified
    equivalence twin) folds the token array through 32 ``aggregate``
    higher-order lambdas, which Spark INTERPRETS row-at-a-time (the
    NOTES HOF lesson) — calm noop-sink A/B 1.22 s vs 0.45 s at sf0.1.
    Unlike the bounded driver crossovers this is a distributed map: it
    parallelizes at any corpus size.

    ``bits`` must lie in 1..32: token hashes are 32-bit, and the Arrow
    kernel's ``uint32`` shift past its width is undefined."""
    if not 1 <= bits <= 32:
        raise ValueError(f"bits must be in 1..32, got {bits}")
    base = (docs.where(F.col(text_col).isNotNull())
                .repartition(_par(docs))  # fan hash work off 1-split inputs
                .select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("_t")))
    if arrow:
        import pandas as pd

        schema = T.StructType([base.schema[0],
                               T.StructField("simhash", T.LongType())])

        def compute(batches):
            import hashlib

            import numpy as np
            shift = np.arange(bits, dtype=np.uint32)
            shift64 = shift.astype(np.int64)
            for b in batches:
                out = np.empty(len(b), dtype=np.int64)
                for i, txt in enumerate(b["_t"]):
                    toks = txt.split(" ")
                    hs = np.fromiter(
                        (int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                         for t in toks),
                        dtype=np.uint32, count=len(toks))
                    votes = (2 * ((hs[:, None] >> shift) & 1)
                             .sum(axis=0, dtype=np.int64) - len(hs))
                    out[i] = int(((votes > 0).astype(np.int64)
                                  << shift64).sum())
                yield pd.DataFrame({"id": b["id"], "simhash": out})

        return base.mapInPandas(compute, schema)
    hs = F.transform(
        word_tokens("_t"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"))
    base = base.select("id", hs.alias("_hs"))

    def vote(i):
        # primitive-typed fold per bit — no per-token array churn
        mask = F.lit(1 << i).cast("bigint")
        return F.aggregate(
            F.col("_hs"), F.lit(0).cast("bigint"),
            lambda a, h: a + F.when(h.bitwiseAND(mask) > 0, 1).otherwise(-1))

    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        sig = sig + F.when(vote(i) > 0, F.lit(1 << i).cast("bigint")) \
                     .otherwise(F.lit(0).cast("bigint"))
    return base.select("id", sig.alias("simhash"))


def simhash_grouped(docs: DataFrame, id_col: str, text_col: str,
                    bits: int = 32) -> DataFrame:
    """The original explode + groupBy formulation — kept as the
    equivalence twin for the property test (one shuffle; same rows)."""
    toks = (docs.repartition(_par(docs))
                .select(F.col(id_col).alias("id"),
                        F.explode(word_tokens(text_col)).alias("tok"))
                .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                                  .cast("bigint")))
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1)
               .otherwise(-1)).alias(f"v{i}")
        for i in range(bits)
    ]
    sig = toks.groupBy("id").agg(*votes)
    acc = F.lit(0).cast("bigint")
    for i in range(bits):
        acc = acc + F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(0)
    return sig.select("id", acc.alias("simhash"))


def simhash_pairs(docs: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with pigeonhole blocking:
    split the 32-bit signature into 4 bytes; any pair within Hamming ≤ 3
    must agree on ≥1 byte, so candidates come from 4 equality joins instead
    of an all-pairs product. Returns (id_a, id_b, hamming)."""
    # sig feeds BOTH sides of the self-join; without the cut the whole
    # md5-per-token + 32-fold signature subtree runs twice (r16 opt —
    # calm A/B 2.93 vs 3.18 s at sf0.1, dup subtree gone from the plan;
    # the frame is (id, simhash) — 16 B/doc, a free checkpoint).
    sig = simhash(docs, id_col, text_col).localCheckpoint(eager=False)
    chunks = sig.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("k"),
                     F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(255)
                      .alias("chunk"))
            for k in range(4)])).alias("c")) \
        .select("id", "simhash", F.col("c.k").alias("k"),
                F.col("c.chunk").alias("chunk"))
    a = chunks.select(F.col("id").alias("id_a"),
                      F.col("simhash").alias("sh_a"), "k", "chunk")
    b = chunks.select(F.col("id").alias("id_b"),
                      F.col("simhash").alias("sh_b"), "k", "chunk")
    return (a.join(b, ["k", "chunk"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                      .alias("hamming"))
             .distinct()
             .filter(F.col("hamming") <= max_hamming))


def _brute_texts(docs: DataFrame, id_col: str, text_col: str,
                 max_rows: int):
    """The brute routes' one bounded (id, text) collect as pandas, or
    None past the row / byte bound. Bytes count the ids too: a corpus of
    tiny texts with long string ids must not pass on text bytes alone."""
    tbl = bounded_collect(
        docs.select(id_col, text_col), max_rows, _BRUTE_COLLECT_BYTES,
        row_bytes=(F.coalesce(F.length(F.col(text_col)), F.lit(0))
                   + F.coalesce(F.length(F.col(id_col).cast("string")),
                                F.lit(0))))
    return None if tbl is None else tbl.to_pandas()


def _brute_gemm(docs: DataFrame, id_col: str, text_col: str, texts_pdf,
                hashed_verify: bool, min_shingles: int, out_schema,
                accept, density_limit: int | None = None
                ) -> DataFrame | None:
    """Candidate-free bigram-pair verification for small dense corpora —
    the shared kernel of the jaccard and containment brute routes.
    Given the bounded (id, text) collect, shingle in plain Python (the
    Spark-side interpreted transform()/array_distinct
    expression measured ~2 s calm for 255k shingles; the Python loop is
    ~0.1 s), build the doc×vocab float32 bit matrix with one
    pd.factorize + fancy assign, broadcast it, and compute |A∩B| for
    every doc against all docs as one GEMM per task over a position
    frame. ``accept(ixs, inter, ids, lens)`` turns a batch's
    intersection block into output rows of ``out_schema``: the accept
    rule, pair orientation and self/duplicate-id exclusion are the
    caller's. No candidate join, no pair shuffle, no tokenize job.

    Docs with fewer than ``min_shingles`` distinct shingles are left
    out (their shingles still count toward the vocabulary bound).

    ``hashed_verify`` parity: the candidate routes intersect arrays of
    truncated-md5 int64s, so a 60-bit collision would MERGE two
    shingles there — the vocabulary is hashed with the same md5-prefix
    map and collided columns merge, while ``lens`` stays the pre-merge
    distinct-string count (= the hashed ARRAY length F.size measures).
    ``density_limit`` (jaccard's adaptive parity): when the Σdf² density
    probe would reroute the candidate path to the sub-recall LSH form,
    the exact brute route refuses; df is the same per-hashed-shingle
    document frequency, summed as exact integers.

    Returns None when any gate refuses (null ids, vocab/cells density,
    adaptive density) — the caller falls through to the candidate
    routes. Early abort: vocab only grows, so once the RUNNING vocab
    proves the density gates unreachable the loop stops — a sparse 10×
    corpus rejects within its first documents (measured 21 s at 50k
    docs before this guard).

    Broadcast lifetime: the (ids, lens, bits) broadcast —
    up to ~64 MB — stays referenced by the returned DataFrame's task
    closure (the plan is lazy and re-executable), so it lives until the
    DataFrame is garbage-collected, when Spark's ContextCleaner
    unpersists it."""
    import hashlib

    import numpy as np
    import pandas as pd

    spark = docs.sparkSession
    if texts_pdf[id_col].isna().any():
        return None
    v_bound = min(_DENSE_VOCAB_MAX,
                  _BRUTE_MAX_CELLS // max(len(texts_pdf), 1))
    # Python twin of shingle_arrays: literal single-space split
    # (trailing/consecutive-space empties kept by both Spark's regex
    # split and str.split(" ")), adjacent-bigram shingles, per-doc sets.
    vocab_seen: set = set()
    ids_l, sets_l = [], []
    for doc_id, text in zip(texts_pdf[id_col], texts_pdf[text_col]):
        toks = text.split(" ") if isinstance(text, str) else []
        s = {toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)}
        vocab_seen.update(s)
        if len(vocab_seen) > v_bound:
            return None
        if len(s) >= min_shingles:
            ids_l.append(doc_id)
            sets_l.append(list(s))
    n_docs = len(ids_l)
    if n_docs == 0:
        return spark.createDataFrame([], out_schema)
    lens = np.array([len(s) for s in sets_l], dtype=np.int64)
    # factorize = hash-based shingle→column bijection at C speed; the
    # column order is internal, any bijection yields identical counts
    codes, uniq = pd.factorize(np.concatenate(
        [np.asarray(s, dtype=object) for s in sets_l]))
    vocab_n = len(uniq)
    if hashed_verify and vocab_n:
        hvals = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                          for s in uniq], dtype=np.int64)
        hcodes, huniq = pd.factorize(hvals)
        codes, vocab_n = hcodes[codes], len(huniq)
    if (vocab_n > _DENSE_VOCAB_MAX
            or n_docs * max(vocab_n, 1) > _BRUTE_MAX_CELLS):
        return None
    if density_limit is not None and vocab_n:
        df_counts = np.bincount(codes, minlength=vocab_n).astype(np.int64)
        if int((df_counts * df_counts).sum()) > density_limit:
            return None                    # sub-recall LSH route owns it
    bits = np.zeros((n_docs, vocab_n), dtype=np.float32)
    bits[np.repeat(np.arange(n_docs), lens), codes] = 1.0
    bc = spark.sparkContext.broadcast((np.asarray(ids_l), lens, bits))
    # every doc is an A row exactly once, so each pair is seen once per
    # orientation; self-pairs are excluded by position in ``accept``
    a_side = (spark.createDataFrame(
        pd.DataFrame({"_ix": np.arange(n_docs, dtype=np.int64)}),
        schema=T.StructType([T.StructField("_ix", T.LongType())]))
        .repartition(_par(docs)))

    def verify(batches):
        import numpy as np

        ids_b, lens_b, bits_b = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            ixs = b["_ix"].to_numpy()
            inter = (bits_b[ixs] @ bits_b.T).astype(np.int64)
            yield accept(ixs, inter, ids_b, lens_b)

    return a_side.mapInPandas(verify, out_schema)


def ngram_jaccard_prefix_pairs(docs: DataFrame, id_col: str, text_col: str,
                               threshold: float = 0.8,
                               hashed_verify: bool = True,
                               positional: bool = True,
                               adaptive: bool = False,
                               density_limit: int = 200_000_000,
                               max_doc_freq_cap: int = 1_000,
                               dense_route: str = "lsh"
                               ) -> DataFrame:
    """Exact bigram-Jaccard pairs via PREFIX FILTERING (the PPJoin family —
    Vernica et al., "Efficient Parallel Set-Similarity Joins Using
    MapReduce", SIGMOD'10): order each doc's shingles by global document
    frequency (rarest first); for Jaccard ≥ t only the first
    n − ⌈t·n⌉ + 1 shingles need indexing — any qualifying pair must share a
    prefix shingle. Candidates come from the tiny prefix inverted index,
    pruned further by the PPJoin length + positional filters; verification
    joins whole shingle arrays (array_intersect), so the full Σ df(s)² pair
    product of the plain inverted-index join is never paid.

    ``hashed_verify`` (default) replaces each shingle string with the first
    15 md5 hex chars as int64 for the candidate/verify stages — intersects
    on bigint arrays are 2-3× cheaper than on ~20-char strings (A/B'd,
    alternating reps). md5 truncation is deterministic and identical in
    DuckDB, so the oracle twin stays engine-exact; set distinctness is
    preserved unless two shingles collide in 60 bits (P ≈ n²/2⁶¹ over the
    corpus vocabulary — zero on the test corpora, verified equal to the
    string path at every SF).

    Returns the same rows as ``ngram_jaccard_pairs`` (same oracle). At
    corpus scale this is the default exact path; the plain inverted-index
    join only wins on pathologically dense small-vocabulary corpora where
    every pair is a candidate anyway.

    Adjudicated (tools/ab_ngram.py, sf0.1, 3 alternating reps, one
    session): prefix min 2.69 s / median 3.03 s; prefix without the
    positional filter 3.08 / 3.46; inverted (packed) 4.82 / 5.29. The
    prefix path with BOTH filters stays the certified variant (r3 and r5
    A/Bs agree; recorded 20.9 s in BENCH_r04 was sustained VM contention
    on identical code).

    ``adaptive=True`` adds the r6 density guard: a Σdf² probe on the
    shingle document-frequency table routes pathologically dense corpora
    (where even the exact-optimal algorithm's cost tracks an enormous
    true-pair floor) through a df-capped prefix index — exact verify,
    documented sub-recall for pairs sharing only ultra-frequent
    shingles. Below ``density_limit`` nothing changes: candidates and
    results stay exactly the certified-oracle answer.

    Brute route (a driver route, shared with containment): when the
    corpus is small (ids + texts under ``_BRUTE_COLLECT_BYTES``) and
    dense (docs × vocab ≤ ``_BRUTE_MAX_CELLS`` bit cells), candidates
    are skipped entirely and all pairs are verified by one float32 GEMM
    per task (``_brute_gemm``; bit-equal rows, pytest-pinned, incl.
    hashed-verify collision semantics and the adaptive density
    reroute). Past any gate the candidate routes below serve unchanged
    — a 100 TB corpus never collects anything.
    """
    from pyspark.sql import Window

    texts_pdf = _brute_texts(docs, id_col, text_col, _BRUTE_MAX_CELLS)
    if texts_pdf is not None:
        thr = float(threshold)

        def accept(ixs, inter, ids, lens):
            import numpy as np
            import pandas as pd

            # each unordered pair once: position j strictly after i, and
            # at least one shared shingle (candidate routes only ever see
            # pairs sharing a prefix shingle — also kills the 0/0)
            pos = np.arange(len(ids))
            ai, bi = np.nonzero((inter >= 1) & (pos[None, :] > ixs[:, None]))
            iv = inter[ai, bi]
            na, nb = lens[ixs[ai]], lens[bi]
            jac = iv.astype(np.float64) / (na + nb - iv)
            keep = jac >= thr
            a_ids, b_ids, jac = ids[ixs[ai]][keep], ids[bi][keep], jac[keep]
            neq = a_ids != b_ids           # duplicate ids never self-pair
            a_ids, b_ids, jac = a_ids[neq], b_ids[neq], jac[neq]
            swap = a_ids > b_ids           # emit (min, max) by id value
            return pd.DataFrame({"id_a": np.where(swap, b_ids, a_ids),
                                 "id_b": np.where(swap, a_ids, b_ids),
                                 "jaccard": jac})

        id_t = docs.schema[id_col].dataType
        out = _brute_gemm(
            docs, id_col, text_col, texts_pdf, hashed_verify, 0,
            T.StructType([T.StructField("id_a", id_t),
                          T.StructField("id_b", id_t),
                          T.StructField("jaccard", T.DoubleType())]),
            accept, density_limit if adaptive else None)
        if out is not None:
            return out

    arr = shingle_arrays(docs, id_col, text_col)
    if hashed_verify:
        arr = arr.select("id", F.expr(
            "transform(shs, s -> "
            "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
        ).alias("shs"))
    arr = arr.localCheckpoint(eager=False)
    sh = _explode_shingles(arr)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if adaptive:
        # Density probe (one cheap agg over the checkpointed df table):
        # Σ df(s)² bounds the inverted-index candidate-pair product — the
        # quantity that explodes on replica-dense / tiny-vocabulary
        # corpora (10× scale smoke: 250 k true pairs, 167 s exact). Past
        # ``density_limit`` the prefix INDEX drops shingles with
        # df > max_doc_freq_cap (verification stays exact over whole
        # arrays): pairs whose every shared prefix shingle is
        # ultra-frequent may be missed — documented sub-recall, the same
        # stop-shingle trade DuckDB-side dedup pipelines make at scale.
        # At the test SFs (sf0.001-0.1: Σdf² ≈ 10⁵-10⁷) the limit never
        # trips, so the certified oracle path stays EXACT.
        freq = freq.localCheckpoint(eager=False)
        density = freq.agg(
            F.sum(F.col("df").cast("double") * F.col("df"))).first()[0] or 0
        if density > density_limit:
            if dense_route == "lsh":
                # MinHash-LSH candidates + EXACT array verify: recall
                # ~1-(1-t^band)^bands (≈0.88 at t=0.8 with 16×4), far
                # above the df-cap route on replica-dense corpora (10×
                # smoke: 14 s for either route, LSH recovers ~90% of true
                # pairs vs 5% for cap=1000). Emitted pairs carry EXACT
                # Jaccard — sub-recall only, never a false positive.
                bb = minhash_band_buckets(None, id_col, text_col,
                                          n_hashes=16, band_size=4,
                                          _arr=arr)
                left = bb.select(F.col("id").alias("id_a"), "band", "bucket")
                right = bb.select(F.col("id").alias("id_b"), "band", "bucket")
                cands = (left.join(right, ["band", "bucket"])
                             .filter(F.col("id_a") < F.col("id_b"))
                             .select("id_a", "id_b").distinct())
                return _verify_pairs_with_arrays(cands, arr, threshold)
            # df-cap route: drop ultra-frequent shingles from INDEXING
            # only (deterministic; misses pairs whose every shared
            # shingle is ultra-frequent)
            freq = freq.filter(F.col("df") <= max_doc_freq_cap)
    ranked = (sh.join(freq, "shingle")
                .withColumn("r", F.row_number().over(
                    Window.partitionBy("id").orderBy("df", "shingle"))))
    plen = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    # prefix feeds both sides of the candidate self-join and its
    # freq-join + rank-window subtree plans twice — but a
    # localCheckpoint cut here was A/B-REFUTED (r17: plain min 2.57 s vs
    # checkpointed 2.85 s, 4 alternating reps — the containment-freq
    # lesson again: the barrier serializes jobs AQE interleaves and the
    # recompute above the checkpointed arr is cheap). Do not re-try.
    prefix = ranked.filter(F.col("r") <= plen) \
                   .select("id", "n", "r", "shingle")
    pa = prefix.select(F.col("id").alias("id_a"), F.col("n").alias("na"),
                       F.col("r").alias("ra"), "shingle")
    pb = prefix.select(F.col("id").alias("id_b"), F.col("n").alias("nb"),
                       F.col("r").alias("rb"), "shingle")
    # PPJoin length filter: J ≥ t forces t·|B| ≤ |A| ≤ |B|/t — prune
    # size-incompatible candidates before the verify joins.
    # PPJoin POSITIONAL filter: both docs' shingles are sorted in the SAME
    # global (df, shingle) order, so for the first common prefix token at
    # ranks (ra, rb) every other common shingle must sit after BOTH ranks:
    # overlap ≤ 1 + min(na − ra, nb − rb). A qualifying pair needs
    # overlap ≥ α = ⌈t/(1+t)·(na+nb)⌉ (the Jaccard⇔overlap equivalence), so
    # candidates whose every prefix match fails the bound are pruned before
    # the array-verify joins. Keeping a pair if ANY match passes is sound:
    # the first common token's bound is a true upper bound and passes for
    # every qualifying pair. (ε guards double rounding from pruning a
    # boundary pair.)
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("na") + F.col("nb")) - F.lit(1e-9))
    ubound = F.lit(1) + F.least(F.col("na") - F.col("ra"),
                                F.col("nb") - F.col("rb"))
    cond = ((F.col("id_a") < F.col("id_b"))
            & (F.col("na") >= F.ceil(F.lit(threshold) * F.col("nb")))
            & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na"))))
    if positional:
        cond = cond & (ubound >= alpha)
    cands = (pa.repartition(_par(sh, 2)).join(pb, "shingle")
               .filter(cond)
               .select("id_a", "id_b").distinct())

    return _verify_pairs_with_arrays(cands, arr, threshold)


def minhash_estimate_pairs(docs: DataFrame, id_col: str, text_col: str,
                           n_hashes: int = 12, band_size: int = 4) -> DataFrame:
    """Sketch-quality measurement: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (matching signature components / n_hashes)
    next to the EXACT Jaccard — the frame you inspect when tuning
    (n_hashes, band_size) for a corpus: estimator bias/variance vs the
    candidate threshold. Returns (id_a, id_b, est_jaccard, jaccard)."""
    arr = shingle_arrays(docs, id_col, text_col).localCheckpoint(eager=False)
    # sig feeds FOUR consumers here (both bucket-join sides via bb, and
    # the sa/sb signature joins) — one cut computes it once (r17 opt)
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, _arr=arr) \
        .localCheckpoint(eager=False)
    bb = minhash_band_buckets(docs, id_col, text_col, n_hashes, band_size,
                              _sig=sig)
    left = bb.select(F.col("id").alias("id_a"), "band", "bucket")
    right = bb.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = (left.join(right, ["band", "bucket"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b").distinct())
    sa = sig.select(F.col("id").alias("id_a"),
                    *[F.col(f"mh{s}").alias(f"a{s}") for s in range(n_hashes)])
    sb = sig.select(F.col("id").alias("id_b"),
                    *[F.col(f"mh{s}").alias(f"b{s}") for s in range(n_hashes)])
    matches = sum(F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
                  for s in range(n_hashes))
    est = (cands.join(sa, "id_a").join(sb, "id_b")
                .select("id_a", "id_b",
                        F.round(matches / F.lit(float(n_hashes)), 6)
                         .alias("est_jaccard")))
    exact = _verify_pairs_with_arrays(cands, arr, threshold=0.0)
    return est.join(exact, ["id_a", "id_b"])


def simhash_dedup_keep(docs: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """End-to-end SimHash dedup (VERDICT r13 #2): detect (pigeonhole
    byte-block candidates + exact Hamming verify — ``simhash_pairs``) →
    cluster (connected components over the pair graph) → select (keep
    the min-id member per cluster; unpaired docs keep themselves).

    This is the SURVIVOR form a pipeline actually consumes — one row per
    document with (cluster, keep) — mirroring ``minhash_dedup_keep`` and
    the embedding-side ``near_dedup_keep``: output scales with the CORPUS,
    never with the near-dup pair count (the raw ``simhash_pairs`` frame is
    77M rows at sf1 on the replicated fixture; this frame stays at N).

    Scale: the detector is 4 equality joins on (byte-index, byte-value)
    blocks — any pair within Hamming ≤ 3 of a 32-bit signature must agree
    on ≥ 1 of its 4 bytes — and components over near-dup graphs converge
    in a few label-propagation rounds (functions/graph.py); the keep
    frame is one broadcast-able left join (clusters ≪ docs).

    Returns (``id_col``, cluster, keep)."""
    from .graph import connected_components

    # Connectivity needs a SPANNING structure, not the full pair set:
    # docs sharing one signature are hamming-0 cliques (every replica /
    # boilerplate group), and the raw pair frame is quadratic in clique
    # size — 77M pairs at sf1 where a star per signature (each member →
    # the group's min id) plus pigeonhole pairs between DISTINCT
    # signatures spans exactly the same components (members carry their
    # group's signature verbatim, so group-to-group distance IS
    # signature distance). Components and min-id labels are identical
    # to closing over simhash_pairs; the work drops from O(Σ clique²)
    # to O(N) stars + a join over distinct signatures.
    sig = simhash(docs, id_col, text_col)
    sig = sig.localCheckpoint(eager=False)   # feeds stars AND reps
    rep = (sig.groupBy("simhash").agg(F.min("id").alias("rep"))
              .localCheckpoint(eager=False))
    stars = (sig.join(rep, "simhash")
                .filter(F.col("id") != F.col("rep"))
                .select(F.col("rep").alias("id_a"),
                        F.col("id").alias("id_b")))
    reps = rep.select(F.col("rep").alias("id"), "simhash")
    chunks = reps.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("k"),
                     F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(255)
                      .alias("chunk"))
            for k in range(4)])).alias("c")) \
        .select("id", "simhash", F.col("c.k").alias("k"),
                F.col("c.chunk").alias("chunk"))
    a = chunks.select(F.col("id").alias("id_a"),
                      F.col("simhash").alias("sh_a"), "k", "chunk")
    b = chunks.select(F.col("id").alias("id_b"),
                      F.col("simhash").alias("sh_b"), "k", "chunk")
    rep_pairs = (a.join(b, ["k", "chunk"])
                  .filter(F.col("id_a") < F.col("id_b"))
                  .filter(F.bit_count(F.col("sh_a").bitwiseXOR(
                      F.col("sh_b"))) <= max_hamming)
                  .select("id_a", "id_b")
                  .distinct())
    cc = connected_components(stars.unionByName(rep_pairs)) \
        .withColumnRenamed("id", id_col)
    cluster = F.coalesce(F.col("cluster"), F.col(id_col))
    return (docs.select(id_col).join(cc, id_col, "left")
                .select(id_col, cluster.alias("cluster"),
                        (cluster == F.col(id_col)).alias("keep")))


def dedup_safe_split(docs: DataFrame, id_col: str, edges: DataFrame,
                     train: int = 8, val: int = 1, test: int = 1,
                     seed: str = "split") -> DataFrame:
    """Dedup-aware train/val/test split (the leakage-safe split every
    training pipeline needs): the split bucket hashes the near-duplicate
    CLUSTER id — the connected-component label of the pair graph — not
    the document id, so two near-duplicates can NEVER straddle splits (a
    doc-id hash split leaks ~dup_rate of eval into train; Lee et al.
    2022 §6 measures exactly this inflation).

    ``edges`` is any certified detector's pair frame (``id_a``/``id_b``
    from minhash_lsh_pairs / simhash_pairs / cosine_near_dup_pairs), so
    the operator composes two already-exact stages with ONE left join
    plus integer hash thresholds. Buckets: md5("{seed}|" + cluster) mod
    (train+val+test) — deterministic, engine-portable (md5-only hashing
    invariant), and proportional in expectation to train:val:test.

    Returns (doc_id renamed to ``id_col``, cluster, split) with split ∈
    {'train','val','test'} — singleton docs are their own cluster via
    COALESCE, same as the keep-frame operators.

    Scale: components over near-dup graphs converge in a few rounds
    (functions/graph.py notes); everything after is one broadcast-able
    join (clusters ≪ docs) and a narrow md5 map — no extra shuffle
    beyond the detector's own."""
    from .graph import connected_components

    n_buckets = train + val + test
    cc = connected_components(edges.select("id_a", "id_b")) \
        .withColumnRenamed("id", id_col)
    cluster = F.coalesce(F.col("cluster"), F.col(id_col))
    bucket = (F.conv(F.substring(
                  F.md5(F.concat(F.lit(seed + "|"),
                                 cluster.cast("string"))), 1, 8), 16, 10)
               .cast("bigint") % n_buckets)
    return (docs.select(id_col).join(cc, id_col, "left")
                .select(id_col, cluster.alias("cluster"),
                        F.when(bucket < train, "train")
                         .when(bucket < train + val, "val")
                         .otherwise("test").alias("split")))


# --------------------------------------------------------------------------
# Persisted MinHash-LSH dedup index — the build-once / serve-incremental
# split for TEXT near-dup, mirroring ann_index's FAISS lifecycle: at 100 TB
# nobody re-shingles the corpus to dedup a daily delta. The index stores the
# LSH bucket table (the banded signatures) and the per-doc shingle sets (the
# verification state); querying a delta costs shingling the DELTA plus a
# bucket join and candidate-bounded exact-Jaccard verification — never a
# corpus x corpus (or even corpus-rescan) pass.

def _minhash_index_meta(n_hashes: int, band_size: int,
                        fingerprint: str | None) -> dict:
    return {"kind": "minhash_lsh", "n_hashes": n_hashes,
            "band_size": band_size, "fingerprint": fingerprint}


def minhash_index_build(docs: DataFrame, id_col: str, text_col: str,
                        path: str, n_hashes: int = 12,
                        band_size: int = 4,
                        fingerprint: str | None = None) -> dict:
    """Build the persisted dedup index: ``path/buckets`` (id, band,
    bucket — the LSH candidate-generation state) and ``path/shingles``
    (id, shs — the exact-verification state), atomic staging swap
    (ann_index discipline). The md5-seeded minwise permutations are
    parameter-determined, so a delta encoded later with the same params
    buckets identically — the frozen-codebook property of this index."""
    import os

    from .ann_index import _make_staging, _publish, _write_meta

    staging = _make_staging(path)
    arr = shingle_arrays(docs, id_col, text_col).localCheckpoint(
        eager=False)                        # feeds both artifact writes
    arr.write.mode("overwrite").parquet(os.path.join(staging, "shingles"))
    bb = minhash_band_buckets(docs, id_col, text_col, n_hashes,
                              band_size, _arr=arr)
    bb.write.mode("overwrite").parquet(os.path.join(staging, "buckets"))
    meta = _minhash_index_meta(n_hashes, band_size, fingerprint)
    _write_meta(staging, meta)
    _publish(staging, path)
    return meta


def minhash_index_load(spark, path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("kind") != "minhash_lsh":
        raise ValueError(f"{path} is not a minhash_lsh index")
    return meta


def minhash_index_add(spark, path: str, new_docs: DataFrame,
                      id_col: str, text_col: str) -> None:
    """Append a delta to the index under the FROZEN hash params —
    add-then-query == rebuild (pytest-pinned), no rewrite of existing
    state."""
    import os

    meta = minhash_index_load(spark, path)
    arr = shingle_arrays(new_docs, id_col, text_col).localCheckpoint(
        eager=False)
    arr.write.mode("append").parquet(os.path.join(path, "shingles"))
    (minhash_band_buckets(new_docs, id_col, text_col, meta["n_hashes"],
                          meta["band_size"], _arr=arr)
     .write.mode("append").parquet(os.path.join(path, "buckets")))


def minhash_index_query(spark, path: str, new_docs: DataFrame,
                        id_col: str, text_col: str,
                        threshold: float = 0.8) -> DataFrame:
    """Incremental near-dup check: which INDEXED docs does each new doc
    near-duplicate? The delta is shingled and banded with the stored
    params; candidates come from one (band, bucket) join against the
    stored bucket table; exact Jaccard verifies only the candidates
    (stored shingle sets ∪ delta shingle sets). Returns (id_a = indexed
    id, id_b = new id, jaccard ≥ threshold). Cost scales with the delta
    and the true near-dup count — the corpus is touched only through
    its (tiny) bucket rows and the candidate docs' shingle arrays.
    Precondition: delta ids are not already indexed (the same
    disjointness discipline pq_index_merge enforces)."""
    import os

    meta = minhash_index_load(spark, path)
    arr_new = shingle_arrays(new_docs, id_col, text_col).localCheckpoint(
        eager=False)                        # feeds banding AND verify
    bb_new = minhash_band_buckets(new_docs, id_col, text_col,
                                  meta["n_hashes"], meta["band_size"],
                                  _arr=arr_new)
    stored = spark.read.parquet(os.path.join(path, "buckets"))
    cands = (stored.select(F.col("id").alias("id_a"), "band", "bucket")
                   .join(bb_new.select(F.col("id").alias("id_b"),
                                       "band", "bucket"),
                         ["band", "bucket"])
                   .filter(F.col("id_a") != F.col("id_b"))
                   .select("id_a", "id_b").distinct())
    arr_all = (spark.read.parquet(os.path.join(path, "shingles"))
                    .unionByName(arr_new))
    return _verify_pairs_with_arrays(cands, arr_all, threshold)


def ngram_containment_pairs(docs: DataFrame, id_col: str, text_col: str,
                            threshold_num: int = 9, threshold_den: int = 10,
                            min_shingles: int = 5,
                            hashed_verify: bool = True,
                            max_doc_freq: int | None = None) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: pairs where one document's
    shingle set is ≥ num/den contained in another's — Broder's
    *containment* c(A,B) = |A∩B| / |A|. Catches what symmetric Jaccard
    misses: a short document quoted inside a much longer one scores
    c ≈ 1 but J ≈ |A|/|B| ≈ 0, so resemblance dedup never pairs them.
    The standard corpus-hygiene pass for quote/boilerplate inclusion.

    Prefix filter, containment form: a qualifying pair needs overlap
    ≥ ⌈t·|A|⌉, so (prefix-filter theorem) B must hit one of A's first
    |A| − ⌈t·|A|⌉ + 1 shingles in the global rarest-first (df, shingle)
    order — only the CONTAINED side is prefix-indexed; the container
    side posts all its shingles (it may be arbitrarily large), pruned by
    |B| ≥ ⌈t·|A|⌉. The candidate product is Σ_{s∈prefix} df(s) — the
    rarest-first order keeps df small, the same bound the Jaccard path
    rides. Threshold is a rational num/den so every filter and the final
    accept (den·inter ≥ num·|A|) is pure integer math — engine-exact.

    Verification intersects whole shingle arrays (64-bit md5 prefixes
    when ``hashed_verify``, the ngram_jaccard_prefix_pairs trade —
    deterministic and identical in DuckDB). Docs with fewer than
    ``min_shingles`` distinct shingles are excluded on both sides (a
    2-shingle doc is "contained" everywhere; same filter in the oracle).

    Returns (contained, container, n_contained, inter, containment) with
    contained ≠ container; equal sets emit both directions.

    ``max_doc_freq`` (default None = exact): on replica-dense corpora the
    container posting lists grow with duplication and the candidate
    product Σ_{s∈prefix} df(s) goes quadratic — the same Σdf² wall the
    plain inverted Jaccard hits. Setting a cap drops shingles with
    df > cap from the CONTAINER index only (verification stays exact
    over whole arrays): pairs whose every shared prefix shingle is
    ultra-frequent may be missed — the documented stop-shingle
    sub-recall trade, mirroring ``ngram_jaccard_prefix_pairs``.

    Brute route (a driver route): when the corpus is small (ids
    + texts under ``_BRUTE_COLLECT_BYTES``) and dense (n_docs × vocab ≤
    ``_BRUTE_MAX_CELLS`` bit-matrix cells — a 64 MB float32 matrix),
    candidates are skipped entirely: texts are collected once
    (bounded), shingled in Python, and all ordered pairs are verified by
    one float32 GEMM per task over the broadcast bit matrix
    (``_brute_gemm``; exact — inter ≤ vocab ≤ 8192 « 2^24).
    Past either gate the candidate-join routes below serve unchanged, so
    a 100 TB corpus never collects anything. Route-equality
    pytest-pinned across all three routes."""
    from pyspark.sql import Window

    # Brute GEMM route: on a small dense corpus the prefix
    # filter cannot block (sf0.1: 3.99M of 12.5M pairs remain candidates)
    # and the candidate join + mask joins dominate — 10.4 s calm vs
    # DuckDB's sub-second hash agg. One NARROW aggregate decides whether
    # the raw texts are small enough to collect (no explode, no distinct
    # shuffle, no tokenize); the density gates are then checked
    # driver-side after the bounded collect, falling back to the
    # candidate-join routes when the corpus turns out sparse. The row
    # bound keeps docs × min_shingles within the cell bound. max_doc_freq
    # is a deliberate sub-recall cap — the caller asked for the capped
    # candidate semantics, which the exact brute route cannot honor, so
    # it only serves the exact (default) form.
    num, den = threshold_num, threshold_den
    texts_pdf = None if max_doc_freq is not None else _brute_texts(
        docs, id_col, text_col, _BRUTE_MAX_CELLS // max(min_shingles, 1))
    if texts_pdf is not None:
        def accept(ixs, inter, ids, lens):
            import numpy as np
            import pandas as pd

            na_a = lens[ixs]
            ok = den * inter >= num * na_a[:, None]
            # Degenerate-input parity with the candidate routes: an
            # empty shingle set (possible only when the caller
            # passes min_shingles < 1) must pair with nothing — the
            # accept is vacuously true at na = 0 — and the join routes
            # exclude contained != container by ID, so duplicate doc ids
            # may not emit (X, X) self-pairs either (positional
            # self-exclusion alone misses them). Equal sets emit both
            # directions.
            ok &= na_a[:, None] > 0
            ok[np.arange(len(ixs)), ixs] = False
            ai, bi = np.nonzero(ok)
            keep = ids[ixs[ai]] != ids[bi]
            ai, bi = ai[keep], bi[keep]
            return pd.DataFrame({
                "contained": ids[ixs[ai]],
                "container": ids[bi],
                "n_contained": na_a[ai].astype(np.int32),
                "inter": inter[ai, bi].astype(np.int32),
            })

        id_t = docs.schema[id_col].dataType
        out = _brute_gemm(
            docs, id_col, text_col, texts_pdf, hashed_verify, min_shingles,
            T.StructType([T.StructField("contained", id_t),
                          T.StructField("container", id_t),
                          T.StructField("n_contained", T.IntegerType()),
                          T.StructField("inter", T.IntegerType())]),
            accept)
        if out is not None:
            return out.withColumn(
                "containment", F.col("inter").cast("double")
                / F.col("n_contained").cast("double"))

    arr = shingle_arrays(docs, id_col, text_col)
    if hashed_verify:
        arr = arr.select("id", F.expr(
            "transform(shs, s -> "
            "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
        ).alias("shs"))
    arr = (arr.filter(F.size("shs") >= min_shingles)
              .localCheckpoint(eager=False))
    sh = _explode_shingles(arr)
    # NOT checkpointed deliberately (r16 A/B): freq feeds several
    # consumers, but a localCheckpoint here measured 13.3 s vs 10.4 s —
    # the barrier serializes jobs that AQE otherwise interleaves, and the
    # recompute above the (checkpointed) arr is cheap.
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (sh.join(freq, "shingle")
                .withColumn("r", F.row_number().over(
                    Window.partitionBy("id").orderBy("df", "shingle"))))
    ranked = ranked.localCheckpoint(eager=False)
    # overlap bound α = ⌈t·n⌉ in integers: ceil(num·n / den)
    alpha = F.ceil(F.col("n") * threshold_num / F.lit(threshold_den))
    prefix = (ranked.filter(F.col("r") <= F.col("n") - alpha + 1)
                    .select(F.col("id").alias("contained"),
                            F.col("n").alias("na"), F.col("r").alias("ra"),
                            "shingle"))
    posts = ranked.select(F.col("id").alias("container"),
                          F.col("n").alias("nb"), F.col("r").alias("rb"),
                          "shingle")
    if max_doc_freq is not None:
        keep = freq.filter(F.col("df") <= max_doc_freq).select("shingle")
        posts = posts.join(keep, "shingle")
    alpha_a = F.ceil(F.col("na") * threshold_num / F.lit(threshold_den))
    # Positional filter, containment form (sound by the first-common-
    # shingle argument: both lists share the global (df, shingle) order,
    # so for the FIRST common shingle at ranks (ra, rb) every other
    # common shingle sits after both — overlap ≤ 1 + min(na−ra, nb−rb),
    # and that match has ra inside A's prefix by the count argument; a
    # qualifying pair therefore always passes on at least one row).
    # On dense corpora it prunes container matches to B's first
    # nb − α + 1 positions — the candidate cut that keeps Σ df(prefix)
    # from exploding when every shingle is frequent.
    ubound = F.lit(1) + F.least(F.col("na") - F.col("ra"),
                                F.col("nb") - F.col("rb"))
    cands_raw = (prefix.repartition(_par(sh, 2)).join(posts, "shingle")
                 .filter((F.col("contained") != F.col("container"))
                         & (F.col("nb") >= alpha_a)
                         & (ubound >= alpha_a))
                 .select("contained", "container"))

    # Dense-vocabulary route: when the corpus' distinct-shingle count is
    # small (the replica-dense fixture: 931 shingles over 5000 docs →
    # nearly every doc pair is a candidate and the prefix filter cannot
    # block), per-pair verification dominates. Represent each doc's set
    # as a fixed-width bitmask over the global shingle dictionary and
    # verify with zip_with-AND + bit_count — ~10× cheaper per pair than
    # array_intersect, which also lets the expensive pre-verify
    # pair-DISTINCT be skipped (duplicate candidates re-verify for
    # pennies; the distinct moves to the tiny result). Identical rows to
    # the array path (pytest-pinned); vocabulary-gated, so a real sparse
    # corpus (vocab ~ corpus size) stays on the array path where masks
    # are impossible and candidates are few anyway.
    vocab_n = freq.count()
    if vocab_n <= _DENSE_VOCAB_MAX:
        nw = (vocab_n + 63) // 64
        vocab_idx = freq.select(
            "shingle",
            (F.row_number().over(Window.orderBy("df", "shingle")) - 1)
            .alias("_vi"))
        masks = (sh.join(vocab_idx, "shingle")
                 .groupBy("id", "n").agg(F.collect_list("_vi").alias("_vis"))
                 .select("id", "n", F.expr(
                     f"transform(sequence(0, {nw - 1}), w -> "
                     "aggregate(filter(_vis, i -> i div 64 = w), "
                     "cast(0 as bigint), (acc, i) -> acc | "
                     "shiftleft(cast(1 as bigint), cast(i % 64 as int))))"
                 ).alias("mask")))
        ma = masks.select(F.col("id").alias("contained"),
                          F.col("n").alias("n_contained"),
                          F.col("mask").alias("_mka"))
        mb = masks.select(F.col("id").alias("container"),
                          F.col("mask").alias("_mkb"))
        # Explicit per-word sum, NOT zip_with/aggregate: higher-order
        # functions are interpreted row-at-a-time in Spark (they break
        # whole-stage codegen) — a flat nw-term bit_count sum stays
        # inside codegen and runs ~an order of magnitude faster on the
        # millions of candidate rows this route exists for.
        inter = sum((F.bit_count(F.element_at("_mka", w + 1)
                                 .bitwiseAND(F.element_at("_mkb", w + 1)))
                     for w in range(nw)), F.lit(0))
        return (cands_raw.join(ma, "contained").join(mb, "container")
                .withColumn("inter", inter)
                .filter(F.col("inter") * threshold_den
                        >= F.lit(threshold_num) * F.col("n_contained"))
                .select("contained", "container", "n_contained", "inter")
                .distinct()
                .withColumn("containment",
                            F.col("inter").cast("double")
                            / F.col("n_contained").cast("double")))

    cands = cands_raw.distinct()
    sa = arr.select(F.col("id").alias("contained"), F.col("shs").alias("sa"))
    sb = arr.select(F.col("id").alias("container"), F.col("shs").alias("sb"))
    return (cands.join(sa, "contained").join(sb, "container")
            .select("contained", "container",
                    F.size("sa").alias("n_contained"),
                    F.size(F.array_intersect("sa", "sb")).alias("inter"))
            .filter(F.col("inter") * threshold_den
                    >= F.lit(threshold_num) * F.col("n_contained"))
            .withColumn("containment",
                        F.col("inter").cast("double")
                        / F.col("n_contained").cast("double")))
