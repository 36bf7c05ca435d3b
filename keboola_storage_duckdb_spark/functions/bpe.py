"""Deterministic byte-pair-encoding tokenizer: fixed-round pair-merge
training + greedy merge application (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units", arXiv:1508.07909 — the
published BPE recipe every modern LLM tokenizer descends from).

This closes the last stubbed link in the token chain (text.py's
``BPE_REGEX`` is a pre-tokenizer only; token counts were regex-piece
counts until now — VERDICT r14 #4). No reference counterpart (the
reference has no tokenizer); part of the brief's training-pipeline
surface.

Determinism contract (the kmeans_fixed precedent — every step is exactly
reproducible on another engine):
- training runs a FIXED number of rounds; each round merges exactly the
  single most frequent adjacent symbol pair, ties broken by
  ``md5(left || US || right)`` ascending (all-integer counts, no floats
  anywhere);
- merges apply LEFT-TO-RIGHT, non-overlapping, one merge rule per round
  ("aaa" under (a,a) -> [aa, a]);
- the pre-tokenizer is ``text.BPE_REGEX`` (word pieces / single
  punctuation), identical in Spark and DuckDB ``regexp_extract_all``.

Scale shape (the part that matters at 100 TB): training never touches the
corpus again after ONE groupBy builds the word-FREQUENCY table — the
classic BPE formulation trains on (word, freq), so per-round cost is a
pair-count shuffle over the VOCABULARY (bounded by distinct words, not
corpus bytes) + a driver collect of exactly ONE row + a narrow fold map.
Apply tokenizes the vocabulary once and hash-joins token strings back to
documents — corpus text is scanned once for words, never per merge round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import BPE_REGEX
from .util import bounded_collect

__all__ = ["word_frequencies", "bpe_train", "bpe_apply",
           "token_count_bpe", "apply_merges_to_words",
           "bpe_index_build", "bpe_index_load", "bpe_index_apply", "US"]

# Unit separator: joins symbols for tie-break hashing and token
# fingerprints. Word-piece tokens never contain it; a pathological corpus
# can emit it as a single-punctuation token (it is not \s-class), which
# only blurs the FINGERPRINT's injectivity — both engines compute the
# identical join, so cross-engine parity is unaffected.
US = "\x1f"


def word_frequencies(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the BPE_REGEX pre-tokenization — the bounded
    table BPE trains on. One shuffle, map-side combinable."""
    return (docs.select(F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX),
                                     F.lit(0))).alias("word"))
                .groupBy("word")
                .agg(F.count(F.lit(1)).alias("freq")))


def _apply_merge(seq_col, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of one learned pair
    over a symbol array — the published BPE merge step as an in-plan
    ``aggregate`` fold (JVM higher-order function, no UDF): carry
    (emitted prefix, pending symbol); a (pend=left, cur=right) hit emits
    the merged symbol and clears pending, so a fresh merge output never
    chains into the next occurrence within the same round."""
    a, b, ab = F.lit(left), F.lit(right), F.lit(left + right)
    init = F.struct(F.array().cast("array<string>").alias("out"),
                    F.lit(None).cast("string").alias("pend"))

    def step(acc, x):
        return (F.when(acc["pend"].isNull(),
                       F.struct(acc["out"].alias("out"), x.alias("pend")))
                 .when((acc["pend"] == a) & (x == b),
                       F.struct(F.concat(acc["out"], F.array(ab))
                                 .alias("out"),
                                F.lit(None).cast("string").alias("pend")))
                 .otherwise(
                       F.struct(F.concat(acc["out"], F.array(acc["pend"]))
                                 .alias("out"), x.alias("pend"))))

    def fin(acc):
        return (F.when(acc["pend"].isNull(), acc["out"])
                 .otherwise(F.concat(acc["out"], F.array(acc["pend"]))))

    return F.aggregate(seq_col, init, step, fin)


def _top_pair(seq_words: DataFrame):
    """The single most frequent adjacent pair over (seq, freq) rows —
    (left, right, count) or None when no word has >= 2 symbols. Count is
    exact integer; tie-break md5(left || US || right) ASC then the pair
    itself (md5 collisions are not assumed impossible)."""
    pairs = (seq_words.select(
                 "freq",
                 F.explode(F.zip_with(
                     F.slice("seq", 1, F.size("seq") - 1),
                     F.slice("seq", 2, F.size("seq") - 1),
                     lambda x, y: F.struct(x.alias("l"), y.alias("r"))))
                  .alias("p"))
             .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
             .agg(F.sum("freq").alias("cnt")))
    top = (pairs.orderBy(F.desc("cnt"),
                         F.md5(F.concat_ws(US, "l", "r")).asc(),
                         F.asc("l"), F.asc("r"))
                .limit(1).collect())
    if not top:
        return None
    return top[0]["l"], top[0]["r"], int(top[0]["cnt"])


def _bpe_train_driver(rows, rounds: int):
    """All merge rounds driver-side over a COLLECTED (word, freq) table —
    the connected_components ``_cc_driver`` crossover (VERDICT r15 #1):
    the per-round distributed loop pays one full Spark job + a 1-row
    collect per merge, which is fine at rounds=3 and a non-starter at a
    tokenizer-realistic 32k merges. The vocabulary is bounded by distinct
    words (never corpus bytes), so under the byte bound the whole
    training loop runs here in milliseconds-per-merge.

    Arithmetic is IDENTICAL to the distributed path (pytest-pinned
    bit-equal): exact integer counts summed over word frequencies,
    top pair by (count DESC, md5(l || US || r) ASC, l ASC, r ASC) —
    hashlib.md5 over UTF-8 == Spark's md5(), Python str order ==
    Spark's UTF8 binary order (UTF-8 preserves code-point order) —
    and the same pend-based greedy left-to-right non-overlapping merge
    as ``_apply_merge`` / ``apply_merges_to_words``.

    Per round: a lazy-deletion heap yields the current top pair
    (entries are (-count, md5, l, r); stale entries are discarded
    against the live count on pop), and only the words CONTAINING the
    merged pair are rewritten, with pair counts updated from the exact
    old-vs-new adjacency diff — the incremental bookkeeping of the
    published learn_bpe reference implementation (Sennrich et al. 2016),
    so cost per round is O(words touched), not O(vocabulary).

    Returns ``(merges, seqs)`` with ``seqs[i]`` the fully-merged symbol
    sequence of ``rows[i]``."""
    import hashlib
    import heapq
    from collections import defaultdict

    words = [list(r[0]) for r in rows]
    freqs = [int(r[1]) for r in rows]

    def _pairs(seq):
        c: dict = defaultdict(int)
        for x, y in zip(seq, seq[1:]):
            c[(x, y)] += 1
        return c

    pair_cnt: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)
    for i, seq in enumerate(words):
        if len(seq) < 2:
            continue
        for p, k in _pairs(seq).items():
            pair_cnt[p] += k * freqs[i]
            pair_words[p].add(i)

    def _hkey(p):
        return hashlib.md5((p[0] + US + p[1]).encode("utf-8")).hexdigest()

    heap = [(-c, _hkey(p), p[0], p[1]) for p, c in pair_cnt.items()]
    heapq.heapify(heap)

    merges: list[dict] = []
    for rnd in range(1, rounds + 1):
        best = None
        while heap:
            negc, _, left, right = heapq.heappop(heap)
            if pair_cnt.get((left, right), 0) == -negc:
                best = (left, right, -negc)
                break
        if best is None:
            break
        left, right, cnt = best
        ab = left + right
        merges.append({"rnd": rnd, "left_sym": left, "right_sym": right,
                       "merged": ab, "pair_count": cnt})
        changed: set = set()
        for i in pair_words.pop((left, right), ()):
            seq = words[i]
            out: list = []
            pend = None
            for cur in seq:
                if pend is None:
                    pend = cur
                elif pend == left and cur == right:
                    out.append(ab)
                    pend = None
                else:
                    out.append(pend)
                    pend = cur
            if pend is not None:
                out.append(pend)
            if out == seq:          # stale index entry; word already clean
                continue
            f = freqs[i]
            oldc, newc = _pairs(seq), _pairs(out)
            for p in set(oldc) | set(newc):
                d = newc.get(p, 0) - oldc.get(p, 0)
                if d:
                    pair_cnt[p] += d * f
                    changed.add(p)
                if newc.get(p, 0) > 0:
                    pair_words[p].add(i)
                else:
                    pair_words[p].discard(i)
            words[i] = out
        pair_cnt.pop((left, right), None)
        changed.discard((left, right))
        for p in changed:
            c = pair_cnt.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, _hkey(p), p[0], p[1]))
    return merges, words


# The (word, freq) table collects when it fits comfortably on the driver
# (a bounded_collect driver route — row bound AND an estimated-bytes bound
# from the same aggregate that materializes the checkpoint). Past the
# bound the per-round distributed loop keeps every step cluster-side.
_BPE_DRIVER_MAX_ROWS = 1_000_000
_BPE_DRIVER_MAX_BYTES = 256 << 20


def bpe_train(docs: DataFrame, text_col: str, rounds: int = 3):
    """Train ``rounds`` BPE merges; returns ``(merges, vocab_df)`` where
    merges is a list of dicts {rnd, left_sym, right_sym, merged,
    pair_count} (1-based rounds, learned order = priority order) and
    vocab_df holds (word, freq, seq) with every merge applied — the
    word-level tokenization ``bpe_apply`` joins back to documents.

    Vocabularies under ``_BPE_DRIVER_MAX_ROWS`` words (and the byte bound —
    probed with the same aggregate that materializes the checkpoint)
    train entirely driver-side via :func:`_bpe_train_driver`: one
    corpus scan, ONE collect, then all rounds at Python speed — the
    only shape that survives tokenizer-realistic merge counts (32k
    sequential Spark jobs is not a plan). Past the bound, the
    iterative-with-bounded-collect distributed loop (the certified
    Lloyd pattern) takes over: each round materializes the vocab frame
    via a lazy localCheckpoint (the pair count is the caching action)
    and collects exactly ONE row. Both paths are bit-equal
    (pytest-pinned)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    wf = word_frequencies(docs, text_col).localCheckpoint(eager=False)
    tbl = bounded_collect(wf.select("word", "freq"), _BPE_DRIVER_MAX_ROWS,
                          _BPE_DRIVER_MAX_BYTES,
                          row_bytes=F.length("word") + F.lit(120))
    if tbl is not None:
        import pandas as pd

        # Arrow both ways (toArrow / pandas createDataFrame): no per-Row
        # objects at the 1M-word bound
        pdf = tbl.to_pandas()
        rows = list(zip(pdf["word"], pdf["freq"]))
        merges, seqs = _bpe_train_driver(rows, rounds)
        if not rows:
            return merges, docs.sparkSession.createDataFrame(
                [], "word string, freq long, seq array<string>")
        vocab = docs.sparkSession.createDataFrame(
            pd.DataFrame({"word": pdf["word"],
                          "freq": pdf["freq"].astype("int64"),
                          "seq": seqs}),
            "word string, freq long, seq array<string>")
        return merges, vocab
    seq_words = (wf.select("word", "freq", F.split("word", "").alias("seq"))
                   .localCheckpoint(eager=False))
    merges: list[dict] = []
    for rnd in range(1, rounds + 1):
        top = _top_pair(seq_words)
        if top is None:
            break
        left, right, cnt = top
        merges.append({"rnd": rnd, "left_sym": left, "right_sym": right,
                       "merged": left + right, "pair_count": cnt})
        seq_words = (seq_words.select(
                         "word", "freq",
                         _apply_merge(F.col("seq"), left, right)
                         .alias("seq"))
                     .localCheckpoint(eager=False))
    return merges, seq_words


def bpe_apply(docs: DataFrame, id_col: str, text_col: str,
              vocab_df: DataFrame) -> DataFrame:
    """Tokenize documents with a trained vocabulary: pre-tokenize into
    words (order kept), hash-join each word's trained symbol sequence
    from ``vocab_df``, and reassemble per document. Returns
    ``(id, n_tokens, token_fp)`` — exact token count under the learned
    merges plus an md5 fingerprint of the full US-joined token stream
    (order-sensitive: any engine that tokenizes differently mismatches).

    Out-of-vocabulary words (possible when applying a tokenizer trained
    elsewhere) fall back to their character split — the published BPE
    behavior for unseen words with a base-character vocab.

    One explode + one join keyed on word + one groupBy: corpus-linear,
    no per-round scans."""
    words = (docs.select(
                 F.col(id_col).alias("id"),
                 F.posexplode(F.regexp_extract_all(
                     F.col(text_col), F.lit(BPE_REGEX), F.lit(0)))
                  .alias("pos", "word")))
    toks = (words.join(vocab_df.select("word", "seq"), "word", "left")
                 .select("id", "pos",
                         F.coalesce("seq", F.split("word", ""))
                          .alias("seq")))
    per_word = toks.select(
        "id", "pos", F.size("seq").cast("long").alias("n"),
        F.array_join("seq", US).alias("ts"))
    return (per_word.groupBy("id")
            .agg(F.sum("n").alias("n_tokens"),
                 F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "ts"))),
                         lambda s: s["ts"]),
                     US)).alias("token_fp")))


# The JVM aggregate-fold merge chain nests one lambda per merge; past a
# handful of rounds the expression tree risks the measured Janino
# depth cliff (NOTES r14: literal when-chains compile at 12, blow at
# 16 → 36× interpreted fallback). Production tokenizers carry
# thousands of merges, so the word-level apply switches to an
# Arrow-batched map over the DISTINCT-WORD table past this bound —
# vocabulary-bounded, never corpus-bounded, so the no-UDF-in-hot-path
# rule holds (the corpus-side work stays a hash join either way).
_MERGE_FOLD_MAX = 8


def apply_merges_to_words(words: DataFrame,
                          merges: list[tuple[str, str]],
                          fold_limit: int = _MERGE_FOLD_MAX) -> DataFrame:
    """(word) → (word, seq) under a FROZEN merge list applied in learned
    order. JVM fold chain for small merge lists (the oracle-parity
    path); Arrow ``mapInPandas`` with the broadcast merge list past
    ``fold_limit`` (bit-equal to the fold — pinned by pytest; Python
    ``list(str)`` splits code points exactly like ``F.split(col, '')``)."""
    if len(merges) <= fold_limit:
        out = words.select("word", F.split("word", "").alias("seq"))
        for left, right in merges:
            out = out.select(
                "word", _apply_merge(F.col("seq"), left, right)
                .alias("seq"))
        return out
    ms = [(str(left), str(right)) for left, right in merges]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            seqs = []
            for w in pdf["word"]:
                seq = list(w)
                for left, right in ms:
                    out0: list = []
                    pend = None
                    for cur in seq:
                        if pend is None:
                            pend = cur
                        elif pend == left and cur == right:
                            out0.append(left + right)
                            pend = None
                        else:
                            out0.append(pend)
                            pend = cur
                    if pend is not None:
                        out0.append(pend)
                    seq = out0
                seqs.append(seq)
            yield pd.DataFrame({"word": pdf["word"], "seq": seqs})

    return words.select("word").mapInPandas(
        gen, schema="word string, seq array<string>")


def bpe_index_build(docs: DataFrame, text_col: str, path: str,
                    rounds: int = 3,
                    fingerprint: str | None = None) -> dict:
    """Persist a TRAINED tokenizer as a storage artifact (the
    frozen-codebook discipline of ann_index/minhash_index — a training
    pipeline versions its tokenizer and applies the SAME merges to every
    corpus delta forever): ``meta.json`` holds the ordered merge list
    (the tokenizer's entire definition — any text tokenizes from it
    alone); ``vocab/`` caches the training vocabulary's tokenizations so
    applying to the training corpus never re-derives them. Atomic
    staging swap."""
    import os

    from .ann_index import _make_staging, _publish, _write_meta

    staging = _make_staging(path)
    merges, vocab = bpe_train(docs, text_col, rounds=rounds)
    vocab.select("word", "freq", "seq").write.mode("overwrite") \
         .parquet(os.path.join(staging, "vocab"))
    meta = {"kind": "bpe", "rounds": rounds, "n_merges": len(merges),
            "merges": [[m["left_sym"], m["right_sym"]] for m in merges],
            "pair_counts": [m["pair_count"] for m in merges],
            "fingerprint": fingerprint}
    _write_meta(staging, meta)
    _publish(staging, path)
    return meta


def bpe_index_load(spark, path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("kind") not in ("bpe",) and \
            meta.get("index_kind") != "bpe":
        raise ValueError(f"not a bpe tokenizer artifact: {path}")
    return meta


def bpe_index_apply(spark, path: str, docs: DataFrame, id_col: str,
                    text_col: str) -> DataFrame:
    """Tokenize ANY document set under the stored frozen merges:
    out-of-vocabulary words (corpus drift — the reason tokenizers are
    frozen artifacts) tokenize through the same merge list in learned
    order, in-vocabulary words serve from the cached tokenizations.
    Returns ``(id, n_tokens, token_fp)`` like :func:`bpe_apply`."""
    import os

    meta = bpe_index_load(spark, path)
    merges = [tuple(m) for m in meta["merges"]]
    stored = spark.read.parquet(os.path.join(path, "vocab")) \
                  .select("word", "seq")
    words = (docs.select(F.explode(F.regexp_extract_all(
                 F.col(text_col), F.lit(BPE_REGEX), F.lit(0)))
                 .alias("word")).distinct())
    fresh = apply_merges_to_words(
        words.join(stored.select("word"), "word", "left_anti"), merges)
    return bpe_apply(docs, id_col, text_col, stored.unionByName(fresh))


def token_count_bpe(docs: DataFrame, id_col: str, text_col: str,
                    vocab_df: DataFrame) -> DataFrame:
    """token_count's trained-vocabulary variant (VERDICT r14 #4): exact
    per-document token counts under a TRAINED BPE vocab instead of the
    regex-piece proxy — (id, bpe_vocab_tokens). Packing/quota budgets
    consume this when the real tokenizer matters."""
    return (bpe_apply(docs, id_col, text_col, vocab_df)
            .select("id", F.col("n_tokens").alias("bpe_vocab_tokens")))
