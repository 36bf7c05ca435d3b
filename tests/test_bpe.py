"""Deterministic BPE tokenizer (functions/bpe.py, VERDICT r14 #4):
fixed-round training with exact-integer counts + md5 tie-breaks, greedy
left-to-right merge application, OOV fallback, and the packing
integration (pack_token_stream budgeting TRAINED token counts)."""

import hashlib

from pyspark.sql import functions as F

from keboola_storage_duckdb_spark.functions.bpe import (
    US, _apply_merge, bpe_apply, bpe_train, token_count_bpe,
    word_frequencies)


def test_bpe_train_learns_expected_merges(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "aa cc")], "doc_id long, text string")
    wf = {r.word: r.freq for r in
          word_frequencies(docs, "text").collect()}
    assert wf == {"aa": 3, "bb": 1, "cc": 1}

    merges, vocab = bpe_train(docs, "text", rounds=2)
    assert merges[0] == {"rnd": 1, "left_sym": "a", "right_sym": "a",
                         "merged": "aa", "pair_count": 3}
    # round 2: (b,b) x1 vs (c,c) x1 — md5 tie-break decides
    expect = min(("b", "c"),
                 key=lambda s: hashlib.md5(
                     f"{s}{US}{s}".encode()).hexdigest())
    assert merges[1]["left_sym"] == expect
    assert merges[1]["pair_count"] == 1
    seqs = {r.word: r.seq for r in vocab.collect()}
    assert seqs["aa"] == ["aa"]
    merged_word = expect * 2
    assert seqs[merged_word] == [merged_word]


def test_merge_is_greedy_left_to_right_nonoverlapping(spark):
    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a"],),
         (["x", "a", "a"],), (["a", "x", "a"],)],
        "seq array<string>")
    out = [r.m for r in
           df.select(_apply_merge(F.col("seq"), "a", "a")
                     .alias("m")).collect()]
    assert out == [["aa", "a"], ["aa", "aa"],
                   ["x", "aa"], ["a", "x", "a"]]


def test_bpe_apply_counts_fingerprint_and_oov(spark):
    train = spark.createDataFrame(
        [(1, "abab abab cd")], "doc_id long, text string")
    merges, vocab = bpe_train(train, "text", rounds=2)
    # round 1 merges the most frequent pair in 'abab' (a,b) x4;
    # round 2 then merges (ab,ab) x2
    assert (merges[0]["merged"], merges[1]["merged"]) == ("ab", "abab")

    apply_docs = spark.createDataFrame(
        [(10, "abab cd"),       # in-vocab words
         (11, "zq abab")],      # 'zq' is OOV -> char fallback
        "doc_id long, text string")
    out = {r.id: r for r in
           bpe_apply(apply_docs, "doc_id", "text", vocab).collect()}
    assert out[10].n_tokens == 1 + 2          # [abab] + [c, d]
    assert out[11].n_tokens == 2 + 1          # [z, q] + [abab]
    expect_fp = hashlib.md5(
        US.join(["abab", "c", "d"]).encode()).hexdigest()
    assert out[10].token_fp == expect_fp

    counts = {r.id: r.bpe_vocab_tokens for r in
              token_count_bpe(apply_docs, "doc_id", "text",
                              vocab).collect()}
    assert counts == {10: 3, 11: 3}


def test_apply_merges_fold_equals_pandas(spark):
    """The Arrow word-tokenizer (used past the fold depth bound / by the
    persisted artifact) must be bit-equal to the JVM fold chain."""
    from keboola_storage_duckdb_spark.functions.bpe import (
        apply_merges_to_words)

    words = spark.createDataFrame(
        [("abab",), ("aaab",), ("z",), ("ababab",), ("añb",)],
        "word string")
    merges = [("a", "b"), ("ab", "ab"), ("a", "a")]
    fold = {r.word: r.seq for r in
            apply_merges_to_words(words, merges).collect()}
    arrow = {r.word: r.seq for r in
             apply_merges_to_words(words, merges,
                                   fold_limit=0).collect()}
    assert fold == arrow
    assert fold["abab"] == ["abab"]
    assert fold["aaab"] == ["aa", "ab"]       # (a,b) first, then (a,a)
    assert fold["ababab"] == ["abab", "ab"]


def test_bpe_index_lifecycle(spark, tmp_path):
    """Persisted tokenizer artifact: build freezes the merges; apply
    serves cached vocab and tokenizes OOV words under the same merges;
    the artifact round-trips through load."""
    from keboola_storage_duckdb_spark.functions.bpe import (
        bpe_apply, bpe_index_apply, bpe_index_build, bpe_index_load,
        bpe_train)

    path = str(tmp_path / "tok")
    train = spark.createDataFrame(
        [(1, "abab abab cd")], "doc_id long, text string")
    meta = bpe_index_build(train, "text", path, rounds=2)
    assert meta["kind"] == "bpe" and meta["n_merges"] == 2
    assert bpe_index_load(spark, path)["merges"] == meta["merges"]

    delta = spark.createDataFrame(
        [(10, "abab cd"), (11, "zq abab abq")],  # zq/abq OOV
        "doc_id long, text string")
    got = {r.id: (r.n_tokens, r.token_fp) for r in
           bpe_index_apply(spark, path, delta, "doc_id",
                           "text").collect()}
    # reference: retrain in-session and apply (same corpus, same merges)
    _, vocab = bpe_train(train, "text", rounds=2)
    # extend vocab with the delta's OOV words under the same merges:
    # 'abq' -> [ab, q] via merge (a,b); 'zq' -> [z, q]
    from keboola_storage_duckdb_spark.functions.bpe import (
        apply_merges_to_words)
    oov = spark.createDataFrame([("zq",), ("abq",)], "word string")
    ext = vocab.select("word", "seq").unionByName(
        apply_merges_to_words(oov, [tuple(m) for m in meta["merges"]]))
    want = {r.id: (r.n_tokens, r.token_fp) for r in
            bpe_apply(delta, "doc_id", "text", ext).collect()}
    assert got == want
    assert got[11][0] == 2 + 1 + 2            # [z,q] [abab] [ab,q]

    # kind guard: a foreign meta.json refuses to load
    import json as _json
    import os as _os
    bad = str(tmp_path / "bad")
    _os.makedirs(bad)
    with open(_os.path.join(bad, "meta.json"), "w") as f:
        _json.dump({"kind": "pq"}, f)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bpe_index_load(spark, bad)


def test_packing_consumes_trained_token_counts(spark):
    from keboola_storage_duckdb_spark.functions.packing import (
        pack_token_stream)

    docs = spark.createDataFrame(
        [(i, "abcd " * 8) for i in range(1, 7)],
        "doc_id long, text string")
    _, vocab = bpe_train(docs, "text", rounds=2)
    counts = token_count_bpe(docs, "doc_id", "text", vocab)
    # 'abcd' reduces 4 chars -> 2 symbols after 2 merge rounds (each
    # round merges exactly one adjacent pair of this word, whichever
    # pair the md5 tie-break picks) -> 16 real tokens per doc, where the
    # regex-piece proxy counts 8 word pieces
    packed = {r.doc_id: r for r in
              pack_token_stream(docs, "doc_id", "text", max_len=16,
                                token_counts=counts).collect()}
    assert all(r.n_tokens == 16 for r in packed.values())
    starts = [packed[i].start_token for i in range(1, 7)]
    assert starts == [0, 16, 32, 48, 64, 80]  # id-order exclusive scan
    assert [packed[i].first_chunk for i in range(1, 7)] == \
        [0, 1, 2, 3, 4, 5]
    # default (regex-piece) path budgets 8/doc -> a different layout
    default = {r.doc_id: r for r in
               pack_token_stream(docs, "doc_id", "text",
                                 max_len=16).collect()}
    assert all(r.n_tokens == 8 for r in default.values())
    assert default[3].first_chunk == 1        # 2 docs per chunk there


def test_bpe_train_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    merges, vocab = bpe_train(docs, "text", rounds=3)
    assert merges == [] and vocab.count() == 0
