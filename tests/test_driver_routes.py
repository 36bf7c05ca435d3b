"""Driver routes: every crossover op gives the SAME result whether its
small input runs in one process (the bounded driver collect) or as Spark
jobs (the distributed form that serves past the bound — the 100 TB path).

``util.DRIVER_ROUTES = False`` forces every distributed form; each op
below runs on its fixture with the switch on and off. The switch-on run
must actually take a driver route (a ``toArrow`` collect — the one
collect of ``bounded_collect``) and the switch-off run must take none.
"""

import math
import os

import pytest

from keboola_storage_duckdb_spark.functions import util
from keboola_storage_duckdb_spark.sources.tables import load_table



def _rows(df):
    return sorted(map(tuple, df.collect()))


def _connected_components(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.graph import (
        connected_components)
    # string ids and singleton-free vertex coverage
    edges = spark.createDataFrame(
        [("d", "b"), ("b", "a"), ("x", "y"), ("q", "q")], ["id_a", "id_b"])
    got = {(r.id, r.cluster) for r in connected_components(edges).collect()}
    assert ("d", "a") in got and ("y", "x") in got and ("q", "q") in got
    return got


def _bpe_train(spark, sf_dir):
    """Same merges (order, symbols, exact pair counts) and the same
    fully-merged vocabulary, on a real corpus AND a tie-heavy one (md5
    tie-breaks fire)."""
    from keboola_storage_duckdb_spark.functions.bpe import bpe_train
    real = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                .select("doc_id", "text")
    ties = spark.createDataFrame(
        [(1, "aa bb cc dd ee aa"), (2, "ff gg hh aa ii jj"),
         (3, "xyz xyz qrs añé añé")], "doc_id long, text string")
    out = []
    for docs, rounds in ((real, 6), (ties, 5)):
        merges, vocab = bpe_train(docs, "text", rounds=rounds)
        out.append((merges, sorted((r.word, r.freq, tuple(r.seq))
                                   for r in vocab.collect())))
    return out


def _pack_token_stream(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.packing import (
        pack_token_stream)
    docs = load_table(spark, sf_dir, "documents")
    return _rows(pack_token_stream(docs, "doc_id", "text", max_len=512))


def _corpus_shards(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.packing import corpus_shards
    docs = load_table(spark, sf_dir, "documents")
    return _rows(corpus_shards(docs, "doc_id", n_shards=4))


def _epoch_plan(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.packing import epoch_plan
    docs = load_table(spark, sf_dir, "documents")
    return _rows(epoch_plan(docs, "lang", "doc_id", "text", budget=50,
                            n_shards=3, max_len=256))


def _exact_quantiles_auto(spark, sf_dir):
    """SQL NULLs drop, genuine NaNs order above every double."""
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles_auto)
    df = spark.createDataFrame(
        [(1.0, 5.0), (None, 1.0), (float("nan"), 2.5), (3.0, None),
         (2.0, -1.0), (None, 0.0)], "x double, y double")
    got = exact_quantiles_auto(df, ["x", "y"], [0.0, 0.25, 0.5, 1.0])
    return {c: ["nan" if isinstance(v, float) and math.isnan(v) else v
                for v in vals] for c, vals in got.items()}


def _sf01_embeddings(spark, sf_dir):
    """The Lloyd fixture: the sf0.01 embeddings next to the test corpus."""
    return load_table(spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"),
                      "embeddings")


def _kmeans(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.clustering import kmeans
    emb = _sf01_embeddings(spark, sf_dir)
    return _rows(kmeans(emb, "vec_id", "embedding", k=4, max_iter=10))


def _pq_train_codebooks(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.similarity import (
        pq_train_codebooks)
    emb = _sf01_embeddings(spark, sf_dir)
    return pq_train_codebooks(emb, "vec_id", "embedding",
                              m=4, ksub=8, dim=64, iters=2)


def _quota_sample(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.sketch import quota_sample
    docs = load_table(spark, sf_dir, "documents")
    return _rows(quota_sample(docs, "lang", "doc_id",
                              {"en": 3, "de": 1, "fr": 10_000, "es": 12}))


def _ngram_jaccard(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_jaccard_prefix_pairs)
    docs = load_table(spark, sf_dir, "documents")
    return _rows(ngram_jaccard_prefix_pairs(docs, "doc_id", "text",
                                            threshold=0.8))


def _ngram_containment(spark, sf_dir):
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs)
    docs = load_table(spark, sf_dir, "documents")
    return _rows(ngram_containment_pairs(docs, "doc_id", "text"))


def _cosine_near_dup_pairs(spark, sf_dir):
    """Unblocked (broadcast GEMM vs tile-pair self-join) and blocked
    (broadcast GEMM vs co-partitioned per-block join) candidates."""
    from keboola_storage_duckdb_spark.functions.similarity import (
        cosine_near_dup_pairs)
    rows = [(i, [math.cos(math.radians(3.0 * (i % 7))),
                 math.sin(math.radians(3.0 * (i % 7)))])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = load_table(spark, sf_dir, "embeddings")
    unblocked = _rows(cosine_near_dup_pairs(df, "vec_id", "embedding", 0.999))
    blocked = _rows(cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.35,
                                          block_col="label"))
    assert unblocked and blocked
    return unblocked, blocked


OPS = {f.__name__.lstrip("_"): f for f in (
    _connected_components, _bpe_train, _pack_token_stream, _corpus_shards,
    _epoch_plan, _exact_quantiles_auto, _kmeans, _pq_train_codebooks,
    _quota_sample, _ngram_jaccard, _ngram_containment,
    _cosine_near_dup_pairs)}


@pytest.fixture
def arrow_collects(spark, monkeypatch):
    """Counts ``toArrow`` calls — the one collect of ``bounded_collect``."""
    cls = type(spark.range(1))
    real = cls.toArrow
    calls = []

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(cls, "toArrow", counting)
    return calls


@pytest.mark.parametrize("op", sorted(OPS))
def test_driver_route_equals_distributed(spark, sf_dir, monkeypatch,
                                         arrow_collects, op):
    driver = OPS[op](spark, sf_dir)
    assert arrow_collects, f"{op}: no driver route taken with the switch on"
    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    arrow_collects.clear()
    distributed = OPS[op](spark, sf_dir)
    assert not arrow_collects, f"{op}: driver collect with the switch off"
    assert driver == distributed and driver


def test_bounded_collect_gates(spark, monkeypatch):
    """Row bound, byte bound (Σ row_bytes), a caller-supplied true count
    (int or callable — the callable is not evaluated when the switch is
    off) and the switch."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a" * 10,), ("b" * 20,)], "s string")
    nbytes = F.length("s")
    assert util.bounded_collect(df, 2).num_rows == 2
    assert util.bounded_collect(df, 1) is None
    assert util.bounded_collect(df, 2, 30, row_bytes=nbytes) is not None
    assert util.bounded_collect(df, 2, 29, row_bytes=nbytes) is None
    assert util.bounded_collect(df, 5, rows=6) is None
    assert util.bounded_collect(df, 5, rows=lambda: 2).num_rows == 2

    def boom():
        raise AssertionError("count evaluated with the switch off")

    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    assert util.bounded_collect(df, 10, rows=boom) is None
    assert util.bounded_collect(df, 10) is None


def test_epoch_plan_gates_on_true_count_not_budget(spark, monkeypatch):
    """Duplicate doc ids multiply the rows the mixture's ≤ budget ids
    join to: with the scan bound set to ``budget`` the driver scan must
    refuse BEFORE collecting (the gate counts the joined rows), and the
    distributed scan serves the same rows."""
    from keboola_storage_duckdb_spark.functions import packing

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"w{i} x y z")
         for i in range(20) for _ in range(5)],
        "doc_id long, lang string, text string")
    budget = 10
    seen = []
    real = packing.bounded_collect

    def spy(df, max_rows, *a, rows=None, **kw):
        n = rows() if callable(rows) else rows
        seen.append(n)
        return real(df, max_rows, *a, rows=n, **kw)

    monkeypatch.setattr(packing, "_DRIVER_SCAN_MAX_ROWS", budget)
    monkeypatch.setattr(packing, "bounded_collect", spy)
    got = _rows(packing.epoch_plan(docs, "lang", "doc_id", "text",
                                   budget=budget, n_shards=2))
    assert len(seen) == 1 and seen[0] > budget      # 5 rows per kept id
    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    assert got == _rows(packing.epoch_plan(docs, "lang", "doc_id", "text",
                                           budget=budget, n_shards=2))
    assert len(got) == seen[0]


def test_ngram_brute_probe_bounds_id_bytes(spark, monkeypatch):
    """Tiny texts with long string ids: the brute routes' byte bound
    counts id bytes, so the collect refuses where text bytes alone would
    pass — and both n-gram ops give the same rows either way."""
    from keboola_storage_duckdb_spark.functions import dedup_ml

    text = "alpha beta gamma delta epsilon zeta eta"
    docs = spark.createDataFrame(
        [("k" * 500 + str(i), text) for i in range(4)],
        "doc_id string, text string")
    text_bytes = 4 * len(text)
    assert dedup_ml._brute_texts(docs, "doc_id", "text", 10) is not None
    monkeypatch.setattr(dedup_ml, "_BRUTE_COLLECT_BYTES", text_bytes + 100)
    assert dedup_ml._brute_texts(docs, "doc_id", "text", 10) is None
    capped = (_rows(dedup_ml.ngram_jaccard_prefix_pairs(
                  docs, "doc_id", "text", threshold=0.8)),
              _rows(dedup_ml.ngram_containment_pairs(docs, "doc_id", "text")))
    monkeypatch.undo()
    brute = (_rows(dedup_ml.ngram_jaccard_prefix_pairs(
                 docs, "doc_id", "text", threshold=0.8)),
             _rows(dedup_ml.ngram_containment_pairs(docs, "doc_id", "text")))
    assert capped == brute and len(brute[0]) == 6 and len(brute[1]) == 12
