"""Scaling evidence for the driver-crossover FALLBACK paths: force every
crossover gate off (``util.DRIVER_ROUTES = False``) and run the
distributed forms of the changed operators on the 10x fixtures
(.tmp/scale_smoke, built by tools/scale_smoke.py) at the core count in
$SPARK_GRAFT_CPUS. Run once at 32 and once at 8 cores; the wall ratios
show whether the 100 TB forms actually use cores at a scale where the
per-query job floor no longer dominates.

Usage:  SPARK_GRAFT_CPUS=32 python tools/scale_fallbacks.py [op ...]
        SPARK_GRAFT_CPUS=8  python tools/scale_fallbacks.py [op ...]
Prints one JSON line {"cpus": N, "ops": {name: sec}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

DST = "/root/repo/.tmp/scale_smoke"
ONLY = set(sys.argv[1:])


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from keboola_storage_duckdb_spark.functions import util
    from keboola_storage_duckdb_spark.functions.clustering import kmeans
    from keboola_storage_duckdb_spark.functions.dedup_ml import (
        ngram_containment_pairs, ngram_jaccard_prefix_pairs, simhash)
    from keboola_storage_duckdb_spark.functions.packing import (
        corpus_shards, epoch_plan, pack_token_stream)
    from keboola_storage_duckdb_spark.functions.similarity import (
        pq_train_codebooks)
    from keboola_storage_duckdb_spark.functions.sketch import quota_sample
    from keboola_storage_duckdb_spark.operators.quantiles import (
        exact_quantiles_auto)
    from keboola_storage_duckdb_spark.session import get_spark
    from keboola_storage_duckdb_spark.sources.tables import load_table

    util.DRIVER_ROUTES = False          # every op below runs distributed
    spark = get_spark(app_name="scale-fallbacks")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.isdir(DST):
        raise SystemExit("build the 10x fixtures first: "
                         "python tools/scale_smoke.py 10 dedup_exact")
    docs = load_table(spark, DST, "documents")
    li = load_table(spark, DST, "lineitem")
    emb = load_table(spark, DST, "embeddings")

    def noop(df):
        # guide §1.4: count() lets Catalyst PRUNE projections (windows,
        # signature folds) — the noop sink computes every column
        df.write.format("noop").mode("overwrite").save()

    ops = {
        # r16 Lloyd crossover fallbacks (distributed Lloyd loop)
        "kmeans_dist": lambda: noop(kmeans(
            emb, "vec_id", "embedding", k=4, max_iter=10)),
        "pq_train_dist": lambda: pq_train_codebooks(
            emb, "vec_id", "embedding", m=4, ksub=8, dim=64, iters=2),
        # r16 quantile crossover fallback (bounded histogram engine)
        "quantiles_hist": lambda: exact_quantiles_auto(
            li, ["l_quantity", "l_extendedprice", "l_discount"],
            [0.01, 0.25, 0.5, 0.75, 0.99], max_rows=0),
        # r16 quota crossover fallback (hash-threshold prefilter + rank)
        "quota_threshold": lambda: noop(quota_sample(
            docs, "lang", "doc_id", {"en": 300, "de": 200, "fr": 100})),
        # r17 exclusive-scan crossover fallbacks (two-phase scan)
        "corpus_shards_dist": lambda: noop(corpus_shards(
            docs, "doc_id", n_shards=8)),
        "pack_stream_dist": lambda: noop(pack_token_stream(
            docs, "doc_id", "text", max_len=2048)),
        "epoch_plan_dist": lambda: noop(epoch_plan(
            docs, "lang", "doc_id", "text", budget=200)),
        # r16/r17 brute-GEMM fallbacks (candidate joins; the 10x corpus
        # trips the adaptive density cap -> the LSH sub-recall route,
        # and containment runs the documented df-capped form)
        "jaccard_cand": lambda: noop(ngram_jaccard_prefix_pairs(
            docs, "doc_id", "text", threshold=0.8, adaptive=True)),
        "containment_cand": lambda: noop(ngram_containment_pairs(
            docs, "doc_id", "text", max_doc_freq=200)),
        # r17 Arrow simhash (a distributed map, no gate — its scaling IS
        # the claim) vs the JVM fold twin
        "simhash_arrow": lambda: noop(simhash(docs, "doc_id", "text")),
        "simhash_fold": lambda: noop(simhash(
            docs, "doc_id", "text", arrow=False)),
    }
    reps = int(os.environ.get("FALLBACK_REPS", "2"))
    out = {}
    # two full alternating passes, min per op (the NOTES rule: this VM's
    # ambient CPU swings up to 8x between draws — a single-run table
    # would be a lottery; containment measured 27 s and 218 s in two
    # otherwise-identical runs of an earlier draft)
    for r in range(reps):
        for name, fn in ops.items():
            if ONLY and name not in ONLY:
                continue
            spark.sparkContext.setJobDescription(f"fallback: {name}")
            t0 = time.perf_counter()
            fn()
            d = round(time.perf_counter() - t0, 2)
            out[name] = min(out.get(name, d), d)
            print(f"rep{r} {name}: {d} s", file=sys.stderr)
    print(json.dumps({"cpus": spark.sparkContext.defaultParallelism,
                      "ops": out}))


if __name__ == "__main__":
    main()
