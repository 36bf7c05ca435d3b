"""``pipeline``: the data-processing operators over a seeded corpus.

A corpus of 1.32k documents with 60 planted near-duplicate clusters (two
copies of a base document, each with one word replaced) is stored as a
warehouse table; 2k float32 vectors in well-separated blobs are read from
parquet. One pass
runs nine ops, each materialised by a collect or the noop sink:
MinHash-LSH pairs, connected components over those pairs, prefix-filtered
n-gram Jaccard pairs, k-means, exact quantiles, an epoch plan, BPE
training, brute-force top-k and ``StorageEngine.profile``.

Correctness, against references computed in numpy / plain Python from the
generated inputs: n-gram Jaccard returns exactly the pairs with bigram
Jaccard >= 0.8; every MinHash pair is such a pair and at least 70 % of
them are found (LSH is probabilistic); components equal a union-find over
the returned edges and never join unrelated documents; k-means recovers
the planted blobs; quantiles, top-k scores, BPE merges, the epoch plan's
shards and token offsets, and the profile's counts match exact values.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..harness import Op
from .common import write_csv

PROJECT, BUCKET, TABLE = "lab", "corpus", "docs"
COLUMNS = [{"name": "doc_id", "type": "BIGINT", "nullable": False},
           {"name": "text", "type": "VARCHAR"},
           {"name": "lang", "type": "VARCHAR"},
           {"name": "score", "type": "DOUBLE"}]
N_BASE, N_CLUSTERS, COPIES, VOCAB = 1200, 60, 2, 3000
LANGS = (("en", 0.6), ("de", 0.25), ("fr", 0.1), ("cs", 0.05))
N_VEC, DIM, BLOBS, N_QUERIES, TOPK = 2000, 32, 8, 16, 5
THRESHOLD = 0.8
MIN_MINHASH_RECALL = 0.7
PROBS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
BPE_ROUNDS = 12
BUDGET, SHARDS, MAX_LEN = 300, 4, 512
BPE_REGEX = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"
US = "\x1f"
KINDS = ("minhash", "components", "ngram_jaccard", "kmeans", "quantiles",
         "epoch_plan", "bpe_train", "topk", "profile")


def shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {f"{a} {b}" for a, b in zip(w, w[1:])}


def exact_pairs(texts: dict[int, str]) -> dict[tuple[int, int], float]:
    """All pairs with bigram Jaccard >= THRESHOLD, via an inverted index
    (a qualifying pair shares at least one bigram)."""
    sh = {i: shingles(t) for i, t in texts.items()}
    index = defaultdict(list)
    for i, s in sh.items():
        for g in s:
            index[g].append(i)
    cand = set()
    for ids in index.values():
        ids.sort()
        cand.update((a, b) for k, a in enumerate(ids) for b in ids[k + 1:])
    out = {}
    for a, b in cand:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= THRESHOLD:
            out[(a, b)] = j
    return out


def union_find(edges) -> dict[int, int]:
    """vertex -> smallest vertex id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def bpe_reference(texts, rounds: int) -> list[tuple]:
    """BPE training as documented in functions/bpe.py, recounting every
    pair each round: merge the most frequent adjacent pair, ties by
    md5(left US right), then left, then right; apply left to right."""
    freq: dict[str, int] = defaultdict(int)
    for t in texts:
        for w in re.findall(BPE_REGEX, t):
            freq[w] += 1
    words = {w: list(w) for w in freq}
    merges = []
    for rnd in range(1, rounds + 1):
        counts: dict[tuple, int] = defaultdict(int)
        for w, seq in words.items():
            for p in zip(seq, seq[1:]):
                counts[p] += freq[w]
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (
                -kv[1], hashlib.md5(f"{kv[0][0]}{US}{kv[0][1]}".encode())
                .hexdigest(), kv[0][0], kv[0][1]))
        merges.append((rnd, left, right, left + right, n))
        for w, seq in words.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            words[w] = out
    return merges


class Pipeline:
    cycle = block = len(KINDS)   # traced/untraced alternate pass by pass
    tail_q = 50            # ~27 ops per run support no higher percentile

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.eng = ctx.engine
        self.rng = np.random.default_rng([ctx.seed, 13])
        self.inputs = os.path.join(ctx.rundir, "inputs")

    # ------------------------------------------------------------ inputs
    def _corpus(self):
        r = self.rng
        vocab = set()
        while len(vocab) < VOCAB:
            n = int(r.integers(3, 10))
            vocab.add("".join(chr(97 + c) for c in r.integers(0, 26, n)))
        vocab = sorted(vocab)
        texts = [[vocab[i] for i in
                  r.integers(0, VOCAB, int(r.integers(30, 51)))]
                 for _ in range(N_BASE)]
        self.planted = []
        for base in r.choice(N_BASE, N_CLUSTERS, replace=False).tolist():
            members = [base]
            for _ in range(COPIES):
                words = list(texts[base])
                words[int(r.integers(0, len(words)))] = \
                    vocab[int(r.integers(0, VOCAB))]
                members.append(len(texts))
                texts.append(words)
            self.planted.append(members)
        n = len(texts)
        names, shares = zip(*LANGS)
        langs = [names[i] for i in r.choice(len(names), n, p=shares)]
        scores = np.round(r.normal(50.0, 15.0, n), 3)
        return [" ".join(w) for w in texts], langs, scores

    def _vectors(self):
        r = self.rng
        centers = r.normal(0.0, 4.0, (BLOBS, DIM))
        # k-means starts from the k ids first in md5 order; put each of
        # them in its own blob, so that every seed converges in the same
        # few rounds and costs the same
        rank = sorted(range(N_VEC),
                      key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
        which = np.empty(N_VEC, dtype=np.int64)
        which[rank] = np.arange(N_VEC) % BLOBS
        self.blob = which
        return (centers[which] + r.normal(0.0, 0.5, (N_VEC, DIM))
                ).astype(np.float32)

    # ------------------------------------------------------------- setup
    def load(self) -> None:
        e = self.eng
        texts, langs, scores = self._corpus()
        self.texts = dict(enumerate(texts))
        self.langs = langs
        self.scores = scores
        e.create_project(PROJECT)
        e.create_bucket(PROJECT, BUCKET)
        e.create_table(PROJECT, BUCKET, TABLE, COLUMNS,
                       primary_key=["doc_id"])
        path = os.path.join(self.inputs, "docs.csv")
        write_csv(path, [c["name"] for c in COLUMNS],
                  [np.arange(len(texts)), texts, langs,
                   [repr(float(s)) for s in scores]])
        e.import_file(PROJECT, BUCKET, TABLE, path)
        self.vecs = self._vectors()
        vpath = os.path.join(self.inputs, "vectors.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(N_VEC, dtype=np.int64)),
            "embedding": pa.array(list(self.vecs),
                                  type=pa.list_(pa.float32()))}), vpath)
        self.vec_df = self.ctx.spark.read.parquet(vpath)
        # references
        self.pairs = exact_pairs(self.texts)
        self.planted_pairs = {(a, b) for m in self.planted for a in m
                              for b in m if a < b and (a, b) in self.pairs}
        self.cluster_of = {d: c for c, m in enumerate(self.planted)
                           for d in m}
        self.merges = bpe_reference(texts, BPE_ROUNDS)

    # --------------------------------------------------------------- ops
    def _docs(self):
        return self.eng.read_table(PROJECT, BUCKET, TABLE)

    def next_op(self, i: int) -> Op:
        kind = KINDS[i % len(KINDS)]
        return Op(kind, getattr(self, f"_run_{kind}"),
                  getattr(self, f"_check_{kind}"))

    def _span(self, name):
        return self.ctx.tracer.span(name)

    def _run_minhash(self):
        from keboola_storage_duckdb_spark.functions.dedup_ml import (
            minhash_lsh_pairs)
        with self._span("functions.minhash_lsh_pairs"):
            return minhash_lsh_pairs(
                self._docs(), "doc_id", "text", n_hashes=12, band_size=4,
                threshold=THRESHOLD).collect()

    def _check_minhash(self, rows):
        got = {(r.id_a, r.id_b): r.jaccard for r in rows}
        self.edge_list = list(got)      # what the components op reads
        wrong = [p for p in got if p not in self.pairs
                 or abs(got[p] - self.pairs[p]) > 1e-9]
        if wrong:
            return f"minhash pairs below the threshold: {wrong[:5]}"
        recall = len(self.planted_pairs & got.keys()) / len(self.planted_pairs)
        if recall < MIN_MINHASH_RECALL:
            return f"minhash found {recall:.0%} of the planted pairs"
        return None

    def _run_components(self):
        from keboola_storage_duckdb_spark.functions.graph import (
            connected_components)
        # the edges the minhash op collected, not its lineage again
        edges = self.ctx.spark.createDataFrame(self.edge_list,
                                               "id_a long, id_b long")
        with self._span("functions.connected_components"):
            return connected_components(edges).collect()

    def _check_components(self, rows):
        comp = {r.id: r.cluster for r in rows}
        if comp != union_find(self.edge_list):
            return "components differ from a union-find over the edges"
        for v, root in comp.items():
            if self.cluster_of.get(v) != self.cluster_of.get(root):
                return f"component of {root} joins unrelated document {v}"
        return None

    def _run_ngram_jaccard(self):
        from keboola_storage_duckdb_spark.functions.dedup_ml import (
            ngram_jaccard_prefix_pairs)
        with self._span("functions.ngram_jaccard_prefix_pairs"):
            return ngram_jaccard_prefix_pairs(
                self._docs(), "doc_id", "text", threshold=THRESHOLD).collect()

    def _check_ngram_jaccard(self, rows):
        got = {(r.id_a, r.id_b): r.jaccard for r in rows}
        if got.keys() != self.pairs.keys() or any(
                abs(got[p] - self.pairs[p]) > 1e-9 for p in got):
            return (f"{len(got)} n-gram pairs, exact answer has "
                    f"{len(self.pairs)}")
        return None

    def _run_kmeans(self):
        from keboola_storage_duckdb_spark.functions.clustering import kmeans
        with self._span("functions.kmeans"):
            return kmeans(self.vec_df, "vec_id", "embedding", k=BLOBS,
                          max_iter=20).collect()

    def _check_kmeans(self, rows):
        """The blobs are far apart and each holds one seed: the clusters
        must be exactly the blobs."""
        lab = np.full(N_VEC, -1)
        for r in rows:
            lab[r.id] = r.cluster
        pairs = set(zip(self.blob.tolist(), lab.tolist()))
        if (lab < 0).any() or len(pairs) != BLOBS or \
                len({c for _, c in pairs}) != BLOBS:
            return "k-means clusters are not the planted blobs"
        return None

    def _run_quantiles(self):
        from keboola_storage_duckdb_spark.operators.quantiles import (
            exact_quantiles_auto)
        with self._span("operators.exact_quantiles_auto"):
            return exact_quantiles_auto(self._docs(), ["score"], PROBS)

    def _check_quantiles(self, res):
        want = np.quantile(self.scores, PROBS)
        if not np.allclose(res["score"], want, rtol=1e-12, atol=1e-9):
            return f"quantiles {res['score']} != numpy {want.tolist()}"
        return None

    def _run_epoch_plan(self):
        from keboola_storage_duckdb_spark.functions.packing import epoch_plan
        with self._span("functions.epoch_plan"):
            return epoch_plan(self._docs(), "lang", "doc_id", "text",
                              budget=BUDGET, n_shards=SHARDS,
                              max_len=MAX_LEN, seed="epoch").collect()

    def _check_epoch_plan(self, rows):
        if not rows or len(rows) > BUDGET or \
                len({r.doc_id for r in rows}) != len(rows):
            return f"epoch plan keeps {len(rows)} rows (budget {BUDGET})"
        by_shard = defaultdict(list)
        for r in rows:
            h = hashlib.md5(f"epoch|{r.doc_id}".encode()).hexdigest()
            n_tok = len(re.findall(BPE_REGEX, self.texts[r.doc_id]))
            if (r.g != self.langs[r.doc_id] or r.n_tokens != n_tok
                    or r.shard != int(h[:12], 16) % SHARDS):
                return f"epoch plan row for doc {r.doc_id} is wrong"
            by_shard[r.shard].append((h, r))
        for members in by_shard.values():
            off = 0
            for _, r in sorted(members, key=lambda m: m[0]):
                last = (off + r.n_tokens - 1) // MAX_LEN
                if (r.start_token, r.first_chunk, r.last_chunk,
                        r.n_chunks) != (off, off // MAX_LEN, last,
                                        last - off // MAX_LEN + 1):
                    return f"epoch plan offsets wrong at doc {r.doc_id}"
                off += r.n_tokens
        return None

    def _run_bpe_train(self):
        from keboola_storage_duckdb_spark.functions.bpe import bpe_train
        with self._span("functions.bpe_train"):
            merges, vocab = bpe_train(self._docs(), "text",
                                      rounds=BPE_ROUNDS)
            vocab.write.format("noop").mode("overwrite").save()
        return merges

    def _check_bpe_train(self, merges):
        got = [(m["rnd"], m["left_sym"], m["right_sym"], m["merged"],
                m["pair_count"]) for m in merges]
        if got != self.merges:
            return f"BPE merges differ from the reference: {got[:3]}"
        return None

    def _run_topk(self):
        from pyspark.sql import functions as F

        from keboola_storage_duckdb_spark.functions.similarity import (
            brute_force_topk_auto)
        with self._span("functions.brute_force_topk_auto"):
            q = self.vec_df.filter(F.col("vec_id") < N_QUERIES)
            return brute_force_topk_auto(self.vec_df, q, "vec_id",
                                         "embedding", k=TOPK).collect()

    def _check_topk(self, rows):
        x = self.vecs.astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        sims = x[:N_QUERIES] @ x.T
        sims[np.arange(N_QUERIES), np.arange(N_QUERIES)] = -np.inf
        got = defaultdict(list)
        for r in rows:
            got[r.query_id].append((r.rank, r.score, r.neighbor_id))
        for q in range(N_QUERIES):
            want = np.sort(sims[q])[::-1][:TOPK]
            mine = sorted(got[q])
            if len(mine) != TOPK or any(
                    abs(s - w) > 2e-6 or abs(sims[q, n] - s) > 2e-6
                    for (_, s, n), w in zip(mine, want)):
                return f"top-{TOPK} of query {q} differs from numpy"
        return None

    def _run_profile(self):
        return self.eng.profile(PROJECT, BUCKET, TABLE)

    def _check_profile(self, prof):
        n = len(self.texts)
        want = {"doc_id": n, "text": len(set(self.texts.values())),
                "lang": len(set(self.langs)),
                "score": len(set(self.scores.tolist()))}
        cols = {c["name"]: c for c in prof["columns"]}
        if prof["row_count"] != n:
            return f"profile counts {prof['row_count']} rows, want {n}"
        for name, distinct in want.items():
            c = cols[name]
            if c["non_null_count"] != n or c["distinct_count"] != distinct:
                return f"profile of {name} has wrong counts"
        s = cols["score"]
        if (s["min"], s["max"]) != (self.scores.min(), self.scores.max()):
            return "profile of score has a wrong range"
        return None

    # ------------------------------------------------------------ checks
    def final_checks(self) -> list[str]:
        return []

    def live_rows(self) -> int:
        return len(self.texts)

    def close(self) -> None:
        pass
