"""Iterative k-means over embedding columns — the driver-coordinated
iterative-algorithm pattern (like graph.connected_components) applied to
vector clustering: assignment and re-estimation are distributed DataFrame
ops; only the k centroids (tiny) cross to the driver each round.

Deterministic end-to-end: seeds are the k vectors with the smallest
md5(id) (engine-portable hash, no RNG), ties in assignment break toward the
lower cluster id, and convergence is exact assignment-stability.

Scale notes (100 TB): each round is one broadcast of k·dim doubles + one
narrow map (assignment = argmin over k distances, JVM-side expressions) +
one (cluster, dim)-keyed mean aggregation. No shuffle of the vectors
themselves; rounds are the only serialization point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import bounded_collect

# Driver-Lloyd crossover bound (a bounded_collect driver route like
# graph.connected_components / bpe_train): when rows × dim stays under
# this many floats the vectors collect ONCE (~64 MB of float64 at the
# bound) and every Lloyd round runs in numpy with the IDENTICAL
# sequential per-dim fold — each distributed round otherwise pays a
# Spark job plus re-codegen of the fresh centroid-literal expression.
# Past the bound (or for exotic id types / null-or-ragged vectors) the
# distributed loop serves unchanged, so a 100 TB corpus never collects.
_DRIVER_LLOYD_MAX_FLOATS = 8_000_000


def _lloyd_collect(base: DataFrame):
    """Bounded vector collect for the driver-Lloyd crossover: returns
    (ids, X float64 matrix) or None when the gates refuse (size, id
    type, empty input, null/ragged/non-finite vectors, or values that
    are not float32-exact). One probe agg (rows, Σ vector length) + one
    collect, both inside :func:`~.util.bounded_collect`.

    Exactness gates (ADVICE r16): a NULL/NaN ELEMENT inside a vector
    becomes NaN in X and poisons every mean (the distributed F.avg
    skips NULLs — a real route divergence), so non-finite matrices
    refuse. And the driver means use numpy pairwise summation while
    the distributed route merges Spark partial sums — those agree
    bit-for-bit only when the sums are EXACT, which is the documented
    float32-valued-in-float64 conditional; data that does not
    round-trip float32 therefore refuses too, and the distributed loop
    (the certified pre-r16 behavior) serves it."""
    import numpy as np

    id_t = dict(base.dtypes).get("id", "")
    if id_t not in ("bigint", "int", "smallint", "tinyint", "string"):
        return None
    tbl = bounded_collect(base, _DRIVER_LLOYD_MAX_FLOATS,
                          8 * _DRIVER_LLOYD_MAX_FLOATS,
                          row_bytes=8 * F.size("v"))
    if tbl is None or tbl.num_rows == 0:
        return None
    pdf = tbl.to_pandas()
    if pdf["v"].isna().any() or pdf["id"].isna().any():
        return None
    dims = {len(v) for v in pdf["v"]}
    if len(dims) != 1 or 0 in dims:
        return None                      # ragged or empty vectors
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
    if not np.isfinite(X).all():
        return None
    if not np.array_equal(X, X.astype(np.float32).astype(np.float64)):
        return None
    return list(pdf["id"]), X


def _md5_seed_order(ids) -> list[int]:
    """Row positions ordered by md5(CAST(id AS STRING)) ascending — the
    engine-portable seed order (Spark's UTF8 ordering of hex digests ==
    Python str ordering)."""
    import hashlib

    return sorted(range(len(ids)),
                  key=lambda i: hashlib.md5(
                      str(ids[i]).encode()).hexdigest())


def _dist2_np(X, c):
    """Squared L2 with the SAME IEEE op sequence as the certified
    zip_with/aggregate fold: per dim one subtraction, one multiply, one
    running add — vectorized over rows, sequential over dims."""
    import numpy as np

    acc = np.zeros(X.shape[0], dtype=np.float64)
    for i in range(X.shape[1]):
        diff = X[:, i] - c[i]
        acc = acc + diff * diff
    return acc


def _assign_np(X, centroids):
    """argmin over centroids, ties to the LOWER cluster id (np.argmin
    returns the first minimum — the when-chain/struct-min rule)."""
    import numpy as np

    d = np.stack([_dist2_np(X, np.asarray(c, dtype=np.float64))
                  for c in centroids])
    return np.argmin(d, axis=0)


def _dist2(vec_col: str, centroid: list[float]) -> F.Column:
    arr = "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in centroid) + ")"
    return F.expr(
        f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


# Same budget as similarity._CB_LITERAL_MAX_FLOATS (VERDICT r12 #1):
# past this many floats the k centroid literals stop being SQL text.
_CENT_LITERAL_MAX_FLOATS = 50_000

# The nested when-chain argmin is the historically certified shape, but
# Janino rejects it past ~depth 12 (measured r14: k=12 compiles, k=16
# throws InternalCompilerException and the interpreted fallback is 36x
# slower — 72 s vs 2 s for 2000 rows). Above this depth the literal path
# switches to the FLAT array_min-over-structs form (the broadcast path's
# expression with a literal array-of-arrays) — same fold, same struct
# tie rule, bit-identical assignments.
_CENT_WHEN_CHAIN_MAX_K = 8


def _cents_literal_sql(centroids: list[list[float]]) -> str:
    """SQL literal ``array(array(...), ...)`` of the centroids (doubles)."""
    return "array(" + ",".join(
        "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
        for c in centroids) + ")"


def _argmin_struct_expr(cents_sql: str, k: int) -> F.Column:
    """Flat argmin: min over (d, j) structs — d first then j IS the
    lower-cluster tie rule; the fold per centroid is the identical
    certified ``zip_with``/``aggregate`` double fold."""
    return F.expr(
        f"array_min(transform(sequence(0, {k - 1}), j -> "
        "struct(aggregate(zip_with(v, "
        f"element_at({cents_sql}, j + 1), "
        "(x, y) -> (CAST(x AS DOUBLE) - y) "
        "* (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, w) -> acc + w) AS d, "
        "j AS c))).c")


def _assign_frame(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """``(id, v, cluster)`` hard assignment: argmin over k centroids,
    strictly-lower distance wins, ties break toward the LOWER cluster
    id. At k <= _CENT_WHEN_CHAIN_MAX_K this is the certified shape —
    one literal-array dist column per centroid folded by a when-chain
    (the text the DuckDB oracle shares). Past that depth (Janino
    rejects deep when-chains — see _CENT_WHEN_CHAIN_MAX_K) the argmin
    is the FLAT array_min over (d, j) structs with the centroids as a
    literal array-of-arrays; and past _CENT_LITERAL_MAX_FLOATS the
    k·dim literal floats are a codegen bomb (the codebook-literal
    failure mode of similarity._cb_attach), so the centroids attach as
    ONE broadcast row instead. All three forms run the identical
    zip_with/aggregate fold with the lower-cluster tie rule, so
    assignments are bit-identical."""
    k = len(centroids)
    if k * len(centroids[0]) <= _CENT_LITERAL_MAX_FLOATS:
        if k <= _CENT_WHEN_CHAIN_MAX_K:
            dists = base.select(
                "id", "v",
                *[_dist2("v", c).alias(f"d{j}")
                  for j, c in enumerate(centroids)])
            best = F.lit(0)
            best_d = F.col("d0")
            for j in range(1, k):
                cond = F.col(f"d{j}") < best_d      # strict: lower cluster
                best = F.when(cond, F.lit(j)).otherwise(best)   # wins ties
                best_d = F.when(cond, F.col(f"d{j}")).otherwise(best_d)
            return dists.select("id", "v", best.alias("cluster"))
        return base.select(
            "id", "v",
            _argmin_struct_expr(_cents_literal_sql(centroids), k)
            .alias("cluster"))
    spark = base.sparkSession
    cents = spark.createDataFrame([(centroids,)],
                                  "__cents array<array<double>>")
    return (base.crossJoin(F.broadcast(cents))
                .select("id", "v", F.expr(
                    f"array_min(transform(sequence(0, {k - 1}), j -> "
                    "struct(aggregate(zip_with(v, "
                    "element_at(__cents, j + 1), "
                    "(x, y) -> (CAST(x AS DOUBLE) - y) "
                    "* (CAST(x AS DOUBLE) - y)), "
                    "CAST(0 AS DOUBLE), (acc, w) -> acc + w) AS d, "
                    "j AS c))).c").alias("cluster")))


def kmeans(vectors: DataFrame, id_col: str, vec_col: str, k: int = 4,
           max_iter: int = 10) -> DataFrame:
    """(id, cluster) hard assignments after Lloyd iterations (≤max_iter,
    stops early when assignments are stable).

    Under ``_DRIVER_LLOYD_MAX_FLOATS`` (rows × dim) the iteration runs
    driver-side on ONE bounded collect with the identical sequential
    fold arithmetic, md5 seed order, lower-cluster ties and
    stability rule — bit-equal centroids (pytest-pinned vs the
    distributed loop); only the FINAL assignment map stays a Spark
    frame. Saves one job + one fresh centroid-literal codegen per
    round."""
    base = vectors.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("v"))
    got = _lloyd_collect(base)
    if got is not None:
        import numpy as np

        ids, X = got
        centroids = [[float(x) for x in X[i]]
                     for i in _md5_seed_order(ids)[:k]]
        prev_counts: dict[int, int] | None = None
        c_used = centroids
        for _ in range(max_iter):
            c_used = centroids
            lab = _assign_np(X, centroids)
            new_centroids = list(centroids)
            counts: dict[int, int] = {}
            for cl in np.unique(lab):
                mask = lab == cl
                counts[int(cl)] = int(mask.sum())
                new_centroids[int(cl)] = [
                    float(x) for x in X[mask].sum(axis=0) / mask.sum()]
            if new_centroids == centroids and counts == prev_counts:
                break
            centroids = new_centroids
            prev_counts = counts
        return _assign_frame(base, c_used).select("id", "cluster")
    seeds = (base.withColumn("h", F.md5(F.col("id").cast("string")))
                 .orderBy("h").limit(k).select("v").collect())
    centroids = [list(r.v) for r in seeds]

    assign = None
    prev_counts: dict[int, int] | None = None
    for _ in range(max_iter):
        assign = _assign_frame(base, centroids) \
            .localCheckpoint(eager=False)
        # re-estimate: mean per (cluster, dim); collect k tiny rows
        means = (assign.select("cluster", F.posexplode("v").alias("dim", "x"))
                       .groupBy("cluster", "dim")
                       .agg(F.avg(F.col("x").cast("double")).alias("m"))
                       .groupBy("cluster")
                       .agg(F.array_sort(
                            F.collect_list(F.struct("dim", "m"))).alias("dm"))
                       .select("cluster",
                               F.expr("transform(dm, s -> s.m)").alias("c"))
                       .collect())
        new_centroids = list(centroids)
        for r in means:
            new_centroids[r.cluster] = list(r.c)
        # convergence: per-cluster sizes stable AND centroids unchanged
        counts = {r.cluster: r.n for r in
                  assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
                        .collect()}
        if new_centroids == centroids and counts == prev_counts:
            break
        centroids = new_centroids
        prev_counts = counts
    return assign.select("id", "cluster")


def kmeans_fit(vectors: DataFrame, id_col: str, vec_col: str, k: int = 8,
               rounds: int = 2):
    """Fixed-round Lloyd TRAINING that also returns the model: exactly
    ``rounds`` assignment passes from the md5-seeded init (the
    bit-reproducible kmeans_fixed contract — no early stop, no RNG),
    returning ``(assignments, centroids)`` where ``assignments`` is
    ``(id, v, cluster)`` from the FINAL pass and ``centroids`` the k
    driver-side vectors that pass ranked against — i.e. the trained
    coarse quantizer an IVF index routes through. Clusters that lose
    all members keep their previous centroid (the COALESCE fallback of
    the certified chain)."""
    base = vectors.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("v"))

    def _assign(cents):
        return _assign_frame(base, cents).localCheckpoint(eager=False)

    got = _lloyd_collect(base)
    if got is not None:
        # Driver-Lloyd crossover (r16 opt): identical seeds, folds, tie
        # and empty-cluster rules — bit-equal centroids pytest-pinned vs
        # the distributed loop; the returned assignment stays Spark.
        import numpy as np

        ids, X = got
        centroids = [[float(x) for x in X[i]]
                     for i in _md5_seed_order(ids)[:k]]
        for _ in range(rounds - 1):
            lab = _assign_np(X, centroids)
            centroids = list(centroids)
            for cl in np.unique(lab):
                mask = lab == cl
                centroids[int(cl)] = [
                    float(x) for x in X[mask].sum(axis=0) / mask.sum()]
        return _assign(centroids), centroids
    seeds = (base.withColumn("h", F.md5(F.col("id").cast("string")))
                 .orderBy("h").limit(k).select("v").collect())
    centroids = [[float(x) for x in r.v] for r in seeds]

    for _ in range(rounds - 1):
        assign = _assign(centroids)
        means = (assign.select("cluster", F.posexplode("v").alias("dim", "x"))
                       .groupBy("cluster", "dim")
                       .agg(F.avg(F.col("x").cast("double")).alias("m"))
                       .groupBy("cluster")
                       .agg(F.array_sort(
                            F.collect_list(F.struct("dim", "m"))).alias("dm"))
                       .select("cluster",
                               F.expr("transform(dm, s -> s.m)").alias("c"))
                       .collect())
        centroids = list(centroids)
        for r in means:
            centroids[r.cluster] = [float(x) for x in r.c]
    return _assign(centroids), centroids


def ivf_kmeans_ann_topk(vectors: DataFrame, queries: DataFrame,
                        id_col: str, vec_col: str, k: int = 5,
                        n_clusters: int = 8, rounds: int = 2,
                        nprobe: int = 2) -> DataFrame:
    """IVF with a TRAINED coarse quantizer (the real FAISS
    ``IndexIVFFlat`` construction — `faiss` trains the coarse
    quantizer by k-means; the repo's earlier ``ann_ivf`` routes
    through a pre-existing label column instead): Lloyd-train k
    centroids (``kmeans_fit``, the certified fixed-round chain),
    assign every vector to its inverted list, route each query to the
    ``nprobe`` nearest centroids by exact L2 (lower-cluster
    tie-break), and exact-rank (squared L2, round-6, lower-id
    tie-break) only inside the probed lists.

    Scale shape: training = ``rounds`` broadcast-literal narrow maps +
    one tiny (cluster, dim) mean agg per round; the corpus never
    shuffles — lists ride with the assignment frame, candidates come
    from ONE broadcast hash join of the tiny routed (query, cluster)
    probes. At 100 TB the assignment is written
    ``partitionBy(cluster)`` once and probes prune partitions — the
    same posting-list layout ``ann_index`` persists."""
    labeled, centroids = kmeans_fit(vectors, id_col, vec_col,
                                    k=n_clusters, rounds=rounds)
    return ivf_kmeans_search(labeled, centroids, queries, id_col,
                             vec_col, k=k, nprobe=nprobe)


def ivf_kmeans_search(labeled: DataFrame, centroids: list[list[float]],
                      queries: DataFrame, id_col: str, vec_col: str,
                      k: int = 5, nprobe: int = 2) -> DataFrame:
    """Serve path of :func:`ivf_kmeans_ann_topk` given TRAINED state —
    ``labeled`` = (id, v, cluster) assignments and the k centroids. The
    inline kernel trains then calls this; the persisted-artifact twin
    (r13) reads assignments from a stored kmeans-quantizer index's codes
    table and centroids from its metadata, skipping the Lloyd rounds —
    training is deterministic, so results (and oracles) are identical."""
    from pyspark.sql import Window

    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    kc = len(centroids)
    if kc * len(centroids[0]) <= _CENT_LITERAL_MAX_FLOATS:
        qd = q.select(
            "query_id", "qv",
            *[_dist2("qv", c).alias(f"d{j}")
              for j, c in enumerate(centroids)])
        qdists = qd.select(
            "query_id", "qv",
            F.posexplode(F.array(*[F.col(f"d{j}") for j in range(kc)]))
             .alias("cluster", "cd"))
    else:
        # large trained quantizer: centroids ride as ONE broadcast row
        # (_assign_frame's rationale) — same fold, O(1) plan text
        cents_row = q.sparkSession.createDataFrame(
            [(centroids,)], "__cents array<array<double>>")
        qdists = (q.crossJoin(F.broadcast(cents_row))
                   .select("query_id", "qv", F.posexplode(F.expr(
                       f"transform(sequence(0, {kc - 1}), j -> "
                       "aggregate(zip_with(qv, element_at(__cents, j + 1), "
                       "(x, y) -> (CAST(x AS DOUBLE) - y) "
                       "* (CAST(x AS DOUBLE) - y)), "
                       "CAST(0 AS DOUBLE), (acc, w) -> acc + w))"))
                    .alias("cluster", "cd")))
    routed = (qdists
        .withColumn("rt", F.row_number().over(
            Window.partitionBy("query_id")
                  .orderBy(F.col("cd").asc_nulls_last(),
                           F.col("cluster").asc())))
        .filter(F.col("rt") <= nprobe)
        .select("query_id", "qv", "cluster"))
    cand = labeled.join(F.broadcast(routed), "cluster") \
                  .filter(F.col("id") != F.col("query_id"))
    d = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), F.col("neighbor_id").asc())
    return (cand.select("query_id",
                        F.col("id").alias("neighbor_id"),
                        F.round(d, 6).alias("dist"))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "dist", "rank"))


def _dist_to_assigned(centroids: list[list[float]]) -> F.Column:
    """Round-6 squared-L2 distance from each ``(id, v, cluster)`` row to
    its OWN assigned centroid — the identical ``zip_with``/``aggregate``
    double fold the assignment ranked with (``_dist2``), so the emitted
    value is the ``d`` the argmin already computed. Literal centroids
    below ``_CENT_LITERAL_MAX_FLOATS`` (the certified text shape the
    DuckDB oracle shares); past the when-chain depth gate the fold
    reads its centroid through element_at on a literal array-of-arrays
    (Janino rejects deep when-chains — _CENT_WHEN_CHAIN_MAX_K); past
    the float budget the centroids would ride as one broadcast row
    (``_assign_frame``'s rationale) — callers handle that by joining
    the broadcast row first (see ``prototype_prune``)."""
    if len(centroids) <= _CENT_WHEN_CHAIN_MAX_K:
        d = F.lit(None).cast("double")
        for j, c in enumerate(centroids):
            d = F.when(F.col("cluster") == j, _dist2("v", c)).otherwise(d)
        return F.round(d, 6)
    return F.round(F.expr(
        "aggregate(zip_with(v, "
        f"element_at({_cents_literal_sql(centroids)}, cluster + 1), "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, w) -> acc + w)"), 6)


def semdedup_keep(vectors: DataFrame, id_col: str, vec_col: str,
                  k: int = 4, rounds: int = 2,
                  threshold: float = 0.35) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication that never compares across clusters: k-means the
    embeddings (the certified fixed-round ``kmeans_fit`` chain — md5
    seeds, lower-cluster tie-break), compute round-6 cosine pairs ONLY
    within each cluster (``cosine_near_dup_pairs(block_col="cluster")``,
    the blocked kernel), and apply the deterministic keep-first rule:
    a vector is dropped iff some LOWER-id member of its own cluster
    matches at ``score >= threshold``. Returns every vector as
    ``(id, cluster, keep)`` — the frame a pipeline joins against to
    drop semantic duplicates.

    Scale shape (the reason SemDeDup exists): the cluster assignment
    bounds the pair space to Σ nᵢ² instead of N² — at web scale k is
    chosen so clusters stay small (the paper uses k=50k over LAION),
    and the blocked cosine kernel co-partitions both sides on the
    cluster key past the GEMM gate, so no broadcast and no cross join.
    The keep-first rule is intentionally non-transitive (direct pairs
    only, no connected components): it is the published recipe's
    behavior and keeps the decision embarrassingly parallel per
    cluster. The transitive variant is ``near_dedup_keep``. The cosine
    kernel's broadcast gate (a driver route) picks the BLAS candidate
    stage for corpora that fit it; past it the co-partitioned
    per-cluster join is the distributed path (slow on one box, scales
    across executors)."""
    labeled, _ = kmeans_fit(vectors, id_col, vec_col, k=k, rounds=rounds)
    dropped = _semdedup_dropped(labeled, threshold) \
        .withColumn("__dup", F.lit(True))
    return (labeled.join(dropped, "id", "left")
                   .select("id", "cluster",
                           F.col("__dup").isNull().alias("keep")))


def prototype_prune(vectors: DataFrame, id_col: str, vec_col: str,
                    k: int = 4, rounds: int = 2,
                    keep_num: int = 1, keep_den: int = 2) -> DataFrame:
    """Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws", arXiv:2206.14486): within each trained k-means
    cluster, rank members by distance to their OWN centroid DESCENDING
    (far = hard/informative, near = prototypical/redundant) and keep
    the ``ceil(keep_num/keep_den · n)`` hardest per cluster — the
    data-pruning metric that beats random pruning at scale without any
    trained scorer. Deterministic end-to-end: the certified fixed-round
    Lloyd chain (``kmeans_fit``), round-6 squared-L2 via the identical
    assignment fold, ``(dist DESC, id ASC)`` rank tie-break, and an
    all-integer quota ``(n·num + den − 1) div den``. Returns every
    vector as ``(id, cluster, dist, keep)``.

    Scale shape: one narrow map for the distance (centroids are
    literals/broadcast — the vectors never shuffle for it) + ONE
    cluster-keyed window (rank and count share the same exchange).
    Skew note: cluster sizes are data-dependent; at 100 TB the window
    sorts within clusters, so a giant cluster is a big sort, not a
    crossJoin — and the quota rule only needs (rank, n), so the sort
    is the floor for any exact per-cluster top-fraction."""
    from pyspark.sql import Window

    if keep_den <= 0:
        raise ValueError(f"keep_den must be > 0, got {keep_den}")
    if keep_num < 0 or keep_num > keep_den:
        raise ValueError(
            f"keep_num must be in [0, keep_den], got {keep_num}/{keep_den}")
    labeled, centroids = kmeans_fit(vectors, id_col, vec_col, k=k,
                                    rounds=rounds)
    if len(centroids) * len(centroids[0]) <= _CENT_LITERAL_MAX_FLOATS:
        scored = labeled.select(
            "id", "cluster", _dist_to_assigned(centroids)
            .alias("dist"))
    else:
        cents_row = labeled.sparkSession.createDataFrame(
            [(centroids,)], "__cents array<array<double>>")
        scored = (labeled.crossJoin(F.broadcast(cents_row))
                  .select("id", "cluster", F.round(F.expr(
                      "aggregate(zip_with(v, "
                      "element_at(__cents, cluster + 1), "
                      "(x, y) -> (CAST(x AS DOUBLE) - y) "
                      "* (CAST(x AS DOUBLE) - y)), "
                      "CAST(0 AS DOUBLE), (acc, w) -> acc + w)"), 6)
                      .alias("dist")))
    w = Window.partitionBy("cluster")
    ranked = (scored
              .withColumn("rn", F.row_number().over(
                  w.orderBy(F.col("dist").desc(), F.col("id").asc())))
              .withColumn("n", F.count(F.lit(1)).over(w)))
    return ranked.select(
        "id", "cluster", "dist",
        (F.col("rn") <= F.expr(
            f"(n * {int(keep_num)} + {int(keep_den)} - 1) "
            f"div {int(keep_den)}")).alias("keep"))


# ---------------------------------------------------------------------------
# Persisted SemDeDup index (r14): build-once / serve-incremental semantic
# dedup — the embedding-side twin of dedup_ml.minhash_index_* (reference
# keeps dedup state as storage objects; cf. src/routers/table_import.py
# dedup modes). Artifacts: survivors/ = the KEPT vectors as a
# cluster-partitioned parquet table (posting-list layout — a delta only
# scans the lists it routes to), meta.json = the FROZEN trained centroids
# + params (the frozen-codebook property: a delta assigned later with the
# same centroids routes identically).
# ---------------------------------------------------------------------------

def _semdedup_dropped(labeled: DataFrame, threshold: float) -> DataFrame:
    """Distinct ids dropped by the keep-first rule over within-cluster
    round-6 cosine pairs of a ``(id, v, cluster)`` frame."""
    from .similarity import cosine_near_dup_pairs

    pairs = cosine_near_dup_pairs(labeled, "id", "v",
                                  threshold=threshold, block_col="cluster")
    return pairs.select(F.col("id_b").alias("id")).distinct()


def semdedup_index_build(vectors: DataFrame, id_col: str, vec_col: str,
                         path: str, k: int = 4, rounds: int = 2,
                         threshold: float = 0.35,
                         fingerprint: str | None = None) -> dict:
    """Train (certified fixed-round Lloyd) + batch SemDeDup the corpus,
    persisting ONLY the survivors partitioned by cluster plus the frozen
    centroids — the state an ingestion-time semantic-dup check needs.
    Atomic staging swap (ann_index discipline)."""
    import os

    from .ann_index import _make_staging, _publish, _write_meta

    labeled, centroids = kmeans_fit(vectors, id_col, vec_col, k=k,
                                    rounds=rounds)
    labeled = labeled.localCheckpoint(eager=False)
    dropped = _semdedup_dropped(labeled, threshold)
    kept = labeled.join(dropped, "id", "left_anti")
    staging = _make_staging(path)
    (kept.write.mode("overwrite").partitionBy("cluster")
         .parquet(os.path.join(staging, "survivors")))
    # seen/ = every PROCESSED id (keepers AND dropped) so an
    # incremental reconcile can compute the unprocessed delta without
    # re-scoring the dropped fraction of the corpus on every refresh
    (labeled.select("id").write.mode("overwrite")
            .parquet(os.path.join(staging, "seen")))
    meta = {"kind": "semdedup", "k": k, "rounds": rounds,
            "threshold": threshold, "dim": len(centroids[0]),
            "centroids": centroids, "fingerprint": fingerprint}
    _write_meta(staging, meta)
    _publish(staging, path)
    return meta


def semdedup_index_load(spark, path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("kind") != "semdedup":
        raise ValueError(f"{path} is not a semdedup index")
    return meta


def _semdedup_assign_delta(meta: dict, delta: DataFrame,
                           id_col: str, vec_col: str) -> DataFrame:
    """Assign a delta to the FROZEN stored centroids — the identical
    certified argmin fold the index was trained with (no retrain; the
    add/search split of FAISS semantics)."""
    base = delta.select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v"))
    return _assign_frame(base, [[float(x) for x in c]
                                for c in meta["centroids"]])


def _semdedup_verdict_frames(spark, path: str, delta: DataFrame,
                             id_col: str, vec_col: str,
                             broadcast_delta_limit: int):
    """``(verdict, assigned)`` for a delta — the shared core of
    query/add, so add never routes the delta twice. Both frames are
    lazily checkpointed; ``assigned`` is (id, v, cluster)."""
    import os

    from .similarity import cosine_expr, with_norm

    meta = semdedup_index_load(spark, path)
    t = meta["threshold"]
    assigned = _semdedup_assign_delta(meta, delta, id_col, vec_col) \
        .localCheckpoint(eager=False)
    hit_clusters = [r.cluster for r in
                    assigned.select("cluster").distinct().collect()]  # <= k
    surv = (spark.read.parquet(os.path.join(path, "survivors"))
                 .filter(F.col("cluster").isin(hit_clusters)))
    a = with_norm(surv.select(F.col("id").alias("id_a"),
                              F.col("v").alias("va"), "cluster"),
                  "va", "na")
    b = with_norm(assigned.select(F.col("id").alias("id_b"),
                                  F.col("v").alias("vb"), "cluster"),
                  "vb", "nb")
    # The delta is USUALLY the small side, but refresh can feed an
    # unbounded import here — past the gate the join co-partitions on
    # cluster instead of forcing a delta broadcast (the 8 GB broadcast
    # wall / driver OOM the rest of the repo gates the same way).
    if delta.limit(broadcast_delta_limit + 1).count() \
            <= broadcast_delta_limit:
        b = F.broadcast(b)
    # id_a != id_b: a stored copy of the SAME id never vetoes itself —
    # a keeper replayed after a crash between add's two appends (in
    # survivors/ but not yet seen/) re-verdicts as keep instead of
    # misreporting itself as a drop (ADVICE r14).
    dropped_by_stored = (
        a.join(b, "cluster")
         .filter((F.col("id_a") != F.col("id_b")) &
                 (F.round(cosine_expr("va", "vb", "na", "nb"), 6) >= t))
         .select(F.col("id_b").alias("id")))
    dropped_within = _semdedup_dropped(assigned, t)
    dropped = dropped_by_stored.union(dropped_within.select("id")) \
                               .distinct().withColumn("__dup", F.lit(True))
    verdict = (assigned.join(dropped, "id", "left")
                       .select("id", "cluster",
                               F.col("__dup").isNull().alias("keep"))
                       .localCheckpoint(eager=False))
    return verdict, assigned


def semdedup_index_query(spark, path: str, delta: DataFrame,
                         id_col: str, vec_col: str,
                         broadcast_delta_limit: int = 100_000) -> DataFrame:
    """Ingestion-time semantic near-dup verdict for a delta against the
    persisted index: each delta vector routes to its frozen-centroid
    cluster, then is dropped iff a STORED SURVIVOR of that cluster
    matches at round-6 cosine >= threshold, or a LOWER-id delta member
    of the same cluster does (the batch keep-first rule restricted to
    (survivor ∪ delta, delta) pairs — dropped corpus members never veto,
    they are not in the index). Returns ``(id, cluster, keep)`` for
    every delta row.

    Scale shape: a delta under ``broadcast_delta_limit`` rows BROADCASTS
    into the survivor join (bigger deltas co-partition on cluster), and
    the survivor scan statically prunes to the <= k clusters the delta
    actually routed to (bounded collect of at most k values over the
    posting-list partition layout). The corpus is never re-scored; cost
    = |delta| routing + within-routed-list products."""
    verdict, _ = _semdedup_verdict_frames(spark, path, delta, id_col,
                                          vec_col, broadcast_delta_limit)
    return verdict


def semdedup_index_add(spark, path: str, delta: DataFrame,
                       id_col: str, vec_col: str,
                       broadcast_delta_limit: int = 100_000) -> DataFrame:
    """Query the delta, then append ONLY its keepers to the survivor
    lists (frozen centroids — no retrain, no rewrite of existing
    postings; the minhash_index_add discipline). A later delta then
    sees this delta's survivors. Returns the verdict frame.

    Replay safety: the two appends (survivors/ then seen/) are not one
    atomic write; a crash between them leaves a keeper stored but
    unseen. On replay the self-id veto exclusion keeps its verdict
    "keep", and the append below anti-joins already-stored ids (pruned
    to the delta's routed clusters) so the survivor list never gains a
    duplicate row — state AND reporting converge."""
    import os

    verdict, assigned = _semdedup_verdict_frames(
        spark, path, delta, id_col, vec_col, broadcast_delta_limit)
    keepers = assigned.join(verdict.filter("keep").select("id"), "id")
    hit = [r.cluster for r in
           keepers.select("cluster").distinct().collect()]  # <= k values
    if hit:
        stored_ids = (spark.read.parquet(os.path.join(path, "survivors"))
                           .filter(F.col("cluster").isin(hit))
                           .select("id"))
        keepers = keepers.join(stored_ids, "id", "left_anti")
    (keepers.select("id", "v", "cluster")
            .write.mode("append").partitionBy("cluster")
            .parquet(os.path.join(path, "survivors")))
    (verdict.select("id").write.mode("append")
            .parquet(os.path.join(path, "seen")))
    return verdict


def stream_semdedup_add(spark, path: str, source_dir: str, schema,
                        id_col: str, vec_col: str,
                        checkpoint_dir: str,
                        trigger: dict | None = None):
    """Continuous semantic-dedup ingestion — Structured Streaming
    feeding ``semdedup_index_add``: each micro-batch routes its vectors
    through the FROZEN stored centroids, gets the keep-first verdict vs
    the stored survivors ∪ its own lower-id members, and appends ONLY
    the keepers (the ann_index ``stream_index_add`` discipline).
    Batch-level exactly-once rides the stream checkpoint; record-level
    redelivery safety is built in — a replayed id is already in the
    ``seen/`` artifact, so the batch anti-joins it away before the
    verdict (the dedupe-on-ingest rule the minhash/pq kinds opt into,
    mandatory here because re-verdicting a kept id would re-append it).

    NOTE on micro-batch boundaries: the keep-first rule compares each
    row against STORED survivors at its batch's start plus lower-id
    rows of its own batch — so unlike the pq encode (boundary-
    invariant), splitting a feed differently can flip which member of
    a near-dup GROUP survives (never whether the group is deduped);
    the verdict at any boundary split is a valid SemDeDup output, and
    one fixed split is deterministic (pinned by pytest).

    Returns the started ``StreamingQuery``."""
    import os

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _add_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.dropDuplicates([id_col])
        seen = (spark.read.parquet(os.path.join(path, "seen"))
                     .select(F.col("id").alias(id_col)))
        batch_df = batch_df.join(seen, id_col, "left_anti")
        if batch_df.isEmpty():
            return
        semdedup_index_add(spark, path, batch_df, id_col, vec_col)

    writer = (stream.writeStream.foreachBatch(_add_batch)
                    .option("checkpointLocation", checkpoint_dir)
                    .trigger(**(trigger if trigger is not None
                                else {"availableNow": True})))
    return writer.start()
