"""Connected components over a pair list — dedup *clustering*.

Near-dup detection (dedup_ml, similarity) emits PAIRS; a training-data
pipeline needs GROUPS ("keep one doc per duplicate cluster"). Components of
the pair graph are exactly those groups. The reference has no graph
operator at all (its dedup is PK-equality only, reference
src/routers/table_import.py:197-222); this is a beyond-reference extension.

Algorithm: iterative min-label propagation — every vertex starts labeled
with its own id; each round every vertex takes the min label over itself and
its neighbors; converged when no label changes. Deterministic regardless of
partitioning (min is commutative/associative), rounds = graph diameter.

Scale notes (100 TB): each round is one shuffle-join (edges ⋈ labels on
vertex) + one groupBy-min — both partition by vertex id, so a cluster reuses
the same hash partitioning round to round. Near-dup graphs have tiny
diameter (clusters are cliques-ish), so a handful of rounds suffices; for
adversarial long-chain graphs the large-star/small-star variant
(Kiveris et al., "Connected Components in MapReduce", SoCC'14) reduces
rounds to O(log n) — same building blocks, not needed for dedup workloads.
``localCheckpoint`` truncates the growing lineage each round (iterative
DataFrame plans otherwise re-derive every prior round at each action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import bounded_collect

# Driver union-find bound: ~60 MB of id pairs at the row bound; the byte
# bound covers long string ids (ids + ~120 B/row of Python overhead).
_CC_DRIVER_MAX_ROWS = 1_000_000
_CC_DRIVER_MAX_BYTES = 256 << 20


def _cc_driver(edges: DataFrame, a: str, b: str, rows: list) -> DataFrame:
    """Driver union-find for SMALL edge lists (caller has proven the
    bound): near-dup graphs at bench scale are a few hundred edges, where
    every distributed label round costs a full multi-stage job — the
    same per-job floor the profiler/quantile engines dodge with bounded
    driver scalars. Output is IDENTICAL to the label-propagation loop
    (components labeled by min member; Python string comparison is
    code-point order, which equals Spark's UTF8 binary order)."""
    from pyspark.sql import types as T

    id_type = edges.schema[a].dataType
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        x, y = r[0], r[1]
        for v in (x, y):
            if v not in parent:
                parent[v] = v
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        comp_min[r] = v if m is None or v < m else m
    import pandas as pd

    schema = T.StructType([T.StructField("id", id_type),
                           T.StructField("cluster", id_type)])
    if not parent:
        return edges.sparkSession.createDataFrame([], schema)
    verts = list(parent)
    out = pd.DataFrame({"id": verts,
                        "cluster": [comp_min[find(v)] for v in verts]})
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components(edges: DataFrame, a: str = "id_a", b: str = "id_b",
                         max_iter: int = 25, jump_from: int = 0) -> DataFrame:
    """(id, cluster) for every vertex appearing in ``edges``; ``cluster`` is
    the minimum vertex id of the component. Deterministic.

    Edge lists under ``_CC_DRIVER_MAX_ROWS`` rows run as a driver
    union-find (a :func:`~.util.bounded_collect` driver route): a
    500-edge dedup graph costs milliseconds there vs one full Spark job
    per label round (r15; this, not the round count, was the
    minhash_dedup_keep floor), and even the 10× fixtures' 250k-1M-edge
    graphs union-find in ~1-2 s where the distributed loop pays ~20 s of
    job floors. The bound is a bounded collect (~60 MB of id pairs at
    the default — the exact_quantiles crossover precedent); distributed
    label propagation takes over past it — a 100 TB near-dup graph's
    edges never collect. ``jump_from=0``: with small graphs handled
    driver-side, every distributed run is a big graph, where pointer
    jumping pays from the first round (r14 measured 8.8 s vs 20.8 s at
    10× with-vs-without).

    Each round costs exactly ONE Spark action: the previous label is carried
    through the min-aggregation as an ``old`` column, the round's frame is
    lazily localCheckpointed, and the convergence probe (``lab < old`` —
    labels only ever decrease) is the count that materializes the
    checkpoint. The r14 form paid two actions per round (eager checkpoint +
    anti-join count), which doubled the per-round fixed cost on small
    shallow graphs (the minhash pair graph regressed ~2×).

    Pointer jumping (path doubling — replace each label by its label's
    label; fixpoint unchanged because labels stay bounded below by the
    component minimum) cuts rounds from diameter to ~log2(diameter), but
    its extra self-join per round only pays on graphs that have NOT
    converged within a couple of plain rounds. ``jump_from`` enables it
    from that round on: clique-ish near-dup graphs (minhash) converge
    before it kicks in; chain-ish rep graphs (simhash star-spanning) still
    get the doubling once plain propagation proves slow.
    """
    # Null endpoints: the distributed loop's equi-joins silently drop
    # them while a driver union-find would crash on None < str — filter
    # them ONCE here so both paths agree (an edge with a null endpoint
    # identifies nothing and is meaningless for clustering).
    edges = edges.filter(F.col(a).isNotNull() & F.col(b).isNotNull())
    # Probe via a lazily-checkpointed aggregate, NEVER
    # limit().collect(): a CollectLimit over the (expensive) pair
    # pipeline funnels the whole upstream through one task — measured
    # 116 s vs 9 s at 10× on the 2.4M-edge minhash graph. The probe
    # materializes the cache in parallel; the small case collects FROM
    # the cache and the large case feeds the loop from it — the pipeline
    # runs once either way. The bound is sized on BYTES too: long string
    # ids at 1M rows can cost several hundred MB on the driver.
    edges = edges.select(a, b).localCheckpoint(eager=False)
    tbl = bounded_collect(
        edges, _CC_DRIVER_MAX_ROWS, _CC_DRIVER_MAX_BYTES,
        row_bytes=(F.length(F.col(a).cast("string"))
                   + F.length(F.col(b).cast("string")) + F.lit(120)))
    if tbl is not None:
        pdf = tbl.to_pandas()
        return _cc_driver(edges, a, b, list(zip(pdf[a], pdf[b])))
    und = (edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
                .unionByName(
               edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
                .distinct())
    und = und.localCheckpoint()
    labels = (und.select(F.col("src").alias("id")).distinct()
                 .select("id", F.col("id").alias("lab"))
                 .localCheckpoint())
    for rnd in range(max_iter):
        base = labels.select("id", "lab", F.col("lab").alias("old"))
        msgs = (und.join(labels.withColumnRenamed("id", "src"), "src")
                   .select(F.col("dst").alias("id"), "lab",
                           F.lit(None).alias("old")))
        # Every vertex appears in ``base`` exactly once, so min(old) (min
        # ignores the NULLs the message rows carry) is the previous label.
        new_labels = (base.unionByName(msgs)
                          .groupBy("id").agg(F.min("lab").alias("lab"),
                                             F.min("old").alias("old")))
        if rnd >= jump_from:
            lab_of = new_labels.select(F.col("id").alias("lab"),
                                       F.col("lab").alias("lab2"))
            new_labels = (new_labels.join(lab_of, "lab", "left")
                                    .select("id",
                                            F.least(
                                                F.col("lab"),
                                                F.coalesce("lab2", "lab"))
                                             .alias("lab"),
                                            "old"))
        new_labels = new_labels.localCheckpoint(eager=False)
        # The comparison works for ANY id type (strings compare
        # lexicographically, matching min()); a Σ-of-labels check would be
        # NULL over string ids and terminate after one round with wrong
        # clusters. The full count (no limit) is what materializes every
        # partition of the lazy checkpoint.
        changed = new_labels.filter(F.col("lab") < F.col("old")).count()
        labels = new_labels.select("id", "lab")
        if changed == 0:
            break
    return labels.select("id", F.col("lab").alias("cluster"))
