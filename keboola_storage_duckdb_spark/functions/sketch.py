"""Mergeable HyperLogLog distinct sketch with engine-exact registers.

Spark's ``approx_count_distinct`` is HLL++ behind an opaque binary buffer:
fine for one engine, unverifiable across two. This module builds the HLL
from PORTABLE primitives — md5 only — so DuckDB computes bit-identical
registers and the oracle can certify the sketch itself, not just eyeball
the estimate:

* register index = first ``b_hex`` hex chars of ``md5(value)``;
* rank ρ = 1 + leading zero bits in the NEXT 12 hex chars (48 bits —
  the all-zero tail is implausible at any real cardinality; capped 49),
  computed as ``49 - bit_length(tail)`` with integer ops (no log2);
* per (group, register): ``max(ρ)`` — an ordinary max aggregation, which
  is exactly what makes HLL mergeable at 100 TB: partial registers
  combine map-side, the shuffle carries ≤ groups × 16^b_hex aggregate
  rows, and unions of sketches are register-wise max.

The RAW estimate α_m·m²/Σ2^-ρ is evaluated in ORDER-FREE EXACT integer
arithmetic: each register contributes ``2^(49-ρ)`` (a bigint), the sum is
exact whatever the aggregation order, empty registers add ``2^49`` each,
and one deterministic final double division produces the estimate — no
pow/log anywhere, so the DuckDB twin is bit-identical. Bias corrections
(which need log()) are deliberately omitted: raw-HLL relative error is
≈ 1.04/√m for cardinalities ≳ 2.5·m; below that use exact distinct (A2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import bounded_collect

__all__ = ["hll_register_table", "hll_estimate",
           "cm_sketch_table", "cm_estimate", "bottom_k_sample",
           "weighted_sample", "quota_sample", "token_quota_sample",
           "bloom_table", "bloom_probe", "cm_bucket_entries"]


def hll_rho(tail: "F.Column") -> "F.Column":
    """ρ = 49 - bit_length(48-bit tail), capped at 49 for a zero tail —
    shared by the md5 sketch below and the profiler's xxhash64 variant
    (operators/profile.py) so the register math can never drift between
    them. bit_length via length(bin(x)): integer ops only, no log2."""
    return F.when(tail > 0,
                  F.lit(49) - F.length(F.bin(tail)).cast("int")) \
            .otherwise(F.lit(49))


# per-register exact dyadic contribution (bigint, order-free sum)
HLL_SCALED_SUM_EXPR = "shiftleft(cast(1 as bigint), 49 - max_rho)"


def hll_alpha_numerator(m: int) -> float:
    """α_m·m²·2^49 — the raw-HLL estimate's numerator as one exact
    double literal (denominator = Σ 2^(49-ρ) + empty·2^49)."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(2 ** 49)


def hll_register_table(df: DataFrame, group_col: str, value_col: str,
                       b_hex: int = 3) -> DataFrame:
    """(group, register, max ρ) — the mergeable sketch state.
    ``b_hex`` hex chars of register index → m = 16^b_hex registers."""
    h = F.md5(F.col(value_col).cast("string"))
    reg = F.conv(F.substring(h, 1, b_hex), 16, 10).cast("long")
    tail = F.conv(F.substring(h, b_hex + 1, 12), 16, 10).cast("bigint")
    rho = hll_rho(tail)
    return (df.filter(F.col(value_col).isNotNull())
              .select(F.col(group_col).alias("g"), reg.alias("register"),
                      rho.alias("rho"))
              .groupBy("g", "register")
              .agg(F.max("rho").alias("max_rho")))


def hll_estimate(df: DataFrame, group_col: str, value_col: str,
                 b_hex: int = 3) -> DataFrame:
    """Per-group raw HLL estimate + register checksum. Returns
    ``(group_col, registers_used, register_checksum, hll_estimate)``;
    the checksum (md5 over the lexicographically ordered register:ρ
    pairs) certifies the full sketch state across engines."""
    m = 16 ** b_hex
    numerator = hll_alpha_numerator(m)
    regs = hll_register_table(df, group_col, value_col, b_hex)
    est = (regs.groupBy("g")
               .agg(F.count(F.lit(1)).alias("registers_used"),
                    F.md5(F.concat_ws(",", F.array_sort(F.collect_list(
                        F.concat_ws(":", F.col("register"),
                                    F.col("max_rho"))))))
                     .alias("register_checksum"),
                    # exact dyadic contributions, order-free bigint sum
                    F.sum(F.expr(HLL_SCALED_SUM_EXPR))
                     .alias("sum_scaled")))
    return est.select(
        F.col("g").alias(group_col), "registers_used", "register_checksum",
        (F.lit(numerator)
         / (F.col("sum_scaled")
            + (F.lit(m).cast("bigint") - F.col("registers_used"))
            * F.lit(2 ** 49).cast("bigint")).cast("double"))
        .alias("hll_estimate"))


def cm_bucket_entries(value_col: str, depth: int, width: int) -> list:
    """The seeded-md5 (row, bucket) probe structs shared by the batch
    sketch, the point-query probe AND the streaming twin — one
    definition so batch/stream sketches stay mergeable by addition (a
    drifted copy would silently break the merge guarantee)."""
    return [F.struct(
        F.lit(i).alias("row"),
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{i}|"),
                           F.col(value_col).cast("string"))), 1, 8),
            16, 10).cast("long") % width).alias("bucket"))
        for i in range(depth)]


def cm_sketch_table(df: DataFrame, value_col: str,
                    depth: int = 4, width: int = 256) -> DataFrame:
    """Count-Min sketch counters ``(row, bucket, cnt)`` — the mergeable
    frequency sketch: counters are plain SUMs, so partial sketches
    combine map-side and across datasets by addition; memory is
    ``depth × width`` cells regardless of item cardinality. Buckets come
    from seeded md5 (``md5(seed | '|' | value)``) so DuckDB reproduces
    every counter exactly — the estimate is deterministic, not just
    approximately right."""
    entries = cm_bucket_entries(value_col, depth, width)
    return (df.filter(F.col(value_col).isNotNull())
              .select(F.explode(F.array(*entries)).alias("e"))
              .groupBy(F.col("e.row").alias("row"),
                       F.col("e.bucket").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt")))


def cm_estimate(df: DataFrame, value_col: str, items: DataFrame,
                item_col: str, depth: int = 4,
                width: int = 256) -> DataFrame:
    """Point-query the Count-Min sketch for every row of ``items``:
    estimate = min over rows of the item's counter (an upper bound on the
    true frequency — collisions only ever ADD). Returns
    ``(item, cm_estimate)``."""
    sk = cm_sketch_table(df, value_col, depth, width)
    probes = items.select(
        F.col(item_col).alias("item"),
        F.explode(F.array(*cm_bucket_entries(item_col, depth, width)))
         .alias("e")) \
        .select("item", F.col("e.row").alias("row"),
                F.col("e.bucket").alias("bucket"))
    return (probes.join(sk, ["row", "bucket"], "left")
                  .groupBy("item")
                  .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                        .alias("cm_estimate")))


def bottom_k_sample(df: DataFrame, group_col: str, id_col: str,
                    k: int = 8) -> DataFrame:
    """Deterministic uniform sample WITHOUT replacement per group: the k
    rows with the smallest ``md5(id)`` — the bottom-k sketch. Mergeable
    like the others: bottom-k of a union is the bottom-k of each part's
    bottom-k (so partial samples combine at 100 TB without a global
    shuffle of the raw data), the sample is reproducible run-to-run and
    engine-to-engine (md5, not rand()), and membership is decidable per
    row. Returns ``(group, id, sample_rank)`` with rank 1..k by hash
    order (ties on the full hash are impossible short of md5 collision).
    """
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc())
    return (df.filter(F.col(id_col).isNotNull())
              .select(F.col(group_col).alias("g"),
                      F.col(id_col).alias("id"), h.alias("h"))
              .withColumn("sample_rank",
                          F.row_number().over(
                              Window.partitionBy("g").orderBy("h")))
              .filter(F.col("sample_rank") <= k)
              .select("g", "id", "sample_rank"))


def weighted_sample(df: DataFrame, group_col: str, id_col: str,
                    weight_col: str, k: int = 8,
                    seed: str = "ws") -> DataFrame:
    """Deterministic weighted sampling WITH replacement per group —
    ``k`` draws per group, each row selected with probability
    proportional to its (positive integer) weight. The training-mixture
    primitive: "sample documents per language proportional to token
    count" is this with weight = token count.

    Engine-exact by construction, no floats anywhere: rows order by
    ``id_col`` (must be unique per group — document ids are) and carry
    an exact integer cumulative weight; draw ``i`` maps the first 48
    bits of ``md5(seed|group|i)`` into ``[0, W)`` by integer modulo
    (bias ≤ W/2^48 — negligible, and identically present in both
    engines); the selected row is the first with ``cum > u``, resolved
    by a union + forward-looking window (the as-of pattern,
    operators/asof.py) — never a per-draw scan.

    Scale: ONE shuffle (the per-group cumulative-weight window; draws
    are k rows per group, negligible). Groups run independently; a
    single giant group serializes its window like any per-key scan —
    at that shape use the two-phase exclusive-scan layout
    (functions/packing.py) to compute ``cum`` instead.

    Returns ``(group, draw, id, weight)``, exactly k rows per non-empty
    group; reproducible run-to-run and engine-to-engine.
    """
    from pyspark.sql import Window

    # enforce the positive-INTEGER weight contract in-plan: fractional
    # weights would diverge across engines (Spark's bigint cast
    # truncates, DuckDB's rounds) and a 0<w<1 weight would cast to 0,
    # producing duplicate cumulative values with nondeterministic ties —
    # rows violating the contract are excluded on both sides identically
    rows = (df.filter(F.col(id_col).isNotNull()
                      & (F.col(weight_col) > 0)
                      & (F.col(weight_col).cast("double")
                         == F.floor(F.col(weight_col)).cast("double")))
              .select(F.col(group_col).alias("g"),
                      F.col(id_col).alias("id"),
                      F.col(weight_col).cast("bigint").alias("w")))
    cw = (Window.partitionBy("g").orderBy("id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rows = rows.withColumn("cum", F.sum("w").over(cw))
    totals = rows.groupBy("g").agg(F.max("cum").alias("total_w"))
    draws = (totals.select(
        "g", "total_w",
        F.explode(F.expr(f"sequence(1, {k})")).alias("draw")))
    draws = draws.withColumn(
        "u",
        F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(seed), F.col("g").cast("string"),
            F.col("draw").cast("string"))), 1, 12), 16, 10)
         .cast("bigint") % F.col("total_w"))

    r = rows.select("g", F.col("cum").alias("ord"),
                    F.lit(1).alias("is_row"), "id", "w",
                    F.lit(None).cast("int").alias("draw"))
    d = draws.select("g", F.col("u").alias("ord"),
                     F.lit(0).alias("is_row"),
                     F.lit(None).cast(rows.schema["id"].dataType)
                      .alias("id"),
                     F.lit(None).cast("bigint").alias("w"),
                     F.col("draw").cast("int").alias("draw"))
    # first row with cum > u, via a RUNNING frame over the REVERSED sort:
    # descending ord with draws (is_row 0) before a row at the same ord
    # (strict >), so the last non-null row seen above a draw is the
    # smallest cum exceeding u. An UnboundedPreceding running frame is
    # incremental O(n); the forward-looking first() over
    # (currentRow, unboundedFollowing) is O(n²) PER PARTITION — Spark
    # rescans to the partition end for every row — and measured 175 s at
    # 30× where this form takes ~2 s (NOTES r7).
    sel = Window.partitionBy("g") \
                .orderBy(F.col("ord").desc(), F.col("is_row").asc(),
                         F.col("draw").asc_nulls_first()) \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u = r.unionByName(d)
    # the carried payload must be NULL on draw rows (a struct of nulls is
    # itself non-null and would poison last(ignorenulls))
    row_payload = F.when(F.col("is_row") == 1, F.struct("id", "w"))
    return (u.withColumn("sel", F.last(row_payload, ignorenulls=True)
                                 .over(sel))
             .filter(F.col("is_row") == 0)
             .select(F.col("g").alias("group"), "draw",
                     F.col("sel.id").alias("id"),
                     F.col("sel.w").alias("weight")))


# DuckDB twin (engine-exact): same cumulative windows, the same
# 48-bit md5 draw via CAST('0x' || hex AS BIGINT), IGNORE NULLS
# forward window for the selection.
WEIGHTED_SAMPLE_SQL_TEMPLATE = """
WITH rows_w AS (
    SELECT {group_col} AS g, {id_col} AS id,
           CAST({weight_col} AS BIGINT) AS w,
           SUM(CAST({weight_col} AS BIGINT)) OVER (
               PARTITION BY {group_col} ORDER BY {id_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM {table}
    WHERE {id_col} IS NOT NULL AND {weight_col} > 0
      AND CAST({weight_col} AS DOUBLE)
          = CAST(FLOOR({weight_col}) AS DOUBLE)),
totals AS (SELECT g, MAX(cum) AS total_w FROM rows_w GROUP BY g),
draws AS (
    SELECT g, i AS draw,
           CAST('0x' || substr(md5('{seed}' || '|' || CAST(g AS VARCHAR)
                                   || '|' || CAST(i AS VARCHAR)), 1, 12)
                AS BIGINT) % total_w AS u
    FROM totals, unnest(generate_series(1, {k})) AS t(i)),
u AS (
    SELECT g, cum AS ord, 1 AS is_row, id, w,
           CAST(NULL AS INTEGER) AS draw
    FROM rows_w
    UNION ALL
    SELECT g, u AS ord, 0 AS is_row, NULL AS id, CAST(NULL AS BIGINT) AS w,
           CAST(draw AS INTEGER) AS draw
    FROM draws),
sel AS (
    SELECT g, draw, is_row,
           FIRST_VALUE(id IGNORE NULLS) OVER w AS sel_id,
           FIRST_VALUE(w IGNORE NULLS) OVER w AS sel_w
    FROM u
    WINDOW w AS (PARTITION BY g ORDER BY ord ASC, is_row DESC
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT g AS "group", draw, sel_id AS id, sel_w AS weight
FROM sel WHERE is_row = 0"""


# quota_sample's driver-route bound: rows of the quota'd groups.
_QUOTA_DRIVER_MAX_ROWS = 262_144


def quota_sample(df: DataFrame, group_col: str, id_col: str,
                 quotas: dict[str, int],
                 prefilter: bool = True,
                 sizes: dict[str, int] | None = None) -> DataFrame:
    """Per-group QUOTA sampling without replacement — the training-
    mixture primitive stated as counts: "this mixture takes 40 docs of
    source A, 25 of B, none of C" (weighted_sample answers the
    with-replacement proportional form; this is the fixed-budget form a
    curriculum/mixture spec compiles to, cf. the data-mixture tables in
    Gopher/LLaMA-style training recipes).

    Determinism comes from the bottom-k order: rows rank by ``md5(id)``
    inside their group (reproducible run-to-run, engine-to-engine) and
    each group keeps ``quotas[group]`` rows. Groups absent from
    ``quotas`` yield no rows (explicit mixture = explicit zero); quotas
    larger than the group return the whole group.

    Scale path (``prefilter=True``): ranking a 100 TB group to keep 50
    rows would shuffle the whole group into the rank window. md5 order
    lets us PRE-FILTER instead: a row can only rank <= q if its 48-bit
    hash prefix lands in the bottom ~(q/n) of the key space, so one
    cheap map-side count per group sizes an integer threshold
    (q + 6·sqrt(q) + 32 slack) and only ~quota-sized survivor sets
    reach the shuffle — every dropped row provably sorts after every
    survivor, so ranks are unchanged. The slack makes an undershoot
    astronomically unlikely; an exactness GUARD still counts survivors
    per group and falls back to the unfiltered rank if any group comes
    up short, so the output is bit-identical to the naive form always.

    ``sizes`` (r17 opt): precomputed exact per-group row counts of the
    quota'd groups (``{g: n}`` over ``df`` with non-null ids — exactly
    what :func:`temperature_quotas` already collected). Supplying them
    skips the sizes probe job; the values feed only the prefilter
    thresholds and the driver-route row bound, so a correct count can
    never change a result (and the survivor GUARD below still
    re-verifies the threshold route independently). They MUST be true
    row counts — the driver-route collect is gated on them (the
    VERDICT r16 #1 lesson: only a true row count may gate a driver
    collect), which is why this parameter takes exact counts and not
    estimates.

    Returns ``(g, id, sample_rank, quota)``.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    qmap = {str(g): int(n) for g, n in quotas.items()}
    q = spark.createDataFrame(sorted(qmap.items()), "g string, quota int")
    h = F.md5(F.col(id_col).cast("string"))
    base = (df.filter(F.col(id_col).isNotNull())
              .select(F.col(group_col).cast("string").alias("g"),
                      F.col(id_col).alias("id"), h.alias("h")))

    def ranked(rows: DataFrame) -> DataFrame:
        w = Window.partitionBy("g").orderBy("h")
        return (rows.withColumn("sample_rank", F.row_number().over(w))
                    .join(F.broadcast(q), "g")
                    .filter(F.col("sample_rank") <= F.col("quota"))
                    .select("g", "id", "sample_rank", "quota"))

    if not prefilter:
        return ranked(base)

    if sizes is None:
        sizes = {r["g"]: r["n"] for r in
                 base.join(F.broadcast(q), "g")
                     .groupBy("g").agg(F.count(F.lit(1)).alias("n"))
                     .collect()}
    else:
        # restrict to quota'd groups — the probe above only ever counts
        # rows that survive the join to q
        sizes = {g: int(n) for g, n in sizes.items() if g in qmap}
    # Driver route (a bounded_collect driver route): the sizes
    # above are the true row count of the quota'd groups; under the
    # bound collect (g, id, h) once and rank in Python — the md5 strings
    # come FROM the scan, the per-group sort is the identical ascending
    # hex order, ranks and the quota filter are integer-exact, so the
    # output is bit-identical to either distributed form (pytest-pinned).
    # Replaces the survivor-count guard job + the rank window + its join
    # with one bounded collect.
    total = sum(sizes.values())
    tbl = None
    if total > 0:
        tbl = bounded_collect(
            base.join(F.broadcast(q), "g").select("g", "id", "h", "quota"),
            _QUOTA_DRIVER_MAX_ROWS, rows=total)
    if tbl is not None:
        import pandas as pd

        from pyspark.sql import types as _T

        pdf = tbl.to_pandas()
        parts = []
        for g, grp in pdf.groupby("g", sort=False):
            # max(0): pandas head(-n) would DROP tail rows, while the
            # rank filter semantics of a non-positive quota are "none"
            quota = max(int(grp["quota"].iloc[0]), 0)
            keep = grp.sort_values("h", kind="mergesort").head(quota)
            if len(keep):
                keep = keep.assign(
                    sample_rank=range(1, len(keep) + 1))
                parts.append(keep[["g", "id", "sample_rank", "quota"]])
        id_t = df.schema[id_col].dataType
        schema = _T.StructType([
            _T.StructField("g", _T.StringType()),
            _T.StructField("id", id_t),
            _T.StructField("sample_rank", _T.IntegerType()),
            _T.StructField("quota", _T.IntegerType()),
        ])
        if not parts:
            return spark.createDataFrame([], schema)
        out = pd.concat(parts, ignore_index=True)
        out["sample_rank"] = out["sample_rank"].astype("int32")
        out["quota"] = out["quota"].astype("int32")
        return spark.createDataFrame(out, schema=schema)
    full, thresh = 1 << 48, {}
    for g, quota in qmap.items():
        n = sizes.get(g, 0)
        if n == 0 or quota <= 0:
            continue
        if quota >= n:
            thresh[g] = full - 1                 # keep the whole group
        else:
            slack = quota + 6 * int(quota ** 0.5) + 32
            thresh[g] = min(full - 1, (slack * full) // n)
    if not thresh:
        return ranked(base.filter(F.lit(False)))
    tdf = F.broadcast(spark.createDataFrame(
        [(g, t) for g, t in sorted(thresh.items())],
        "g string, thresh long"))
    u = F.conv(F.substring("h", 1, 12), 16, 10).cast("long")
    survivors = (base.join(tdf, "g")
                     .filter(u <= F.col("thresh"))
                     .select("g", "id", "h")
                     .localCheckpoint(eager=False))   # guard + rank reuse
    counts = {r["g"]: r["n"] for r in
              survivors.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
                       .collect()}
    for g, t in thresh.items():
        need = min(qmap[g], sizes.get(g, 0))
        if counts.get(g, 0) < need:              # astronomically unlikely
            return ranked(base)
    return ranked(survivors)


QUOTA_SAMPLE_SQL_TEMPLATE = """
WITH q(g, quota) AS (VALUES {quota_values}),
ranked AS (
    SELECT CAST({group_col} AS VARCHAR) AS g, {id_col} AS id,
           CAST(row_number() OVER (
               PARTITION BY CAST({group_col} AS VARCHAR)
               ORDER BY md5(CAST({id_col} AS VARCHAR))) AS INTEGER)
               AS sample_rank
    FROM {table} WHERE {id_col} IS NOT NULL)
SELECT r.g, r.id, r.sample_rank, q.quota
FROM ranked r JOIN q ON r.g = q.g
WHERE r.sample_rank <= q.quota"""


def token_quota_sample(df: DataFrame, group_col: str, id_col: str,
                       weight_col: str,
                       budgets: dict[str, int]) -> DataFrame:
    """Per-group TOKEN-budget sampling — the mixture form training
    recipes actually state ("2B tokens of code, 500M of forum text"):
    rows are taken in deterministic ``md5(id)`` order per group until
    the group's budget is exhausted. A row is kept when the cumulative
    weight of the rows BEFORE it is still under budget, so the prefix
    always reaches (and may slightly overshoot by part of one document)
    the budget — the greedy rule every token-budget sampler uses.

    Same determinism story as quota_sample (engine-portable hash order,
    no RNG); one per-group running-sum window is the only shuffle. The
    hash-threshold prefilter does NOT apply here (eligibility depends
    on the weight prefix sum, not the row's own hash rank), so a group
    vastly larger than its budget pays a full rank — at that shape,
    bound the scan with quota_sample on an estimated doc count first,
    then trim by token budget.

    Returns ``(g, id, weight, cum_before)``.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    bmap = {str(g): int(n) for g, n in budgets.items()}
    b = F.broadcast(spark.createDataFrame(sorted(bmap.items()),
                                          "g string, budget long"))
    h = F.md5(F.col(id_col).cast("string"))
    w = (Window.partitionBy("g").orderBy("h")
               .rowsBetween(Window.unboundedPreceding, -1))
    rows = (df.filter(F.col(id_col).isNotNull())
              .select(F.col(group_col).cast("string").alias("g"),
                      F.col(id_col).alias("id"),
                      F.col(weight_col).cast("long").alias("weight"),
                      h.alias("h")))
    return (rows.withColumn("cum_before",
                            F.coalesce(F.sum("weight").over(w), F.lit(0))
                             .cast("long"))
                .join(b, "g")
                .filter(F.col("cum_before") < F.col("budget"))
                .select("g", "id", "weight", "cum_before"))


def _bloom_positions(value: "F.Column", k: int, m_bits: int) -> list:
    """k md5-derived bit positions for a value — seeded like the
    Count-Min buckets (``md5(seed | '|' | value)``) so DuckDB
    reproduces every position exactly."""
    return [
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{i}|"), value.cast("string"))), 1, 8),
            16, 10).cast("long") % m_bits)
        for i in range(k)]


def bloom_table(df: DataFrame, value_col: str, n_words: int = 64,
                k: int = 4) -> DataFrame:
    """Mergeable Bloom-filter sketch ``(word, bits)`` — the third
    portable sketch next to HLL (distincts) and Count-Min
    (frequencies): set membership with one-sided error, the
    "have we already trained on this content" primitive for
    cross-epoch / cross-dataset dedup where storing every fingerprint
    is too big but a bitset is not.

    Bits live 32-per-BIGINT-word (bit 63 is unportable: DuckDB raises
    on ``1 << 63`` where the JVM wraps), so m = 32·n_words bits.
    Merging filters = per-word ``bit_or`` — map-side combinable, union
    across datasets by the same aggregate, never larger than n_words
    rows. Probing never false-negatives; false-positive rate is the
    classic (1 - e^{-kn/m})^k, tunable via n_words.
    """
    m_bits = 32 * n_words
    pos = _bloom_positions(F.col(value_col), k, m_bits)
    return (df.filter(F.col(value_col).isNotNull())
              .select(F.explode(F.array(*pos)).alias("pos"))
              .select(F.expr("pos DIV 32").alias("word"),
                      F.expr("shiftleft(CAST(1 AS BIGINT), "
                             "CAST(pos % 32 AS INT))").alias("mask"))
              .groupBy("word")
              .agg(F.bit_or("mask").alias("bits")))


def bloom_probe(filter_df: DataFrame, items: DataFrame, item_col: str,
                n_words: int = 64, k: int = 4) -> DataFrame:
    """Probe the Bloom filter for every row of ``items``: predicted
    membership = all k probed bits set (missing words = unset). The
    filter is n_words rows → broadcast; probing is a narrow map + one
    tiny join, no shuffle of the probed corpus. Returns
    ``(item, bloom_member)``."""
    m_bits = 32 * n_words
    pos = _bloom_positions(F.col(item_col), k, m_bits)
    probes = (items.filter(F.col(item_col).isNotNull())
                   .select(F.col(item_col).alias("item"),
                           F.explode(F.array(*pos)).alias("pos"))
                   .select("item", F.expr("pos DIV 32").alias("word"),
                           F.expr("shiftleft(CAST(1 AS BIGINT), "
                                  "CAST(pos % 32 AS INT))").alias("mask")))
    return (probes.join(F.broadcast(filter_df), "word", "left")
                  .withColumn("hit",
                              (F.coalesce(F.col("bits"), F.lit(0))
                               .bitwiseAND(F.col("mask"))) != 0)
                  .groupBy("item")
                  .agg(F.min("hit").alias("bloom_member")))


def temperature_quotas(df: DataFrame, group_col: str, id_col: str,
                       budget: int) -> dict[str, int]:
    """√-temperature mixture quotas: quota_g = ⌊budget · √n_g / Σ√n⌋ —
    the up-weight-the-tail mixture rule (count^α reweighting with
    α = 0.5, the multilingual-balance recipe of mBERT/XLM-style
    training mixes; α is PINNED at 0.5 because √ is the one power the
    cross-engine exact-arithmetic discipline permits — sqrt is
    correctly rounded everywhere, pow/exp/log are libm).

    Deterministic and engine-portable: per-group counts are exact
    integers; Σ√n is a SEQUENTIAL left-fold in group-key order (the
    same value DuckDB's running window SUM produces at its last row);
    the final ⌊·⌋ is one identical IEEE chain. O(groups) rows reach
    the driver."""
    return _temperature_quotas_from_counts(
        _group_counts(df, group_col, id_col), budget)


def _group_counts(df: DataFrame, group_col: str,
                  id_col: str) -> dict[str, int]:
    """Exact per-group row counts (non-null group AND id, group cast to
    string) — the single probe temperature_mixture shares between quota
    derivation and quota_sample's prefilter sizing (r17 opt: the same
    aggregate used to run twice, once here and once as quota_sample's
    sizes probe)."""
    rows = (df.filter(F.col(group_col).isNotNull()
                      & F.col(id_col).isNotNull())
              .groupBy(F.col(group_col).cast("string").alias("g"))
              .agg(F.count(F.lit(1)).alias("n"))
              .collect())
    return {r.g: int(r.n) for r in rows}


def _temperature_quotas_from_counts(counts_map: dict[str, int],
                                    budget: int) -> dict[str, int]:
    import math

    counts = sorted(counts_map.items())
    total = 0.0
    for _, n in counts:
        total += math.sqrt(float(n))
    return {g: int(math.floor(budget * math.sqrt(float(n)) / total))
            for g, n in counts}


def temperature_mixture(df: DataFrame, group_col: str, id_col: str,
                        budget: int, prefilter: bool = True) -> DataFrame:
    """Temperature-balanced mixture sample: derive √-temperature quotas
    from the observed per-group counts, then draw them with the
    certified deterministic bottom-k sampler (:func:`quota_sample`) —
    the one-call form of "rebalance this multilingual corpus into a
    budget-sized training mix". Same (g, id, sample_rank, quota)
    contract and the same hash-threshold prefilter scale path.

    The per-group counts are collected ONCE and shared: they derive the
    quotas AND size quota_sample's prefilter/driver gates (r17 opt —
    previously the identical aggregate ran twice; counts are exact, so
    the route and result are unchanged, pytest-pinned)."""
    counts = _group_counts(df, group_col, id_col)
    quotas = _temperature_quotas_from_counts(counts, budget)
    return quota_sample(df, group_col, id_col, quotas,
                        prefilter=prefilter, sizes=counts)
