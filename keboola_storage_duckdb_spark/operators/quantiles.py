"""Bounded-memory EXACT quantiles (A6) — two-pass selection by histogram.

Spark's built-in ``percentile()`` (like DuckDB's ``quantile_cont``,
reference src/database.py:5372-5386) buffers every value of the column in
one aggregation buffer: exact, but O(column) driver-side-style memory in a
single executor buffer — fine at sf0.1, OOM-bait at 6 B rows. This module
computes the SAME interpolated order statistics with bounded memory:

1. one scan: per-column non-null count / min / max;
2. one scan per refinement round (almost always exactly one): equal-width
   bin counts + per-bin min/max for every (column, active range) — the
   shuffle carries at most ``bins`` rows per column per partition thanks to
   map-side partial aggregation;
3. the driver walks cumulative bin counts to locate each needed global rank
   (lower/upper order statistic of each requested probability), then either
   resolves it immediately (degenerate bin: min == max), recurses into the
   bin (count > ``max_inbin`` — range shrinks every round, so depth is
   bounded by the float64 mantissa), or marks it for
4. one final scan: in-bin selection — rows of the few needed bins are
   grouped per probe and sorted (``sort_array(collect_list)``), a buffer
   bounded by ``max_inbin`` values, and the target order statistic is read
   with ``element_at``.

Interpolation uses Spark Percentile.getPercentile's own formula
(``(higher - position) * lower + (position - lower) * higher`` at position
``p * (n - 1)``, integer positions special-cased) with the same IEEE-754
op order, so the result is bit-identical to ``percentile()`` — verified by
tests against the built-in at every fixture SF. (The one-sided form
``lo + (hi - lo) * frac`` is NOT bit-safe: it disagrees in the last ulp on
real data, observed on orders.o_totalprice.)

At 100 TB this is the only viable exact-quantile shape: every scan is a
narrow projection with map-side-combined aggregation; nothing larger than
``bins`` rows per column crosses a shuffle until the final bounded in-bin
sort.

Three implementations share the algorithm, differing in who coordinates:

- :func:`exact_quantiles` / :func:`exact_quantile_order_stats` — ungrouped,
  all columns fused per scan with LITERAL ranges (no joins); driver holds
  O(cols × probs) scalars. The profiler's path (its stats scan can be
  skipped via ``precomputed_stats``).
- :func:`exact_quantiles_grouped_frame` — grouped HYBRID: driver holds
  O(groups) scalar metadata, selection VALUES resolve in-plan and the
  result frame assembles distributively. Low-latency grouped path.
- :func:`grouped_quantiles_df` — grouped, fully in-plan, zero driver
  state: ranks derived from a posexploded literal, rank-location by
  non-equi join over the (group × bin) aggregate, AQE-eliminated level-2
  refinement. The unbounded-group-cardinality path; costs ~2× the hybrid's
  wall at toy SF from stage-count floor (NOTES round 6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import bounded_collect

__all__ = ["exact_quantile_order_stats", "exact_quantiles",
           "exact_quantiles_auto", "exact_quantiles_grouped",
           "exact_quantiles_grouped_frame", "grouped_quantiles_auto",
           "grouped_quantiles_df", "exact_quantiles_single_pass"]


def _rank_set(n: int, probs: list[float]) -> dict[float, tuple[int, int, float]]:
    """For each probability: (lower_rank, higher_rank, position) at
    position p*(n-1), 0-based — Spark Percentile.getPercentile's
    arithmetic."""
    out = {}
    for p in probs:
        pos = p * (n - 1)
        out[p] = (int(math.floor(pos)), int(math.ceil(pos)), pos)
    return out


def _interp(lo_rank: int, hi_rank: int, pos: float,
            lo_val: float, hi_val: float) -> float:
    """Spark Percentile's exact interpolation, same IEEE op order:
    ``(higher - position) * lower + (position - lower) * higher`` with the
    integer-position special case AND the equal-keys short-circuit
    (Percentile.getPercentile returns lowerKey when higherKey == lowerKey
    — the weighted form rounds differently there, e.g. 1.5 →
    1.5000000000000002 at p=1e-05; caught by the grouped property test)."""
    if lo_rank == hi_rank or lo_val == hi_val:
        return lo_val
    return (hi_rank - pos) * lo_val + (pos - lo_rank) * hi_val


def exact_quantile_order_stats(df: DataFrame, cols: list[str],
                               probs: list[float], bins: int = 4096,
                               max_inbin: int = 4_000_000,
                               precomputed_stats: dict | None = None,
                               ) -> dict[str, dict[float, tuple]]:
    """Resolve every (col, prob) to ``(lower_value, higher_value,
    interpolated_value)`` — the two exact order statistics Spark's
    percentile interpolates between, plus the interpolation computed with
    Spark's own formula — with bounded memory. Returns
    ``{col: {prob: (lo_val, hi_val, value) | None}}`` (None when the
    column has no non-null values). Columns are evaluated as DOUBLE.

    ``precomputed_stats``: optional ``{col: (n, nan, min, max)}`` —
    non-null count (NaN included), NaN count, NaN-excluded min/max as
    doubles — from a caller that already scanned the table (the profiler
    fuses these into its mega-agg pass), skipping this function's own
    stats job.
    """
    spark = df.sparkSession
    # NaN → NULL in the scan base: Spark orders NaN ABOVE every double
    # (and `NaN >= x` is true), so a NaN would poison min/max (width NaN
    # → null bin ids) and leak into range predicates. percentile() still
    # COUNTS NaN and resolves top ranks to NaN — reproduced below from
    # the separate nan__ count, so results stay bit-identical.
    casts = {c: F.col(c).cast("double") for c in cols}
    base = df.select(*[F.when(~F.isnan(casts[c]), casts[c]).alias(c)
                       for c in cols])

    if precomputed_stats is not None:
        stats = {}
        for c in cols:
            n, nan, mn, mx = precomputed_stats[c]
            stats.update({f"n__{c}": n, f"nan__{c}": nan,
                          f"min__{c}": mn, f"max__{c}": mx})
    else:
        stats = df.agg(*[e for c in cols for e in (
            F.count(casts[c]).alias(f"n__{c}"),
            F.count(F.when(F.isnan(casts[c]), True)).alias(f"nan__{c}"),
            F.min(F.when(~F.isnan(casts[c]), casts[c])).alias(f"min__{c}"),
            F.max(F.when(~F.isnan(casts[c]), casts[c])).alias(f"max__{c}"),
            )]).first()

    resolved: dict[tuple[str, int], float] = {}   # (col, rank) -> value
    # active probes: (col, rank, range_lo, range_hi, offset) — offset =
    # number of the column's non-null values strictly below range_lo.
    probes: list[tuple[str, int, float, float, int]] = []
    # selection probes: (col, lo, hi, rank, local_rank)
    selection: list[tuple[str, float, float, int, int]] = []
    ranks_by_col: dict[str, dict[float, tuple[int, int, float]]] = {}

    def _route(c: str, rank: int, lo: float, hi: float, offset: int,
               out_probes: list) -> None:
        # refinement needs a finite positive bin width; a range whose
        # (hi-lo)/bins is 0 (denormal underflow) or non-finite would
        # yield null bin ids — resolve such ranges by direct selection
        w = (hi - lo) / bins
        if math.isfinite(w) and w > 0:
            out_probes.append((c, rank, lo, hi, offset))
        else:
            selection.append((c, lo, hi, rank, rank - offset))

    for c in cols:
        n = stats[f"n__{c}"]
        m = n - stats[f"nan__{c}"]          # non-NaN count
        cmin, cmax = stats[f"min__{c}"], stats[f"max__{c}"]
        if not n:
            ranks_by_col[c] = {}
            continue
        ranks_by_col[c] = _rank_set(n, probs)
        needed = sorted({r for lo, hi, _ in ranks_by_col[c].values()
                         for r in (lo, hi)})
        for r in needed:
            if r >= m:                      # NaN region: top of the order
                resolved[(c, r)] = float("nan")
            elif cmin == cmax:
                resolved[(c, r)] = cmin
            else:
                _route(c, r, cmin, cmax, 0, probes)

    while probes:
        # group probes by (col, range) → one histogram task each
        tasks: dict[tuple[str, float, float], int] = {}
        for c, _r, lo, hi, _o in probes:
            tasks.setdefault((c, lo, hi), len(tasks))
        entries = []
        for (c, lo, hi), tid in tasks.items():
            w = (hi - lo) / bins
            v = F.col(c)
            idx = F.least(F.lit(bins - 1),
                          F.floor((v - F.lit(lo)) / F.lit(w))).cast("int")
            entries.append(
                F.when((v >= F.lit(lo)) & (v <= F.lit(hi)),
                       F.struct(F.lit(tid).alias("tid"), idx.alias("bin"),
                                v.alias("v"))))
        hist = (base.select(F.explode(F.array(*entries)).alias("e"))
                    .filter(F.col("e").isNotNull())
                    .groupBy(F.col("e.tid").alias("tid"),
                             F.col("e.bin").alias("bin"))
                    .agg(F.count(F.lit(1)).alias("cnt"),
                         F.min("e.v").alias("bmin"),
                         F.max("e.v").alias("bmax"))
                    .collect())
        by_task: dict[int, list] = {}
        for row in hist:
            by_task.setdefault(row.tid, []).append(row)
        for t in by_task.values():
            t.sort(key=lambda r: r.bin)

        nxt = []
        for c, rank, lo, hi, offset in probes:
            cum = offset
            for b in by_task.get(tasks[(c, lo, hi)], []):
                if rank < cum + b.cnt:
                    if b.bmin == b.bmax:
                        resolved[(c, rank)] = b.bmin
                    elif b.cnt <= max_inbin:
                        selection.append((c, b.bmin, b.bmax, rank, rank - cum))
                    else:
                        _route(c, rank, b.bmin, b.bmax, cum, nxt)
                    break
                cum += b.cnt
        probes = nxt

    if selection:
        # dedupe probe groups by (col, range); several ranks may share one
        groups: dict[tuple[str, float, float], int] = {}
        for c, lo, hi, _r, _lr in selection:
            groups.setdefault((c, lo, hi), len(groups))
        entries = [F.when((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)),
                          F.struct(F.lit(pid).alias("pid"),
                                   F.col(c).alias("v")))
                   for (c, lo, hi), pid in groups.items()]
        sorted_bins = (base.select(F.explode(F.array(*entries)).alias("e"))
                           .filter(F.col("e").isNotNull())
                           .groupBy(F.col("e.pid").alias("pid"))
                           .agg(F.sort_array(F.collect_list("e.v"))
                                 .alias("vs")))
        want = spark.createDataFrame(
            [(groups[(c, lo, hi)], lr, i)
             for i, (c, lo, hi, _r, lr) in enumerate(selection)],
            "pid int, lr int, k int")
        got = (sorted_bins.join(F.broadcast(want), "pid")
                          .select("k", F.element_at("vs", F.col("lr") + 1)
                                        .alias("v")).collect())
        vals = {row.k: row.v for row in got}
        for i, (c, _lo, _hi, rank, _lr) in enumerate(selection):
            resolved[(c, rank)] = vals[i]

    out: dict[str, dict[float, tuple]] = {}
    for c in cols:
        out[c] = {}
        for p in probs:
            rs = ranks_by_col[c].get(p)
            if rs is None:
                out[c][p] = None
            else:
                lo_v, hi_v = resolved[(c, rs[0])], resolved[(c, rs[1])]
                out[c][p] = (lo_v, hi_v,
                             _interp(rs[0], rs[1], rs[2], lo_v, hi_v))
    return out


def exact_quantiles_grouped(df: DataFrame, group_col: str, value_col: str,
                            probs: list[float], bins: int = 1024,
                            max_inbin: int = 4_000_000,
                            ) -> dict[object, list[float]]:
    """GROUPED exact interpolated quantiles with bounded memory — the
    grouped twin of :func:`exact_quantiles`. A per-group ``percentile()``
    buffers one whole group per aggregation buffer, which is the same
    OOM shape at scale whenever any single group is huge. Here every scan
    aggregates by (group, bin) with map-side combine, so nothing bigger
    than ``bins`` rows per group crosses a shuffle until the final bounded
    in-bin sorts.

    Driver state is O(groups x bins): sized for low-cardinality group
    columns (priorities, categories, labels — the profiler shape, up to a
    few thousand groups). NULL group keys participate like any other key;
    NULL values are ignored per percentile semantics. Returns
    ``{group: [v per prob]}`` bit-identical to
    ``percentile(value, probs)`` under the same groupBy (tested)."""
    spark = df.sparkSession
    base = df.select(F.col(group_col).alias("g"),
                     F.col(value_col).cast("double").alias("v"))

    stats = (base.groupBy("g")
                 .agg(F.count("v").alias("n"), F.min("v").alias("mn"),
                      F.max("v").alias("mx")).collect())

    resolved: dict[tuple[object, int], float] = {}
    probes: list[tuple[object, int, float, float, int]] = []
    ranks_by_g: dict[object, dict[float, tuple[int, int, float]]] = {}
    for row in stats:
        if not row.n:
            ranks_by_g[row.g] = {}
            continue
        ranks_by_g[row.g] = _rank_set(row.n, probs)
        needed = sorted({r for lo, hi, _ in ranks_by_g[row.g].values()
                         for r in (lo, hi)})
        if row.mn == row.mx:
            for r in needed:
                resolved[(row.g, r)] = row.mn
        else:
            probes.extend((row.g, r, row.mn, row.mx, 0) for r in needed)

    selection: list[tuple[object, float, float, int, int]] = []
    while probes:
        # one histogram task per distinct (group, range); ranges come from
        # per-group min/max so they differ per group — ship them as a
        # broadcast lookup joined on the group key
        tasks: dict[tuple[object, float, float], int] = {}
        for g, _r, lo, hi, _o in probes:
            tasks.setdefault((g, lo, hi), len(tasks))
        spec = spark.createDataFrame(
            [(tid, g, lo, hi) for (g, lo, hi), tid in tasks.items()],
            base.select(F.lit(0).alias("tid"), "g",
                        F.col("v").alias("lo"),
                        F.col("v").alias("hi")).schema)
        w = (F.col("hi") - F.col("lo")) / bins
        idx = F.least(F.lit(bins - 1),
                      F.floor((F.col("v") - F.col("lo")) / w)).cast("int")
        # eqNullSafe: a NULL group key is a group like any other
        hist = (base.join(F.broadcast(spec),
                          base["g"].eqNullSafe(spec["g"]))
                    .filter((F.col("v") >= F.col("lo"))
                            & (F.col("v") <= F.col("hi")))
                    .groupBy("tid", idx.alias("bin"))
                    .agg(F.count(F.lit(1)).alias("cnt"),
                         F.min("v").alias("bmin"), F.max("v").alias("bmax"))
                    .collect())
        by_task: dict[int, list] = {}
        for row in hist:
            by_task.setdefault(row.tid, []).append(row)
        for t in by_task.values():
            t.sort(key=lambda r: r.bin)
        nxt = []
        for g, rank, lo, hi, offset in probes:
            cum = offset
            for b in by_task.get(tasks[(g, lo, hi)], []):
                if rank < cum + b.cnt:
                    if b.bmin == b.bmax:
                        resolved[(g, rank)] = b.bmin
                    elif b.cnt <= max_inbin:
                        selection.append((g, b.bmin, b.bmax, rank, rank - cum))
                    else:
                        nxt.append((g, rank, b.bmin, b.bmax, cum))
                    break
                cum += b.cnt
        probes = nxt

    if selection:
        groups: dict[tuple[object, float, float], int] = {}
        for g, lo, hi, _r, _lr in selection:
            groups.setdefault((g, lo, hi), len(groups))
        spec = spark.createDataFrame(
            [(pid, g, lo, hi) for (g, lo, hi), pid in groups.items()],
            base.select(F.lit(0).alias("pid"), "g",
                        F.col("v").alias("lo"),
                        F.col("v").alias("hi")).schema)
        sorted_bins = (base.join(F.broadcast(spec),
                                 base["g"].eqNullSafe(spec["g"]))
                           .filter((F.col("v") >= F.col("lo"))
                                   & (F.col("v") <= F.col("hi")))
                           .groupBy("pid")
                           .agg(F.sort_array(F.collect_list("v"))
                                 .alias("vs")))
        want = spark.createDataFrame(
            [(groups[(g, lo, hi)], lr, i)
             for i, (g, lo, hi, _r, lr) in enumerate(selection)],
            "pid int, lr int, k int")
        got = (sorted_bins.join(F.broadcast(want), "pid")
                          .select("k", F.element_at("vs", F.col("lr") + 1)
                                        .alias("v")).collect())
        vals = {row.k: row.v for row in got}
        for i, (g, _lo, _hi, rank, _lr) in enumerate(selection):
            resolved[(g, rank)] = vals[i]

    out: dict[object, list[float]] = {}
    for g, ranks in ranks_by_g.items():
        vs = []
        for p in probs:
            rs = ranks.get(p)
            vs.append(None if rs is None else
                      _interp(rs[0], rs[1], rs[2],
                              resolved[(g, rs[0])], resolved[(g, rs[1])]))
        out[g] = vs
    return out


def exact_quantiles_grouped_frame(df: DataFrame, group_col: str,
                                  value_col: str, probs: list[float],
                                  bins: int = 1024,
                                  max_inbin: int = 4_000_000) -> DataFrame:
    """Grouped exact interpolated quantiles, LOW-LATENCY hybrid: the
    driver coordinates with O(groups) SCALAR metadata (counts, ranges,
    bin boundaries — the same class of statistics AQE itself collects),
    but the RESULT is assembled distributively: in-bin selection values
    flow executor→executor through joins, never through the driver.

    Three jobs total: (1) per-group stats, (2) one (group × bin)
    histogram round (more only for pathological >max_inbin bins), and
    (3) — lazily, when the caller materializes the returned frame — the
    bounded in-bin selection joined with broadcast rank metadata,
    interpolated in-plan with Percentile.getPercentile's exact expression
    (bit-identical to per-group ``percentile()``, tested).

    Use this for low/medium group cardinality (profiler shape: up to a
    few hundred thousand groups). For unbounded group cardinality use
    :func:`grouped_quantiles_df`, which keeps even the metadata out of
    the driver at the cost of a deeper plan. Returns ``(group_col, n,
    qs array<double>)``; ``n`` counts all group rows (incl. NULL values).
    """
    spark = df.sparkSession
    vc = F.col(value_col).cast("double")
    base = (df.select(F.col(group_col).alias("g"),
                      F.when(~F.isnan(vc), vc).alias("v"),
                      F.coalesce(F.isnan(vc), F.lit(False)).alias("nan"))
              .localCheckpoint(eager=False))

    # job 1: per-group stats (NaN counted like percentile: occupies the
    # top of the order; NaN-excluded min/max keep bin math finite)
    stats = (base.groupBy("g")
             .agg(F.count(F.lit(1)).alias("rows"),
                  F.count("v").alias("m"),
                  F.count(F.when(F.col("nan"), True)).alias("nnan"),
                  F.min("v").alias("mn"), F.max("v").alias("mx"))
             .collect())

    resolved: dict[tuple[object, int], float] = {}   # driver-known values
    probes: list[tuple[object, int, float, float, int]] = []
    selection: list[tuple[object, float, float, int, int]] = []
    ranks_by_g: dict[object, dict[float, tuple[int, int, float]]] = {}
    rows_by_g: dict[object, int] = {}
    for row in stats:
        rows_by_g[row.g] = row.rows
        n = row.m + row.nnan
        if not n:
            ranks_by_g[row.g] = {}
            continue
        ranks_by_g[row.g] = _rank_set(n, probs)
        needed = sorted({r for lo, hi, _ in ranks_by_g[row.g].values()
                         for r in (lo, hi)})
        for r in needed:
            if r >= row.m:
                resolved[(row.g, r)] = float("nan")
            elif row.mn == row.mx:
                resolved[(row.g, r)] = row.mn
            else:
                w = (row.mx - row.mn) / bins
                if math.isfinite(w) and w > 0:
                    probes.append((row.g, r, row.mn, row.mx, 0))
                else:   # denormal-width range: direct bounded selection
                    selection.append((row.g, row.mn, row.mx, r, r))

    gtype = base.schema["g"].dataType.simpleString()
    while probes:
        tasks: dict[tuple[object, float, float], int] = {}
        for g, _r, lo, hi, _o in probes:
            tasks.setdefault((g, lo, hi), len(tasks))
        spec = spark.createDataFrame(
            [(tid, g, lo, hi) for (g, lo, hi), tid in tasks.items()],
            f"tid int, g {gtype}, lo double, hi double")
        w = (F.col("hi") - F.col("lo")) / bins
        idx = F.least(F.lit(bins - 1),
                      F.floor((F.col("v") - F.col("lo")) / w)).cast("int")
        hist = (base.join(F.broadcast(spec),
                          base["g"].eqNullSafe(spec["g"]))
                    .filter((F.col("v") >= F.col("lo"))
                            & (F.col("v") <= F.col("hi")))
                    .groupBy("tid", idx.alias("bin"))
                    .agg(F.count(F.lit(1)).alias("cnt"),
                         F.min("v").alias("bmin"), F.max("v").alias("bmax"))
                    .collect())
        by_task: dict[int, list] = {}
        for row in hist:
            by_task.setdefault(row.tid, []).append(row)
        for t in by_task.values():
            t.sort(key=lambda r: r.bin)
        nxt = []
        for g, rank, lo, hi, offset in probes:
            cum = offset
            for b in by_task.get(tasks[(g, lo, hi)], []):
                if rank < cum + b.cnt:
                    if b.bmin == b.bmax:
                        resolved[(g, rank)] = b.bmin
                    elif b.cnt <= max_inbin:
                        selection.append((g, b.bmin, b.bmax, rank, rank - cum))
                    else:
                        w2 = (b.bmax - b.bmin) / bins
                        if math.isfinite(w2) and w2 > 0:
                            nxt.append((g, rank, b.bmin, b.bmax, cum))
                        else:
                            selection.append((g, b.bmin, b.bmax, rank,
                                              rank - cum))
                    break
                cum += b.cnt
        probes = nxt

    # job 3 (lazy): the driver emits one metadata row per
    # (group, prob, lo/hi side) — selection rows carry the (pid, lrank)
    # pointer into the in-plan selection frame, driver-known rows carry
    # the value directly. ONE broadcast join against the selection frame
    # resolves everything; interpolation + qs pivot run executor-side.
    groups: dict[tuple[object, float, float], int] = {}
    sel_by_key: dict[tuple[object, int], tuple[int, int]] = {}
    for g, lo, hi, rank, lr in selection:
        pid = groups.setdefault((g, lo, hi), len(groups))
        sel_by_key[(g, rank)] = (pid, lr)
    if groups:
        spec = spark.createDataFrame(
            [(pid, g, lo, hi) for (g, lo, hi), pid in groups.items()],
            f"pid int, g {gtype}, lo double, hi double")
        binvals = (base.join(F.broadcast(spec),
                             base["g"].eqNullSafe(spec["g"]))
                       .filter((F.col("v") >= F.col("lo"))
                               & (F.col("v") <= F.col("hi")))
                       .groupBy("pid")
                       .agg(F.sort_array(F.collect_list("v")).alias("vs")))
    else:
        binvals = spark.createDataFrame([], "pid int, vs array<double>")

    meta_rows = []
    for g, ranks in ranks_by_g.items():
        for pi, p in enumerate(probs):
            rs = ranks.get(p)
            if rs is None:
                meta_rows.append((g, rows_by_g[g], pi, None,
                                  None, None, 0, None, None, None))
                continue
            lo_r, hi_r, pos = rs
            for side, r in enumerate((lo_r, hi_r)):
                if side == 1 and hi_r == lo_r:
                    continue            # integer position: one side only
                kval = resolved.get((g, r))
                pid, lr = sel_by_key.get((g, r), (None, None))
                meta_rows.append((g, rows_by_g[g], pi, float(pos),
                                  lo_r, hi_r, side, pid, lr, kval))
    meta = spark.createDataFrame(
        meta_rows,
        f"g {gtype}, n long, pi int, pos double, lo_r long, hi_r long, "
        "side int, pid int, lr int, kval double")

    res = (meta.join(F.broadcast(binvals), "pid", "left")
               .withColumn("val", F.coalesce(
                   F.col("kval"),
                   F.element_at("vs", F.col("lr") + 1))))
    per_prob = (res.groupBy("g", "n", "pi", "pos", "lo_r", "hi_r")
                   .agg(F.max(F.when(F.col("side") == 0, F.col("val")))
                         .alias("lo_v"),
                        F.max(F.when(F.col("side") == 1, F.col("val")))
                         .alias("hi_v"))
                   .select("g", "n", "pi",
                           F.when(F.col("lo_r").isNull(),
                                  F.lit(None).cast("double"))
                            .when(F.col("lo_r") == F.col("hi_r"),
                                  F.col("lo_v"))
                            # equal-keys short-circuit (SQL NaN = NaN is
                            # true, so double-NaN also takes this branch)
                            .when(F.col("lo_v") == F.col("hi_v"),
                                  F.col("lo_v"))
                            .otherwise((F.col("hi_r") - F.col("pos"))
                                       * F.col("lo_v")
                                       + (F.col("pos") - F.col("lo_r"))
                                       * F.col("hi_v")).alias("val")))
    return (per_prob.groupBy("g", "n")
                    .agg(F.transform(F.array_sort(F.collect_list(
                             F.struct("pi", "val"))),
                         lambda s: s["val"]).alias("qs"))
                    .select(F.col("g").alias(group_col), "n", "qs"))


def grouped_quantiles_auto(df: DataFrame, group_col: str, value_col: str,
                           probs: list[float], bins: int = 1024,
                           max_inbin: int = 4_000_000,
                           max_group_rows: int = 4_000_000) -> DataFrame:
    """DENSITY-GUARDED grouped exact quantiles (VERDICT r6 #3 — the
    ngram-style adaptive pattern): one cheap per-group-count probe picks
    the engine.

    * Every group ≤ ``max_group_rows`` → native per-group
      ``percentile()``: one whole-stage-codegen aggregation, the
      low-latency winner whenever each group's values fit one
      aggregation buffer (4M doubles ≈ 32 MB — comfortable against the
      multi-GB executor heap; the probe makes the safety check explicit
      instead of hoping).
    * Any bigger group → :func:`exact_quantiles_grouped_frame`, whose
      memory never exceeds (group × bin) aggregate rows regardless of
      group size — the 100 TB-safe path.

    Both engines are bit-identical to ``percentile()`` (the frame path's
    interpolation is Percentile.getPercentile's own expression, property-
    tested incl. the equal-keys edge), so the route choice can never
    change a result — exactly like the Σdf² guard in ngram_jaccard.
    Returns ``(group_col, n, qs array<double>)``."""
    sizes = (df.groupBy(group_col)
               .agg(F.count(F.lit(1)).alias("cnt"))
               .agg(F.max("cnt").alias("mx"))
               .collect())[0]
    if sizes.mx is not None and sizes.mx <= max_group_rows:
        vc = F.col(value_col).cast("double")
        # all-NULL groups: raw percentile() yields a NULL *array*; the
        # frame/df engines yield an array OF nulls — normalize to the
        # engines' convention so the route choice is invisible
        null_qs = F.array(*[F.lit(None).cast("double") for _ in probs])
        return (df.groupBy(F.col(group_col))
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.coalesce(
                           F.percentile(vc, [float(p) for p in probs]),
                           null_qs).alias("qs")))
    return exact_quantiles_grouped_frame(df, group_col, value_col, probs,
                                         bins=bins, max_inbin=max_inbin)


def grouped_quantiles_df(df: DataFrame, group_col: str, value_col: str,
                         probs: list[float], bins: int = 1024,
                         max_inbin: int = 100_000) -> DataFrame:
    """Fully DISTRIBUTED grouped exact interpolated quantiles: one lazy
    DAG, zero driver round-trips — the scale twin of
    :func:`exact_quantiles_grouped` (which coordinates the same selection
    from the driver and therefore serializes O(groups) state through it).

    Plan shape (single action when materialized):

    1. per-group stats ``(n, nan-count, min, max)`` — one narrow scan,
       map-side combined;
    2. needed order-statistic ranks derived IN-PLAN from ``probs`` ×
       stats (posexplode of a literal array — no driver rank math);
    3. level-1 equal-width histogram per ``(group, bin)`` (≤ groups×bins
       aggregate rows), cumulative counts via a window over that tiny
       aggregate, non-equi rank-location join;
    4. level-2 histogram ONLY for located bins with ``cnt > max_inbin``
       and ``bmin < bmax`` — when that frame is empty AQE's empty-relation
       propagation eliminates the whole sub-DAG including its scan, so the
       common case pays nothing;
    5. bounded in-bin selection: ``sort_array(collect_list)`` over just
       the located bins (occupancy ≈ N_group/bins, or /bins² after
       level 2; exact ties resolve earlier as degenerate bins), then
       ``element_at`` at the local rank.

    NaN handling matches ``percentile()``: NaN counts toward ``n`` and
    occupies the top of the order, so ranks ≥ non-NaN-count resolve to
    NaN in-plan. NULL group keys are groups (all joins are null-safe on
    the key); all-NULL groups yield NULL quantiles like ``percentile``.
    Interpolation is Spark Percentile.getPercentile's own expression with
    the same IEEE op order, evaluated JVM-side — bit-identical to the
    built-in (tested).

    Returns ``(group_col, n, qs array<double>)`` where ``qs[i]`` is the
    quantile for ``probs[i]`` and ``n`` the group's total row count
    (including NULL values — the profiler's count twin), ready to join
    distributively. Reference grouped-quantile surface:
    src/database.py:5372-5386 (per-group ``quantile_cont``)."""
    nprobs = len(probs)
    vc = F.col(value_col).cast("double")
    base = (df.select(F.col(group_col).alias("g"),
                      F.when(~F.isnan(vc), vc).alias("v"),
                      F.coalesce(F.isnan(vc), F.lit(False)).alias("nan"))
              .localCheckpoint(eager=False))

    # lazy localCheckpoints below cut the shared subtrees: Spark has no
    # cross-branch common-subexpression elimination, so without them every
    # union/join branch would recompute its whole upstream lineage
    # (measured 6x recomputation of the rank-location join at sf0.1).
    stats = (base.groupBy("g")
             .agg(F.count(F.lit(1)).alias("rows"),
                  (F.count("v") + F.count(F.when(F.col("nan"), True)))
                  .alias("n"),
                  F.count("v").alias("m"),
                  F.min("v").alias("mn"), F.max("v").alias("mx"))
             .localCheckpoint(eager=False))

    # 2. needed ranks, derived in-plan: for each prob p at position
    # p*(n-1) both bracketing order statistics are needed.
    parr = F.array(*[F.lit(float(p)) for p in probs])
    ranks = (stats.filter(F.col("n") > 0)
             .select("g", "n", "m", "mn", "mx",
                     F.posexplode(parr).alias("pi", "p"))
             .withColumn("pos", F.col("p") * (F.col("n") - 1).cast("double"))
             .withColumn("lo_r", F.floor("pos").cast("long"))
             .withColumn("hi_r", F.ceil("pos").cast("long"))
             .localCheckpoint(eager=False))
    needed = (ranks.select("g", "m", "mn", "mx",
                           F.explode(F.array("lo_r", "hi_r")).alias("rank"))
                   .distinct())

    # direct resolutions: NaN region (rank beyond the non-NaN count) and
    # constant groups
    direct = (needed.filter((F.col("rank") >= F.col("m"))
                            | (F.col("mn") == F.col("mx")))
              .select("g", "rank",
                      F.when(F.col("rank") >= F.col("m"),
                             F.lit(float("nan")))
                       .otherwise(F.col("mn")).alias("val")))
    open_ranks = (needed.filter((F.col("rank") < F.col("m"))
                                & (F.col("mn") < F.col("mx")))
                        .select("g", "rank", "mn", "mx"))

    # 3. level-1 histogram over the full per-group range
    b1 = base.alias("b").join(
        F.broadcast(stats.select("g", "mn", "mx")
                         .filter(F.col("mn") < F.col("mx"))).alias("s"),
        F.col("b.g").eqNullSafe(F.col("s.g")))
    w1 = (F.col("mx") - F.col("mn")) / bins
    bin1 = F.least(F.lit(bins - 1),
                   F.floor((F.col("v") - F.col("mn")) / w1)).cast("int")
    hist1 = (b1.filter(F.col("v").isNotNull())
               .groupBy(F.col("b.g").alias("g"), bin1.alias("bin"))
               .agg(F.count(F.lit(1)).alias("cnt"),
                    F.min("v").alias("bmin"), F.max("v").alias("bmax")))
    from pyspark.sql import Window
    cum = (Window.partitionBy("g").orderBy("bin")
                 .rowsBetween(Window.unboundedPreceding, -1))
    hist1 = hist1.withColumn("cum0",
                             F.coalesce(F.sum("cnt").over(cum), F.lit(0))) \
                 .localCheckpoint(eager=False)
    loc1 = (open_ranks.alias("r").join(
                hist1.alias("h"),
                F.col("r.g").eqNullSafe(F.col("h.g"))
                & (F.col("rank") >= F.col("cum0"))
                & (F.col("rank") < F.col("cum0") + F.col("cnt")))
            .select(F.col("r.g").alias("g"), "rank", "bmin", "bmax", "cnt",
                    (F.col("rank") - F.col("cum0")).alias("lrank"))
            .localCheckpoint(eager=False))

    deg1 = (loc1.filter(F.col("bmin") == F.col("bmax"))
                .select("g", "rank", F.col("bmin").alias("val")))
    narrow = loc1.filter((F.col("bmin") < F.col("bmax"))
                         & (F.col("cnt") <= max_inbin))
    wide = loc1.filter((F.col("bmin") < F.col("bmax"))
                       & (F.col("cnt") > max_inbin))

    # 4. level-2 refinement for overfull bins — AQE eliminates this whole
    # sub-DAG (scan included) when `wide` turns out empty at runtime.
    nb = wide.select("g", "bmin", "bmax").distinct()
    b2 = base.alias("b").join(
        F.broadcast(nb).alias("s"),
        F.col("b.g").eqNullSafe(F.col("s.g"))
        & F.col("v").between(F.col("bmin"), F.col("bmax")))
    w2 = (F.col("bmax") - F.col("bmin")) / bins
    bin2 = F.least(F.lit(bins - 1),
                   F.floor((F.col("v") - F.col("bmin")) / w2)).cast("int")
    hist2 = (b2.groupBy(F.col("b.g").alias("g"), "bmin", "bmax",
                        bin2.alias("bin"))
               .agg(F.count(F.lit(1)).alias("cnt2"),
                    F.min("v").alias("b2min"), F.max("v").alias("b2max")))
    cum2 = (Window.partitionBy("g", "bmin", "bmax").orderBy("bin")
                  .rowsBetween(Window.unboundedPreceding, -1))
    hist2 = hist2.withColumn("cum0",
                             F.coalesce(F.sum("cnt2").over(cum2), F.lit(0)))
    loc2 = (wide.alias("r").join(
                hist2.alias("h"),
                F.col("r.g").eqNullSafe(F.col("h.g"))
                & (F.col("r.bmin") == F.col("h.bmin"))
                & (F.col("r.bmax") == F.col("h.bmax"))
                & (F.col("lrank") >= F.col("cum0"))
                & (F.col("lrank") < F.col("cum0") + F.col("cnt2")))
            .select(F.col("r.g").alias("g"), "rank",
                    F.col("b2min").alias("bmin"),
                    F.col("b2max").alias("bmax"),
                    (F.col("lrank") - F.col("cum0")).alias("lrank"))
            .localCheckpoint(eager=False))
    deg2 = (loc2.filter(F.col("bmin") == F.col("bmax"))
                .select("g", "rank", F.col("bmin").alias("val")))

    # 5. bounded in-bin selection for every still-open (g, rank)
    sel = (narrow.select("g", "rank", "bmin", "bmax", "lrank")
                 .unionByName(loc2.filter(F.col("bmin") < F.col("bmax"))
                                  .select("g", "rank", "bmin", "bmax",
                                          "lrank")))
    sel_bins = sel.select("g", "bmin", "bmax").distinct()
    binvals = (base.alias("b").join(
                   F.broadcast(sel_bins).alias("s"),
                   F.col("b.g").eqNullSafe(F.col("s.g"))
                   & F.col("v").between(F.col("bmin"), F.col("bmax")))
               .groupBy(F.col("b.g").alias("g"), "bmin", "bmax")
               .agg(F.sort_array(F.collect_list("v")).alias("vs")))
    picked = (sel.alias("r").join(
                  binvals.alias("h"),
                  F.col("r.g").eqNullSafe(F.col("h.g"))
                  & (F.col("r.bmin") == F.col("h.bmin"))
                  & (F.col("r.bmax") == F.col("h.bmax")))
              .select(F.col("r.g").alias("g"), "rank",
                      F.element_at("vs", (F.col("lrank") + 1).cast("int"))
                       .alias("val")))

    resolved = direct.unionByName(deg1).unionByName(deg2) \
                     .unionByName(picked).localCheckpoint(eager=False)

    # interpolate with Percentile.getPercentile's exact expression
    lo = resolved.select(F.col("g").alias("lg"),
                         F.col("rank").alias("lr"),
                         F.col("val").alias("lo_v"))
    hi = resolved.select(F.col("g").alias("hg"),
                         F.col("rank").alias("hr"),
                         F.col("val").alias("hi_v"))
    vals = (ranks.alias("r")
                 .join(lo, F.col("r.g").eqNullSafe(F.col("lg"))
                       & (F.col("lo_r") == F.col("lr")))
                 .join(hi, F.col("r.g").eqNullSafe(F.col("hg"))
                       & (F.col("hi_r") == F.col("hr")))
                 .select(F.col("r.g").alias("g"), "pi",
                         F.when(F.col("lo_r") == F.col("hi_r"),
                                F.col("lo_v"))
                          # equal-keys short-circuit, like getPercentile
                          .when(F.col("lo_v") == F.col("hi_v"),
                                F.col("lo_v"))
                          .otherwise((F.col("hi_r") - F.col("pos"))
                                     * F.col("lo_v")
                                     + (F.col("pos") - F.col("lo_r"))
                                     * F.col("hi_v")).alias("val")))
    qs = (vals.groupBy("g")
              .agg(F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pi", "val"))),
                       lambda s: s["val"]).alias("qs")))
    out = (stats.alias("s").join(qs.alias("q"),
                                 F.col("s.g").eqNullSafe(F.col("q.g")),
                                 "left")
                .select(F.col("s.g").alias(group_col),
                        F.col("rows").alias("n"),
                        F.coalesce(
                            F.col("qs"),
                            F.array(*[F.lit(None).cast("double")
                                      for _ in range(nprobs)])).alias("qs")))
    return out


def exact_quantiles_single_pass(df: DataFrame, cols: list[str],
                                probs: list[float], bins: int = 1024,
                                max_inbin: int = 100_000,
                                ) -> dict[str, list[float]]:
    """Exact interpolated quantiles for MANY columns in ONE Spark action:
    unpivot ``cols`` to ``(column-name, value)`` rows and run the fully
    distributed :func:`grouped_quantiles_df` with the column name as the
    group key. Same bit-identical-to-``percentile()`` guarantee; the whole
    computation is a single lazy DAG (the profiler's quantile pass — was
    3 driver-coordinated jobs via :func:`exact_quantiles`). Returns
    ``{col: [v per prob]}`` with None entries for all-null columns."""
    if not cols:
        return {}
    stacked = df.select(F.expr(
        "stack({n}, {args})".format(
            n=len(cols),
            args=", ".join(f"'{c}', cast(`{c}` as double)" for c in cols))
        ).alias("c", "v"))
    rows = exact_quantiles_grouped_frame(stacked, "c", "v", probs,
                                         bins=bins,
                                         max_inbin=max_inbin).collect()
    return {r.c: list(r.qs) for r in rows}


def exact_quantiles(df: DataFrame, cols: list[str], probs: list[float],
                    bins: int = 4096, max_inbin: int = 4_000_000,
                    precomputed_stats: dict | None = None,
                    ) -> dict[str, list[float]]:
    """Interpolated exact quantiles per column, bit-identical to Spark's
    ``percentile(col, array(probs))`` (same order statistics, same
    interpolation expression and IEEE op order), computed with bounded
    memory. Returns ``{col: [v per prob]}`` (None entries for all-null
    columns)."""
    stats = exact_quantile_order_stats(df, cols, probs, bins, max_inbin,
                                       precomputed_stats)
    out: dict[str, list[float]] = {}
    for c in cols:
        out[c] = [None if stats[c][p] is None else stats[c][p][2]
                  for p in probs]
    return out


# Driver-collect quantile bound: rows × columns values — ~64 MB
# of float64 at the bound.
_DRIVER_QUANTILE_MAX_VALUES = 8_000_000


def _exact_quantiles_driver(tbl, cols: list[str],
                            probs: list[float]) -> dict[str, list[float]]:
    """Driver-collect quantile route (r16 opt, the Lloyd-crossover
    discipline): the bounded collect of the needed columns, np.sort per
    column, the SAME order statistics and the module's own ``_interp``
    formula — order statistics are data values, so selection method
    cannot change them, and the interpolation op order is shared with
    both other routes. NaN semantics match: np.sort places NaN above
    every double (Spark's ordering), NULLs drop, n counts non-null
    including NaN."""
    import numpy as np

    # The Arrow table keeps the null bitmap separate from NaN VALUES
    # (toPandas would conflate both into float64 NaN): drop_null removes
    # exactly the SQL NULLs, genuine NaNs stay and sort above every double.
    out: dict[str, list[float]] = {}
    for c in cols:
        vals = np.sort(tbl.column(c).drop_null().to_numpy(
            zero_copy_only=False).astype(np.float64))
        n = len(vals)
        if n == 0:
            out[c] = [None] * len(probs)
            continue
        rk = _rank_set(n, [float(p) for p in probs])
        res = []
        for p in probs:
            lo_rank, hi_rank, pos = rk[float(p)]
            res.append(_interp(lo_rank, hi_rank, pos,
                               float(vals[lo_rank]), float(vals[hi_rank])))
        out[c] = res
    return out


def exact_quantiles_auto(df: DataFrame, cols: list[str], probs: list[float],
                         bins: int = 4096, max_inbin: int = 4_000_000,
                         max_rows: int = 200_000,
                         precomputed_stats: dict | None = None,
                         ) -> dict[str, list[float]]:
    """SIZE-GUARDED ungrouped exact quantiles (VERDICT r8 #5 — the
    ungrouped twin of :func:`grouped_quantiles_auto`): one cheap count
    probe picks the engine.

    * ``count(df) ≤ max_rows`` → native ``percentile()`` over all columns
      in ONE aggregation (two jobs total: the probe + the agg).
    * Bigger → :func:`exact_quantiles` (two-pass histogram selection),
      whose memory is bounded by ``bins`` aggregate rows per column
      regardless of input size — the 100 TB-safe path.

    The ``max_rows`` default is the EMPIRICAL latency crossover, not a
    memory bound (measured on lineitem, 3 cols × 7 probs, alternating
    reps one session): at 60k rows native wins 0.38 s vs bounded 1.18 s
    (the bounded path's ~3-job floor dominates); at 600k rows native
    LOSES 2.15 s vs 1.36 s — global ``percentile()`` funnels every value
    through one value→count hashmap merge + sort on a single task (near-
    distinct columns make that map O(N)), while the bounded path's
    per-job cost barely grows. Crossover ≈ 200k rows. Unlike the grouped
    auto (where per-group buffers parallelize and native wins to 4M
    rows/group), ungrouped native has no parallel merge, so the guard is
    latency-calibrated; the bounded path is also the only memory-safe
    choice far past it.

    The bounded path reproduces ``percentile()``'s order statistics and
    interpolation bit-exactly (property-tested incl. the equal-keys
    edge), so the route choice can never change a result. When
    ``precomputed_stats`` (``{col: (n, nan, min, max)}``) is supplied the
    probe job is skipped — the caller already scanned. NOTE (ADVICE r9):
    the two probes measure slightly different n — ``df.count()`` counts
    all rows, the stats path takes the max per-column NON-NULL count (the
    only cardinality the stats carry; re-counting would re-add the job
    the parameter exists to skip). A mostly-NULL input near the crossover
    can therefore route differently depending on how stats were supplied
    — latency-only, never a result change."""
    if not cols:
        return {}
    if precomputed_stats is not None:
        n = max(precomputed_stats[c][0] for c in cols)
    else:
        n = df.count()
    # Driver-collect route: under the value bound ONE bounded
    # collect + np.sort replaces either multi-job engine — order
    # statistics are data values, so the route can never change a result
    # (pytest pins all three routes bit-equal). Past the bound the
    # original crossover logic picks native vs histogram exactly as
    # before. Stats-supplied calls NEVER take it: stats
    # carry only the max per-column NON-NULL count, but the collect takes
    # ALL rows — a mostly-NULL column on a huge table would pass the
    # value bound yet collect everything. Only a true row count may gate
    # a driver collect.
    if precomputed_stats is None and n > 0:
        tbl = bounded_collect(
            df.select(*[F.col(c).cast("double").alias(c) for c in cols]),
            _DRIVER_QUANTILE_MAX_VALUES // len(cols), rows=n)
        if tbl is not None:
            return _exact_quantiles_driver(tbl, cols, probs)
    if n > max_rows:
        return exact_quantiles(df, cols, probs, bins, max_inbin,
                               precomputed_stats)
    plist = [float(p) for p in probs]
    row = df.agg(*[F.percentile(F.col(c).cast("double"), plist).alias(c)
                   for c in cols]).first()
    # all-NULL column: native percentile yields a NULL array; the bounded
    # path yields per-prob Nones — normalize so the route is invisible
    return {c: (list(row[c]) if row[c] is not None else [None] * len(probs))
            for c in cols}
