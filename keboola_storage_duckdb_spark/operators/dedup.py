"""Import TRANSFORM stage: dedup / merge / write modes (SURVEY.md §2.5).

The reference's 3-stage import pipeline (STAGING → TRANSFORM → CLEANUP,
src/routers/table_import.py:240-468) reaches DuckDB as INSERT … ON CONFLICT
variants. Spark has no ART constraint, so PK semantics are implemented with
joins and window dedup — all shuffle-on-PK operations that scale out; the
"old" side never collects to the driver.

Modes (proto DedupType):
  W1 full load            overwrite
  W2/W5 append            plain union / append write
  W3 update_duplicates    upsert, staged rows win (last-wins inside staging)
  W4 do-nothing upsert    keep existing row on PK conflict
  W6 fail_on_duplicates   precheck + raise (reference relies on constraint
                          violation → HTTP 409, table_import.py:381-391)

Scale notes: every upsert is one shuffle on the PK hash. For repeated
incremental loads into a huge table, bucketing the stored table by PK would
make this a shuffle-free merge; with plain Parquet we rely on AQE, with Delta
we'd use MERGE INTO. Last-wins inside the staged batch is defined by an
explicit ordering column — the reference documents update order as
non-deterministic; we pin it so results are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class DuplicateKeyError(Exception):
    """Raised by fail_on_duplicates (maps to the reference's HTTP 409)."""


def dedup_staging_last_wins(staging: DataFrame, pk: list[str],
                            order_col: str | None = None) -> DataFrame:
    """Collapse duplicate PKs inside a staged batch, keeping the last row.

    ``order_col``: column defining "last" (e.g. a load sequence). When None,
    falls back to an arrival-order surrogate (monotonically_increasing_id) —
    matching the reference's documented non-determinism but pinned per-run.
    """
    d = staging
    if order_col is None:
        order_col = "__seq"
        d = d.withColumn("__seq", F.monotonically_increasing_id())
    w = Window.partitionBy(*pk).orderBy(F.col(order_col).desc())
    out = (d.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1)
             .drop("__rn"))
    if order_col == "__seq":
        out = out.drop("__seq")
    return out


def upsert_update_duplicates(existing: DataFrame, staging: DataFrame,
                             pk: list[str], order_col: str | None = None) -> DataFrame:
    """W3 (default mode): INSERT … ON CONFLICT (pk) DO UPDATE SET non-pk cols.

    Result = deduped staging ∪ (existing rows whose PK is not in staging).
    One shuffle on PK for the anti-join (broadcast if staging is small) plus
    one for the window dedup — Catalyst/AQE reuses the hash partitioning.
    """
    cols = list(existing.columns)
    keep = cols + ([order_col] if order_col and order_col not in cols else [])
    staged = dedup_staging_last_wins(staging.select(*keep), pk, order_col).select(*cols)
    keep_old = existing.join(staged.select(*pk), on=pk, how="left_anti")
    return keep_old.unionByName(staged)


def upsert_do_nothing(existing: DataFrame, staging: DataFrame,
                      pk: list[str], order_col: str | None = None) -> DataFrame:
    """W4: ON CONFLICT (pk) DO NOTHING — keep the existing row, insert only
    genuinely-new PKs (first row per new PK inside the batch)."""
    # "first wins" inside the batch mirrors DO NOTHING applied row-by-row.
    cols = list(existing.columns)
    keep = cols + ([order_col] if order_col and order_col not in cols else [])
    staged = staging.select(*keep)
    if order_col is None:
        order_col = "__seq"
        staged = staged.withColumn("__seq", F.monotonically_increasing_id())
    w = Window.partitionBy(*pk).orderBy(F.col(order_col).asc())
    staged = (staged.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn"))
    if order_col == "__seq":
        staged = staged.drop("__seq")
    new_rows = staged.join(existing.select(*pk), on=pk, how="left_anti")
    return existing.unionByName(new_rows.select(*existing.columns))


def check_fail_on_duplicates(existing: DataFrame, staging: DataFrame, pk: list[str]) -> None:
    """W6: raise if the staged batch conflicts with existing PKs or contains
    internal PK duplicates. Precheck instead of constraint violation."""
    conflict = staging.join(existing.select(*pk), on=pk, how="left_semi").limit(1).count()
    if conflict:
        raise DuplicateKeyError("staged rows conflict with existing primary keys")
    internal = (staging.groupBy(*pk).count().filter(F.col("count") > 1).limit(1).count())
    if internal:
        raise DuplicateKeyError("staged batch contains duplicate primary keys")


def exact_dedup(df: DataFrame, subset: list[str] | None = None,
                keep_order_col: str | None = None) -> DataFrame:
    """Exact deduplication over ``subset`` (or all columns).

    With ``keep_order_col`` keeps the row with the smallest value of that
    column per group (deterministic, oracle-friendly); otherwise a plain
    dropDuplicates (hash-shuffle groupBy, map-side partial dedup for free).
    """
    if subset is None:
        subset = df.columns
    if keep_order_col is None:
        return df.dropDuplicates(subset)
    w = Window.partitionBy(*subset).orderBy(F.col(keep_order_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .drop("__rn"))
