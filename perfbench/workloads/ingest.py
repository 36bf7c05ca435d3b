"""``ingest``: write-heavy ETL into a primary-key table.

A seeded sequence of incremental CSV imports into a PK table that holds
about 300k rows throughout. Every block of 10 ops, in a seeded order,
holds six ``update_duplicates`` batches of 20k rows with duplicate keys
inside the batch, one ``do_nothing`` batch, one ``insert_duplicates``
append into a second table without a PK, and two typed-predicate
``delete_rows``. Every op goes through ``StorageEngine.import_file`` /
``delete_rows``.

Correctness: a numpy model of the documented dedup semantics (last row
of a batch wins for ``update_duplicates``; for ``do_nothing`` existing
keys are kept and the first row of a new key wins; deletes drop every
matching row) predicts each op's row count, and at the end the row count
and an order-insensitive checksum of both tables, read back from their
parquet files without Spark. No staging directory may be left behind.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from ..harness import Op
from .common import Deck, checksum, staging_leftovers, write_csv

PROJECT, BUCKET, TABLE, LOG = "bench", "etl", "events", "events_log"
COLUMNS = [{"name": "id", "type": "BIGINT", "nullable": False},
           {"name": "qty", "type": "INTEGER"},
           {"name": "cents", "type": "BIGINT"},
           {"name": "tag", "type": "VARCHAR"}]
HEADER = [c["name"] for c in COLUMNS]

# The PK table holds keys [0, ROWS0) after the initial load. Upserts draw
# keys from that range, so they overwrite rows and re-insert deleted ones;
# do_nothing batches also draw from the NEW_KEYS keys above it. Deletes and
# inserts roughly balance, so the table, and with it the cost of an op
# (every write rewrites the whole table), stays level through a run.
ROWS0 = 300_000
NEW_KEYS = 10_000
KEYSPACE = ROWS0 + NEW_KEYS
BATCH = 20_000           # rows per PK-table import
DUP_SHARE = 0.05         # rows of a batch that repeat an earlier key
LOG_ROWS0 = 50_000
LOG_BATCH = 5_000
N_TAGS = 50
# op kind -> ops of that kind in every block of 10
MIX = {"update_duplicates": 6, "do_nothing": 1, "insert_duplicates": 1,
       "delete": 2}


class PKModel:
    """Expected content of the PK table, one slot per possible key."""

    def __init__(self) -> None:
        self.present = np.zeros(KEYSPACE, dtype=bool)
        self.qty = np.zeros(KEYSPACE, dtype=np.int64)
        self.cents = np.zeros(KEYSPACE, dtype=np.int64)
        self.tag = np.zeros(KEYSPACE, dtype=np.int64)

    def _set(self, ids, qty, cents, tag) -> None:
        self.present[ids] = True
        self.qty[ids], self.cents[ids], self.tag[ids] = qty, cents, tag

    def update_duplicates(self, ids, qty, cents, tag) -> None:
        # last occurrence of each key: first occurrence in the reversed batch
        rev = ids[::-1]
        _, first = np.unique(rev, return_index=True)
        pick = len(ids) - 1 - first
        self._set(ids[pick], qty[pick], cents[pick], tag[pick])

    def do_nothing(self, ids, qty, cents, tag) -> None:
        _, first = np.unique(ids, return_index=True)
        pick = first[~self.present[ids[first]]]
        self._set(ids[pick], qty[pick], cents[pick], tag[pick])

    def delete_qty_in(self, values) -> None:
        self.present &= ~np.isin(self.qty, values)

    @property
    def count(self) -> int:
        return int(self.present.sum())

    def checksum(self) -> int:
        p = self.present
        return checksum(np.nonzero(p)[0], self.qty[p], self.cents[p],
                        self.tag[p])


class Ingest:
    cycle = 1              # traced/untraced blocks alternate op by op
    block = sum(MIX.values())
    tail_q = 50            # ~20 ops per run support no higher percentile

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.eng = ctx.engine
        self.rng = np.random.default_rng([ctx.seed, 11])
        self.deck = Deck(MIX, ctx.seed)
        self.inputs = os.path.join(ctx.rundir, "inputs")
        self.model = PKModel()
        self.log_count = 0
        self.log_sum = 0
        self.files = 0

    # ------------------------------------------------------------ inputs
    def _rows(self, n: int, ids=None, keys: int = ROWS0):
        r = self.rng
        if ids is None:
            ids = r.integers(0, keys, n)
            k = int(n * DUP_SHARE)
            pos = r.choice(np.arange(1, n), k, replace=False)
            ids[pos] = ids[(r.random(k) * pos).astype(np.int64)]
        return (ids, r.integers(0, 1000, n), r.integers(0, 10**7, n),
                r.integers(0, N_TAGS, n))

    def _csv(self, rows) -> tuple[str, int]:
        path = os.path.join(self.inputs, f"batch{self.files}.csv")
        self.files += 1
        ids, qty, cents, tag = rows
        nbytes = write_csv(path, HEADER, [ids, qty, cents,
                                          [f"t{t}" for t in tag.tolist()]])
        return path, nbytes

    # --------------------------------------------------------------- ops
    def _import(self, kind: str) -> Op:
        table = LOG if kind == "insert_duplicates" else TABLE
        rows = self._rows(LOG_BATCH if table == LOG else BATCH,
                          keys=KEYSPACE if kind == "do_nothing" else ROWS0)
        path, nbytes = self._csv(rows)

        def run():
            return self.eng.import_file(PROJECT, BUCKET, table, path,
                                        incremental=True, dedup_mode=kind)

        def check(res):
            os.remove(path)
            if table == LOG:
                self.log_count += len(rows[0])
                self.log_sum = (self.log_sum + checksum(*rows)) % 2**64
                want = self.log_count
            else:
                getattr(self.model, kind)(*rows)
                want = self.model.count
            if res["rows_after"] != want:
                return f"{table} has {res['rows_after']} rows, model {want}"
            return None
        return Op(f"import.{kind}", run, check, input_bytes=nbytes,
                  writes=True)

    def _delete(self) -> Op:
        values = sorted(self.rng.choice(1000, 2, replace=False).tolist())
        filt = [{"column": "qty", "operator": "eq", "values": values,
                 "dataType": "INTEGER"}]

        def run():
            return self.eng.delete_rows(PROJECT, BUCKET, TABLE,
                                        where_filters=filt)

        def check(res):
            self.model.delete_qty_in(values)
            if res["rows_remaining"] != self.model.count:
                return (f"{res['rows_remaining']} rows remain, model "
                        f"{self.model.count}")
            return None
        return Op("delete_rows", run, check, writes=True)

    def next_op(self, i: int) -> Op:
        kind = self.deck.draw()
        return self._delete() if kind == "delete" else self._import(kind)

    # ------------------------------------------------------------- setup
    def load(self) -> None:
        e = self.eng
        e.create_project(PROJECT)
        e.create_bucket(PROJECT, BUCKET)
        e.create_table(PROJECT, BUCKET, TABLE, COLUMNS, primary_key=["id"])
        e.create_table(PROJECT, BUCKET, LOG, COLUMNS)
        base = self._rows(ROWS0, ids=np.arange(ROWS0))
        path, _ = self._csv(base)
        e.import_file(PROJECT, BUCKET, TABLE, path)
        self.model.update_duplicates(*base)
        log0 = self._rows(LOG_ROWS0)
        path, _ = self._csv(log0)
        e.import_file(PROJECT, BUCKET, LOG, path)
        self.log_count, self.log_sum = LOG_ROWS0, checksum(*log0)

    # ------------------------------------------------------------ checks
    def _read(self, table: str):
        d = self.eng.catalog.data_dir(PROJECT, BUCKET, table)
        t = pq.read_table(d, columns=HEADER)
        tag = np.array([int(s[1:]) for s in t.column("tag").to_pylist()],
                       dtype=np.int64)
        return (t.column("id").to_numpy(), t.column("qty").to_numpy(),
                t.column("cents").to_numpy(), tag)

    def final_checks(self) -> list[str]:
        errors = []
        got = self._read(TABLE)
        if len(got[0]) != self.model.count or \
                checksum(*got) != self.model.checksum():
            errors.append(f"{TABLE}: {len(got[0])} rows / checksum differ "
                          f"from the model ({self.model.count} rows)")
        got = self._read(LOG)
        if len(got[0]) != self.log_count or checksum(*got) != self.log_sum:
            errors.append(f"{LOG}: {len(got[0])} rows / checksum differ "
                          f"from the model ({self.log_count} rows)")
        left = staging_leftovers(self.ctx.warehouse)
        if left:
            errors.append(f"staging directories left behind: {left}")
        return errors

    def live_rows(self) -> int:
        return self.model.count + self.log_count

    def close(self) -> None:
        pass
