"""``serve``: interactive read traffic through the REST service and PG-wire.

One client, closed loop, over two PK tables (200k orders, 20k
customers). Every block of 40 ops, in a seeded order, holds 33 REST calls
on the Flask app in process (typed-filter ``/preview`` as JSON and as
Arrow, table detail, and ``/query`` running a point lookup, a filtered
aggregate or a two-table join), 5 of the same queries as PG-wire simple
queries on one loopback connection, and 2 small incremental imports,
which bump the catalog generation and so invalidate the
``register_project_views`` cache as a production write would.

Correctness: every result is compared, as an order-insensitive multiset
of text values, with DuckDB running the same SQL over tables loaded from
the same generated CSV files, with the same imports applied.
"""

from __future__ import annotations

import hashlib
import os
import random
import socket
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..harness import Op
from .common import Deck, checksum, write_csv

PROJECT, BUCKET, WORKSPACE = "shop", "sales", "ws_bench"
ORDERS = [{"name": "order_id", "type": "BIGINT", "nullable": False},
          {"name": "cust_id", "type": "BIGINT"},
          {"name": "qty", "type": "INTEGER"},
          {"name": "cents", "type": "BIGINT"},
          {"name": "status", "type": "VARCHAR"}]
CUSTOMERS = [{"name": "cust_id", "type": "BIGINT", "nullable": False},
             {"name": "region", "type": "VARCHAR"},
             {"name": "segment", "type": "INTEGER"}]
N_ORDERS, N_CUSTOMERS = 200_000, 20_000
IMPORT_ROWS = 50           # half overwrite existing keys, half are new
JOIN_SPAN = 5000           # orders a join query covers
STATUSES = ("new", "paid", "shipped", "returned")
ORDER_COLS = ",".join(c["name"] for c in ORDERS)
TABLES = f"/projects/{PROJECT}/branches/default/buckets/{BUCKET}/tables"

# op kind -> ops of that kind in every block of 40
MIX = {"rest.preview": 8, "rest.preview_arrow": 6, "rest.detail": 4,
       "rest.point": 6, "rest.agg": 5, "rest.join": 4, "pg.point": 2,
       "pg.agg": 1, "pg.join": 2, "import": 2}


def _text_rows(rows, names) -> list[tuple]:
    """Rows (tuples in ``names`` order, or dicts keyed by column name) as
    sorted tuples of text, None kept."""
    out = []
    for r in rows:
        vals = [r[k] for k in names] if isinstance(r, dict) else r
        out.append(tuple(None if v is None else str(v) for v in vals))
    return sorted(out, key=repr)


def _codes(col: np.ndarray) -> np.ndarray:
    """Integer column as is; a text column as stable per-value codes."""
    if col.dtype.kind in "iu":
        return col
    return np.array([int.from_bytes(hashlib.md5(str(v).encode()).digest()[:8],
                                    "little", signed=True) for v in col],
                    dtype=np.int64)


class PgClient:
    """Minimal PostgreSQL v3 client: startup, cleartext password, simple
    query with text results."""

    def __init__(self, port: int, user: str, database: str,
                 password: str) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        body = struct.pack("!I", 196608)
        for k, v in (("user", user), ("database", database)):
            body += k.encode() + b"\0" + v.encode() + b"\0"
        body += b"\0"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        t, _ = self._read()
        if t != b"R":
            raise ConnectionError("no authentication request")
        pw = password.encode() + b"\0"
        self.sock.sendall(b"p" + struct.pack("!I", len(pw) + 4) + pw)
        while True:
            t, body = self._read()
            if t == b"E":
                raise ConnectionError(body.decode(errors="replace"))
            if t == b"Z":
                break

    def _recv(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed the connection")
            buf += chunk
        return buf

    def _read(self) -> tuple[bytes, bytes]:
        t = self._recv(1)
        (n,) = struct.unpack("!I", self._recv(4))
        return t, self._recv(n - 4)

    def query(self, sql: str) -> tuple[list[tuple], int]:
        """(rows, response bytes); raises on an ErrorResponse."""
        q = sql.encode() + b"\0"
        self.sock.sendall(b"Q" + struct.pack("!I", len(q) + 4) + q)
        rows, nbytes, err = [], 0, None
        while True:
            t, body = self._read()
            nbytes += 5 + len(body)
            if t == b"D":
                (n,) = struct.unpack("!H", body[:2])
                off, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[off:off + 4])
                    off += 4
                    if ln < 0:
                        vals.append(None)
                    else:
                        vals.append(body[off:off + ln].decode())
                        off += ln
                rows.append(tuple(vals))
            elif t == b"E":
                err = body.decode(errors="replace")
            elif t == b"Z":
                if err:
                    raise RuntimeError(err)
                return rows, nbytes

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
        finally:
            self.sock.close()


class Serve:
    cycle = 1
    block = sum(MIX.values())
    tail_q = 90            # a run holds at least the 100 ops p90 needs

    def __init__(self, ctx) -> None:
        self.eng = ctx.engine
        self.rng = np.random.default_rng([ctx.seed, 12])
        self.mix = random.Random(ctx.seed)
        self.deck = Deck(MIX, ctx.seed)
        self.inputs = os.path.join(ctx.rundir, "inputs")
        self.next_id = N_ORDERS
        self.files = 0
        self.client = self.pg = self.server = self.duck = None

    # ------------------------------------------------------------- setup
    def _csv(self, name: str, cols, header) -> tuple[str, int]:
        path = os.path.join(self.inputs, f"{name}{self.files}.csv")
        self.files += 1
        return path, write_csv(path, header, cols)

    def _duck_load(self, table: str, columns, path: str,
                   verb: str = "INSERT") -> None:
        spec = ", ".join(f"'{c['name']}': '{c['type']}'"
                         for c in columns)
        self.duck.execute(f"{verb} INTO {BUCKET}_{table} SELECT * FROM "
                          f"read_csv('{path}', header=true, "
                          f"columns={{{spec}}})")

    def load(self) -> None:
        from keboola_storage_duckdb_spark.service.app import create_app
        from keboola_storage_duckdb_spark.service.pgwire import PgWireServer

        e, r = self.eng, self.rng
        e.create_project(PROJECT)
        e.create_bucket(PROJECT, BUCKET)
        e.create_table(PROJECT, BUCKET, "orders", ORDERS,
                       primary_key=["order_id"])
        e.create_table(PROJECT, BUCKET, "customers", CUSTOMERS,
                       primary_key=["cust_id"])
        self.duck = duckdb.connect()
        self.duck.execute("SET threads=1")
        for table, columns in (("orders", ORDERS), ("customers", CUSTOMERS)):
            defs = ", ".join(f"{c['name']} {c['type']}"
                             for c in columns)
            self.duck.execute(f"CREATE TABLE {BUCKET}_{table} ({defs}, "
                              f"PRIMARY KEY ({columns[0]['name']}))")
        cust = [np.arange(N_CUSTOMERS),
                [f"r{x}" for x in r.integers(0, 8, N_CUSTOMERS).tolist()],
                r.integers(0, 5, N_CUSTOMERS)]
        path, _ = self._csv("customers", cust,
                            [c["name"] for c in CUSTOMERS])
        e.import_file(PROJECT, BUCKET, "customers", path)
        self._duck_load("customers", CUSTOMERS, path)
        path, _ = self._csv("orders", self._orders(np.arange(N_ORDERS)),
                            [c["name"] for c in ORDERS])
        e.import_file(PROJECT, BUCKET, "orders", path)
        self._duck_load("orders", ORDERS, path)

        self.client = create_app(e).test_client()
        e.create_workspace(WORKSPACE)
        password = e.reset_workspace_password(WORKSPACE)
        self.server = PgWireServer(e, max_connections=4)
        self.server.start()
        self.pg = PgClient(self.server.port, WORKSPACE, PROJECT, password)

    def _orders(self, ids):
        r, n = self.rng, len(ids)
        return [ids, r.integers(0, N_CUSTOMERS, n), r.integers(1, 101, n),
                r.integers(0, 10**6, n),
                [STATUSES[x] for x in r.integers(0, 4, n).tolist()]]

    # --------------------------------------------------------------- ops
    def _sql(self, shape: str) -> str:
        r = self.mix
        if shape == "point":
            k = r.randrange(self.next_id)
            return (f"SELECT {ORDER_COLS} FROM {BUCKET}_orders "
                    f"WHERE order_id = {k}")
        if shape == "agg":
            x = r.randrange(10**6)
            return (f"SELECT status, count(*) AS n, sum(cents) AS s, "
                    f"max(qty) AS mq FROM {BUCKET}_orders WHERE cents > {x} "
                    f"GROUP BY status")
        a = r.randrange(N_ORDERS - JOIN_SPAN)     # always JOIN_SPAN orders
        return (f"SELECT c.region, count(*) AS n, sum(o.qty) AS q "
                f"FROM {BUCKET}_orders o JOIN {BUCKET}_customers c "
                f"ON o.cust_id = c.cust_id "
                f"WHERE o.order_id BETWEEN {a} AND {a + JOIN_SPAN - 1} "
                f"GROUP BY c.region")

    def _compare(self, got, sql: str) -> str | None:
        cur = self.duck.execute(sql)
        names = [d[0] for d in cur.description]
        want = _text_rows(cur.fetchall(), names)
        got = _text_rows(got, names)
        if got != want:
            return (f"{len(got)} rows differ from DuckDB's {len(want)} "
                    f"for: {sql}")
        return None

    def _op(self, kind: str) -> Op:
        c = self.client
        if kind == "import":
            return self._import()
        if kind.startswith("pg."):
            sql = self._sql(kind[3:])
            return Op(kind, lambda: self.pg.query(sql),
                      lambda res: self._compare(res[0], sql),
                      size=lambda res: res[1])
        if kind in ("rest.point", "rest.agg", "rest.join"):
            sql = self._sql(kind[5:])
            return Op(kind, lambda: c.post(f"/projects/{PROJECT}/query",
                                           json={"sql": sql}),
                      lambda resp: self._http(resp) or self._compare(
                          resp.get_json()["rows"], sql),
                      size=lambda resp: len(resp.data))
        if kind == "rest.detail":
            sql = f"SELECT count(*) FROM {BUCKET}_orders"
            return Op(kind, lambda: c.get(f"{TABLES}/orders"),
                      lambda resp: self._http(resp) or self._compare(
                          [(resp.get_json()["row_count"],)], sql),
                      size=lambda resp: len(resp.data))
        a = self.mix.randrange(self.next_id)
        where = f"order_id >= {a} AND order_id < {a + 40}"
        sql = f"SELECT {ORDER_COLS} FROM {BUCKET}_orders WHERE {where}"
        args = {"where": where, "columns": ORDER_COLS, "limit": "100"}
        if kind == "rest.preview":
            return Op(kind, lambda: c.get(f"{TABLES}/orders/preview",
                                          query_string=args),
                      lambda resp: self._http(resp) or self._compare(
                          resp.get_json()["rows"], sql),
                      size=lambda resp: len(resp.data))
        arrow_args = dict(args, format="arrow")
        return Op(kind, lambda: c.get(f"{TABLES}/orders/preview",
                                      query_string=arrow_args),
                  lambda resp: self._http(resp) or self._compare(
                      pa.ipc.open_stream(resp.data).read_all().to_pylist(),
                      sql),
                  size=lambda resp: len(resp.data))

    @staticmethod
    def _http(resp) -> str | None:
        if resp.status_code != 200:
            return f"HTTP {resp.status_code}: {resp.data[:300]!r}"
        return None

    def _import(self) -> Op:
        half = IMPORT_ROWS // 2
        old = self.rng.choice(self.next_id, half, replace=False)
        ids = np.concatenate([old, np.arange(self.next_id,
                                             self.next_id + half)])
        self.next_id += half
        path, nbytes = self._csv("import", self._orders(ids),
                                 [c["name"] for c in ORDERS])

        def run():
            return self.eng.import_file(PROJECT, BUCKET, "orders", path,
                                        incremental=True)

        def check(res):
            self._duck_load("orders", ORDERS, path, "INSERT OR REPLACE")
            os.remove(path)
            want = self.duck.execute(
                f"SELECT count(*) FROM {BUCKET}_orders").fetchone()[0]
            if res["rows_after"] != want:
                return f"orders has {res['rows_after']} rows, DuckDB {want}"
            return None
        return Op("import", run, check, input_bytes=nbytes, writes=True)

    def next_op(self, i: int) -> Op:
        return self._op(self.deck.draw())

    # ------------------------------------------------------------ checks
    def final_checks(self) -> list[str]:
        """Whole-table row count and checksum of both tables, read from
        their parquet files, against DuckDB."""
        errors = []
        for table, columns in (("orders", ORDERS), ("customers", CUSTOMERS)):
            names = [c["name"] for c in columns]
            d = self.eng.catalog.data_dir(PROJECT, BUCKET, table)
            t = pq.read_table(d, columns=names)
            got = [_codes(t.column(k).to_numpy(zero_copy_only=False))
                   for k in names]
            want = self.duck.execute(
                f"SELECT {', '.join(names)} FROM {BUCKET}_{table}"
            ).fetchnumpy()
            want = [_codes(np.asarray(want[k])) for k in names]
            if len(got[0]) != len(want[0]) or \
                    checksum(*got) != checksum(*want):
                errors.append(f"{table}: {len(got[0])} rows / checksum "
                              f"differ from DuckDB's {len(want[0])} rows")
        return errors

    def live_rows(self) -> int:
        return self.next_id + N_CUSTOMERS

    def close(self) -> None:
        if self.pg is not None:
            self.pg.close()
        if self.server is not None:
            self.server.stop()
        if self.duck is not None:
            self.duck.close()
