"""``wire_sessions``: four closed-loop clients, one per wire door.

Each client holds a session on its door (HS2 Thrift, Postgres wire,
REST in the Kyuubi v1 session flow, line-JSON) and sends its next
statement when the previous reply is in. One statement in 25
reconnects first, which opens a new server session; each client's
first reconnect comes at a seeded index among its first five
statements, so every run has one per client. The reconnect is timed
on its own, not as part of the statement. Statements are drawn from the seed, in this mix:

- 40% point lookups of one order by key;
- 30% filtered aggregates over a seeded date range and segment;
- 20% reads of the catalog table written at set-up, half of them
  ``FOR VERSION AS OF 1``;
- 10% wide scans of ``lineitem`` that the door truncates at its row
  limit.

Every reply is checked against an answer computed from the dataset
with numpy; a truncated scan must return exactly the row limit (and
say ``truncated`` on the JSON doors). An operation is one statement,
timed at the client; each carries a ``/* bench:<id> */`` tag so the
traced run can match it with its server-side spans.
"""

from __future__ import annotations

import concurrent.futures as cf
import datetime as dt
import http.client
import json
import os
import socket
import struct
import threading
import time

import numpy as np
import pyarrow.parquet as pq

DOORS = ("hs2", "pgwire", "rest", "jsonl")
ROW_LIMIT = 500
RECONNECT_EVERY = 25
FIRST_RECONNECT = 5
BLOCK = ("point",) * 4 + ("aggregate",) * 3 + ("catalog",) * 2 + ("scan",)
WARM_STATEMENTS = 4
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
CAT_TABLE = "wire_orders"
# catalog table versions written at set-up: v1 keeps orders whose key
# is divisible by 10, v2 those divisible by 5
CAT_MODULI = {1: 10, 2: 5}
EPOCH = dt.date(1970, 1, 1)


# -- statement generator -------------------------------------------------

class Dataset:
    """The columns the statements touch, as numpy arrays."""

    def __init__(self, sf_dir: str):
        import pyarrow as pa
        import pyarrow.compute as pc

        o = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
        c = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
        self.okey = o["o_orderkey"].to_numpy()
        self.ocust = o["o_custkey"].to_numpy()
        self.ostatus = o["o_orderstatus"].to_pylist()
        self.oprice = o["o_totalprice"].to_numpy()
        self.odate = pc.cast(pc.cast(o["o_orderdate"], pa.date32()), pa.int32()).to_numpy()
        seg_code = {s: i for i, s in enumerate(SEGMENTS)}
        cust_seg = np.full(int(c["c_custkey"].to_numpy().max()) + 1, -1)
        cust_seg[c["c_custkey"].to_numpy()] = [seg_code[s] for s in c["c_mktsegment"].to_pylist()]
        self.oseg = cust_seg[self.ocust]
        self.cents = np.round(self.oprice * 100).astype(np.int64)
        self.date_lo, self.date_hi = int(self.odate.min()), int(self.odate.max())


def statements(ds: Dataset, rng, client: str):
    """Endless statements for one client: each has ``id``, ``kind``,
    ``sql`` and the expected reply (``rows``, or a truncated scan).
    Kinds come in shuffled blocks of ten with the mix's exact counts,
    so a short run sees the same mix whatever the seed."""
    i = 0
    block: list[str] = []
    while True:
        if not block:
            block = list(BLOCK)
            rng.shuffle(block)
        kind = block.pop()
        i += 1
        sid = f"{client}.{i}"
        tag = f"/* bench:{sid} */"
        if kind == "point":
            j = rng.randrange(len(ds.okey))
            k = int(ds.okey[j])
            yield {
                "id": sid, "kind": "point",
                "sql": "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                       f"FROM orders WHERE o_orderkey = {k} {tag}",
                "rows": [[k, int(ds.ocust[j]), ds.ostatus[j], float(ds.oprice[j])]],
            }
        elif kind == "aggregate":
            lo = rng.randrange(ds.date_lo, ds.date_hi - 90)
            hi = lo + rng.randrange(30, 91)
            seg = rng.randrange(len(SEGMENTS))
            m = (ds.odate >= lo) & (ds.odate < hi) & (ds.oseg == seg)
            d_lo = (EPOCH + dt.timedelta(days=lo)).isoformat()
            d_hi = (EPOCH + dt.timedelta(days=hi)).isoformat()
            yield {
                "id": sid, "kind": "aggregate",
                "sql": "SELECT COUNT(*) AS n, "
                       "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents "
                       "FROM orders JOIN customer ON o_custkey = c_custkey "
                       f"WHERE o_orderdate >= DATE'{d_lo}' AND o_orderdate < DATE'{d_hi}' "
                       f"AND c_mktsegment = '{SEGMENTS[seg]}' {tag}",
                "rows": [[int(m.sum()), int(ds.cents[m].sum())]],
            }
        elif kind == "catalog":
            version = 1 if rng.random() < 0.5 else 2
            bound = rng.randrange(1, len(ds.okey))
            m = (ds.okey % CAT_MODULI[version] == 0) & (ds.okey < bound)
            travel = " FOR VERSION AS OF 1" if version == 1 else ""
            yield {
                "id": sid, "kind": "catalog",
                "sql": f"SELECT COUNT(*) AS n, SUM(o_custkey) AS s FROM {CAT_TABLE}{travel} "
                       f"WHERE o_orderkey < {bound} {tag}",
                "rows": [[int(m.sum()), int(ds.ocust[m].sum()) if m.any() else None]],
            }
        else:
            yield {"id": sid, "kind": "scan", "sql": f"SELECT * FROM lineitem {tag}"}


def verify(stmt: dict, rows: list, truncated: bool | None) -> str | None:
    """None when the reply matches the statement's expected answer."""
    if stmt["kind"] == "scan":
        if len(rows) != ROW_LIMIT or truncated is False:
            return f"scan: {len(rows)} rows, truncated={truncated}"
        return None
    want = stmt["rows"]
    if len(rows) != len(want):
        return f"{stmt['kind']}: {len(rows)} rows, want {len(want)}"
    for got_row, want_row in zip(rows, want):
        for got, exp in zip(got_row, want_row):
            if exp is None or got is None:
                ok = exp is None and got is None
            elif isinstance(exp, (int, float)):
                ok = float(got) == float(exp)
            else:
                ok = str(got) == exp
            if not ok:
                return f"{stmt['kind']}: got {got_row}, want {want_row}"
    return None


# -- door clients ----------------------------------------------------------

class Hs2Door:
    def __init__(self, port: int):
        self.port = port
        self.c = None

    def connect(self) -> None:
        from konohadataplatform_spark.hs2 import Hs2Client

        self.c = Hs2Client(self.port, timeout=120.0)
        self.c.open_session()

    def run(self, sql: str):
        _cols, rows = self.c.execute(sql)
        return [list(r) for r in rows], None

    def close(self) -> None:
        if self.c is not None:
            self.c.close()
            self.c = None


class PgDoor:
    """A persistent Postgres simple-query session."""

    def __init__(self, port: int):
        self.port = port
        self.sock = None

    def connect(self) -> None:
        self.sock = socket.create_connection(("127.0.0.1", self.port), timeout=120.0)
        self.f = self.sock.makefile("rwb")
        body = struct.pack(">I", 196608) + b"user\x00bench\x00database\x00spark\x00\x00"
        self.f.write(struct.pack(">I", len(body) + 4) + body)
        self.f.flush()
        self._until_ready()

    def _message(self) -> tuple[bytes, bytes]:
        tag = self.f.read(1)
        if not tag:
            raise ConnectionError("pgwire: connection closed")
        (length,) = struct.unpack(">I", self.f.read(4))
        return tag, self.f.read(length - 4)

    def _until_ready(self) -> None:
        while True:
            tag, payload = self._message()
            if tag == b"E":
                raise ConnectionError(payload)
            if tag == b"Z":
                return

    def run(self, sql: str):
        q = sql.encode("utf-8") + b"\x00"
        self.f.write(b"Q" + struct.pack(">I", len(q) + 4) + q)
        self.f.flush()
        rows, err = [], None
        while True:
            tag, payload = self._message()
            if tag == b"D":
                (n,) = struct.unpack(">H", payload[:2])
                pos, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack(">i", payload[pos:pos + 4])
                    pos += 4
                    row.append(None if ln == -1 else payload[pos:pos + ln].decode())
                    pos += max(ln, 0)
                rows.append(row)
            elif tag == b"E":
                err = payload.decode("utf-8", "replace")
            elif tag == b"Z":
                if err:
                    raise RuntimeError(f"pgwire: {err}")
                return rows, None

    def close(self) -> None:
        if self.sock is not None:
            try:
                self.f.write(b"X" + struct.pack(">I", 4))
                self.f.flush()
            except OSError:
                pass
            self.f.close()
            self.sock.close()
            self.sock = None


class RestDoor:
    """Kyuubi v1 flow: open a session, post statements, read rowsets."""

    def __init__(self, port: int):
        self.port = port
        self.conn = None
        self.sid = None

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        data = None if body is None else json.dumps(body).encode("utf-8")
        self.conn.request(method, path, body=data,
                          headers={"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        doc = json.loads(resp.read().decode("utf-8"))
        if resp.status != 200:
            raise RuntimeError(f"rest {method} {path}: {resp.status} {doc.get('error')}")
        return doc

    def connect(self) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120.0)
        self.sid = self._call("POST", "/api/v1/sessions")["identifier"]

    def run(self, sql: str):
        op = self._call("POST", f"/api/v1/sessions/{self.sid}/operations/statement",
                        {"statement": sql, "limit": ROW_LIMIT})["identifier"]
        doc = self._call("GET", f"/api/v1/operations/{op}/rowset")
        return doc["rows"], doc["truncated"]

    def close(self) -> None:
        if self.conn is not None:
            try:
                self._call("DELETE", f"/api/v1/sessions/{self.sid}")
            finally:
                self.conn.close()
                self.conn = None


class JsonlDoor:
    def __init__(self, port: int):
        self.port = port
        self.sock = None

    def connect(self) -> None:
        self.sock = socket.create_connection(("127.0.0.1", self.port), timeout=120.0)
        self.f = self.sock.makefile("rwb")

    def run(self, sql: str):
        self.f.write(json.dumps({"sql": sql, "limit": ROW_LIMIT}).encode("utf-8") + b"\n")
        self.f.flush()
        doc = json.loads(self.f.readline().decode("utf-8"))
        if not doc.get("ok"):
            raise RuntimeError(f"jsonl: {doc.get('error_class')}: {doc.get('error')}")
        return doc["rows"], doc["truncated"]

    def close(self) -> None:
        if self.sock is not None:
            self.f.close()
            self.sock.close()
            self.sock = None


# -- workload ---------------------------------------------------------------

class WireSessions:
    def __init__(self, ctx):
        self.ctx = ctx
        self.clients = min(len(DOORS), os.cpu_count() or 1)
        self.doors = DOORS[: self.clients]
        self.measured_s = 0.0
        self.reconnect_ms: list[float] = []
        self._rounds = 0
        self._lock = threading.Lock()
        self.servers = []
        self.conns = {}

    def prepare(self, sf_dir: str) -> None:
        self.ds = Dataset(sf_dir)

    def setup(self, sf_dir: str) -> None:
        from konohadataplatform_spark.catalog import SnapshotCatalog
        from konohadataplatform_spark.engine import Engine
        from konohadataplatform_spark.hs2 import Hs2Server
        from konohadataplatform_spark.pgwire import PgWireServer
        from konohadataplatform_spark.restserver import RestSqlServer
        from konohadataplatform_spark.sqlserver import SqlServer
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        wh = os.path.join(self.ctx.workdir, "warehouse")
        eng = Engine(spark, SnapshotCatalog(spark, wh))
        eng.register_star_schema(sf_dir)
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        for version in sorted(CAT_MODULI):
            eng.save_table(CAT_TABLE, orders.filter(F.col("o_orderkey") % CAT_MODULI[version] == 0))
        self.engine = eng
        self.servers = [
            Hs2Server(eng, limit=ROW_LIMIT).start(),
            PgWireServer(eng, limit=ROW_LIMIT).start(),
            RestSqlServer(eng).start(),
            SqlServer(eng).start(),
        ]
        ports = dict(zip(DOORS, (s.port for s in self.servers)))
        kinds = dict(zip(DOORS, (Hs2Door, PgDoor, RestDoor, JsonlDoor)))
        self.conns = {d: kinds[d](ports[d]) for d in self.doors}
        with cf.ThreadPoolExecutor(self.clients) as ex:
            for fut in [ex.submit(c.connect) for c in self.conns.values()]:
                fut.result()

    def teardown(self) -> None:
        for c in self.conns.values():
            c.close()
        for s in self.servers:
            s.stop()
        self.conns, self.servers = {}, []

    def _client(self, door: str, stmts, count: int | None, deadline: float | None,
                offset: int | None, traced: bool) -> list[dict]:
        conn = self.conns[door]
        ops = []
        for stmt in stmts:
            if len(ops) == count or (deadline is not None and time.perf_counter() >= deadline):
                break
            rec = {"op": stmt["id"], "kind": stmt["kind"], "door": door}
            try:
                if offset is not None and len(ops) % RECONNECT_EVERY == offset:
                    t0 = time.perf_counter()
                    conn.close()
                    conn.connect()
                    rec["reconnect_ms"] = (time.perf_counter() - t0) * 1000.0
                t0 = time.perf_counter()
                rec["start_ms"] = time.time() * 1000.0
                rows, truncated = conn.run(stmt["sql"])
                rec["ms"] = (time.perf_counter() - t0) * 1000.0
                rec["rows"] = len(rows)
                err = verify(stmt, rows, truncated)
            except Exception as exc:  # noqa: BLE001 - a failed statement is counted
                rec["ms"] = (time.perf_counter() - t0) * 1000.0 if "start_ms" in rec else 0.0
                err = f"{door} {stmt['kind']}: {type(exc).__name__}: {exc}"[:300]
                try:  # the session may be gone: start a fresh one
                    conn.close()
                    conn.connect()
                except Exception:  # noqa: BLE001 - retried on the next statement
                    pass
            rec["end_ms"] = time.time() * 1000.0
            rec["ok"] = err is None
            if err:
                rec["error"] = err
            ops.append(rec)
        if traced:
            with self._lock:
                self.ctx.tracer.ops.update({o["op"]: o for o in ops})
        return ops

    def _round(self, count: int | None, deadline: float | None, reconnect: bool) -> list[dict]:
        self._rounds += 1
        traced = self.ctx.tracer is not None and self.ctx.tracer.enabled
        jobs = []
        with cf.ThreadPoolExecutor(self.clients) as ex:
            for door in self.doors:
                name = f"r{self._rounds}{door}"
                stmts = statements(self.ds, self.ctx.rng(f"wire.stmts.{name}"), name)
                offset = (self.ctx.rng(f"wire.reconnect.{name}").randrange(FIRST_RECONNECT)
                          if reconnect else None)
                jobs.append(ex.submit(self._client, door, stmts, count, deadline, offset, traced))
            ops = [o for j in jobs for o in j.result()]
        self.reconnect_ms += [o["reconnect_ms"] for o in ops if "reconnect_ms" in o]
        return ops

    def warm(self) -> dict:
        ops = self._round(WARM_STATEMENTS, None, reconnect=False)
        errors = [o["error"] for o in ops if not o["ok"]]
        return {"attempted": len(ops), "failed": len(errors), "errors": errors}

    def measure(self, seconds: float) -> list[dict]:
        t0 = time.perf_counter()
        ops = self._round(None, t0 + seconds, reconnect=True)
        self.measured_s += time.perf_counter() - t0
        return ops

    def facts(self) -> dict:
        return {"reconnect_ms": self.reconnect_ms, "clients": self.clients}
