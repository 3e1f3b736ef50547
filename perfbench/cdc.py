"""``cdc_lakehouse``: one closed-loop writer keeps the lakehouse fresh.

Set-up bootstraps ``orders`` and ``customer`` from the dataset into a
fresh ``SnapshotCatalog`` and builds the star pipeline over catalog
reads. The writer then sends operations in rounds of ``ROUND``:

- ``batch``: draw a seeded Debezium envelope batch for ``orders``
  (inserts, key-skewed updates, deletes), apply it with
  ``CdcPipeline.apply_envelopes`` and read the changed keys back
  through ``Engine.sql`` (freshness is the time from the apply's start
  until these rows are in hand); then deliver a seeded earlier batch
  again under its old batch id, which the apply must skip;
- ``delete``: a GDPR-style ``DELETE FROM orders`` of a few customers'
  orders and
- ``merge``: a ``MERGE INTO orders`` price correction, both through
  ``Engine.sql`` of a second session, which routes them to the SQL
  DML layer;
- ``pipeline``: run the star pipeline incrementally over catalog reads.

A run measures whole rounds, so every run has the same mix of
operations. After each operation, outside its timing, its result is
checked against the benchmark's own replay of the envelope stream and
the DML: a batch's read-back keys, a delete's row count, a merge's
prices read back, and a pipeline run's staged row count (which is the
current ``orders`` count) and customer mart totals.

Fixed per-job and per-commit costs dominate: on a 4-core host a
warm batch of 2000 envelopes into sf0.1 ``orders`` costs about the
same as one of 500 into sf0.01, so the table stays at sf0.1.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

from tracing import op_scope

BATCH = 2000
READBACK_KEYS = 64
HOT_KEYS = 1000
# every other pipeline run follows a DELETE, the rest a MERGE. The
# JVM is still warming up after the warm-up (each of the first rounds
# of five operations ran about 1 s faster than the last on a 4-core
# host), so a round is long enough to average over that
ROUND = ("batch", "delete", "batch", "pipeline", "batch", "merge", "batch", "pipeline")
# the warm-up runs each kind of operation once
WARM = ("batch", "delete", "merge", "pipeline")


def warehouse_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Replay:
    """The expected table contents: the bootstrap plus every applied
    envelope and DML statement, applied in stream order."""

    def __init__(self, sf_dir: str):
        o = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pylist()
        c = pq.read_table(os.path.join(sf_dir, "customer.parquet")).to_pylist()
        self.orders = {r["o_orderkey"]: r for r in o}
        self.customers = {r["c_custkey"]: r for r in c}
        self.next_order = max(self.orders) + 1

    def copy(self) -> "Replay":
        new = object.__new__(Replay)
        new.orders = {k: dict(v) for k, v in self.orders.items()}
        new.customers = {k: dict(v) for k, v in self.customers.items()}
        new.next_order = self.next_order
        return new


def _image(row: dict) -> str:
    return json.dumps({
        k: (v.strftime("%Y-%m-%dT%H:%M:%S") if isinstance(v, dt.datetime) else v)
        for k, v in row.items()
    })


def envelope_batch(replay: Replay, rng, clock: list[int], n: int = BATCH) -> tuple[list, set]:
    """``n`` envelopes drawn from ``rng`` and applied to ``replay`` as
    they are drawn. Returns the envelope rows and the changed order
    keys. ``clock`` holds the running ``[ts_ms, lsn]``."""
    keys = list(replay.orders)
    hot = keys[:HOT_KEYS]
    ckeys = list(replay.customers)
    rows, changed = [], set()
    for _ in range(n):
        clock[0] += 1
        clock[1] += 1
        r = rng.random()
        if r < 0.15:
            k = replay.next_order
            replay.next_order += 1
            after = {
                "o_orderkey": k,
                "o_custkey": ckeys[rng.randrange(len(ckeys))],
                "o_orderstatus": "O",
                "o_totalprice": round(rng.uniform(1000.0, 500_000.0), 2),
                "o_orderdate": dt.datetime(2001, 8, 1) - dt.timedelta(days=rng.randrange(30)),
                "o_orderpriority": "3-MEDIUM",
            }
            replay.orders[k] = after
            keys.append(k)
            rows.append(("c", None, _image(after), clock[0], clock[1], "orders"))
        else:
            pool = hot if rng.random() < 0.6 else keys
            k = pool[rng.randrange(len(pool))]
            before = replay.orders.get(k)
            if before is None:  # deleted earlier in the stream
                continue
            if r < 0.25:
                del replay.orders[k]
                rows.append(("d", _image(before), None, clock[0], clock[1], "orders"))
            else:
                after = {**before, "o_orderstatus": "FOP"[rng.randrange(3)],
                         "o_totalprice": round(rng.uniform(1000.0, 500_000.0), 2)}
                replay.orders[k] = after
                rows.append(("u", _image(before), _image(after), clock[0], clock[1], "orders"))
        changed.add(k)
    return rows, changed


class CdcLakehouse:
    clients = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.measured_s = 0.0
        self.n_ops = 0
        self.batches = 0
        self.freshness_ms: list[float] = []
        self.envelopes = 0
        self.envelope_bytes = 0
        self.bytes_written = 0
        self.redelivered = 0
        self.skipped = 0

    def prepare(self, sf_dir: str) -> None:
        self.replay = Replay(sf_dir)

    def setup(self, sf_dir: str) -> None:
        from konohadataplatform_spark.catalog import SnapshotCatalog
        from konohadataplatform_spark.engine import Engine, SessionEngine
        from konohadataplatform_spark.plans.star_models import build_star_pipeline
        from konohadataplatform_spark.sources.star_schema import load_table
        from konohadataplatform_spark.streaming.cdc import CdcPipeline

        spark = self.ctx.spark
        self.wh = os.path.join(self.ctx.workdir, "warehouse")
        cat = SnapshotCatalog(spark, self.wh)
        orders = load_table(spark, sf_dir, "orders")
        customer = load_table(spark, sf_dir, "customer")
        self.cdc = CdcPipeline(spark, cat, {"orders": (orders.schema, ["o_orderkey"])})
        self.cdc.bootstrap("orders", orders)
        cat.write("customer", customer)
        self.star = build_star_pipeline(spark, cat, sf_dir)
        self.catalog = cat
        self.engine = Engine(spark, cat)
        # the DML client has a session of its own, like a separate job
        self.dml_engine = SessionEngine(self.engine)
        self.rng = self.ctx.rng("cdc.stream")
        self.clock = [1_700_000_000_000, 1]
        self.sent: list[tuple[int, list]] = []

    def teardown(self) -> None:
        pass

    # -- operations: each returns its record and its error, if any -----
    def _sql_rows(self, sql: str) -> list:
        return self.engine.sql(sql).collect()

    def _batch(self, op_id: str) -> tuple[dict, str | None]:
        from konohadataplatform_spark.streaming.cdc import ENVELOPE_SCHEMA

        spark = self.ctx.spark
        self.batches += 1
        rows, changed = envelope_batch(self.replay, self.rng, self.clock)
        raw = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
        old_id, old_raw = None, None
        if self.sent:
            old_id, old_rows = self.sent[self.rng.randrange(len(self.sent))]
            old_raw = spark.createDataFrame(old_rows, ENVELOPE_SCHEMA)
        self.sent.append((self.batches, rows))
        sample = sorted(changed)[:: max(1, len(changed) // READBACK_KEYS)]
        want = {k: self.replay.orders[k] for k in sample if k in self.replay.orders}
        want = {k: (w["o_orderstatus"], w["o_totalprice"]) for k, w in want.items()}
        with op_scope(self.ctx.tracer, op_id, "batch") as rec:
            t0 = time.perf_counter()
            self.cdc.apply_envelopes(raw, batch_id=self.batches)
            got = self._sql_rows(
                "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
                f"WHERE o_orderkey IN ({', '.join(map(str, sample))})"
            )
            rec["freshness_ms"] = (time.perf_counter() - t0) * 1000.0
            if old_raw is not None:
                version = self.catalog.current_snapshot("orders").version
                self.cdc.apply_envelopes(old_raw, batch_id=old_id)
                rec["skipped"] = self.catalog.current_snapshot("orders").version == version
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
        rec.update(envelopes=len(rows), envelope_bytes=sum(len(json.dumps(r)) for r in rows),
                   redelivered=old_raw is not None)
        have = {r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"]) for r in got}
        err = self._differs(op_id, have, want)
        if err is None and old_raw is not None and not rec["skipped"]:
            err = f"{op_id}: redelivered batch {old_id} was applied again"
        return rec, err

    def _delete(self, op_id: str) -> tuple[dict, str | None]:
        """A GDPR-style erase of some customers' orders."""
        ckeys = list(self.replay.customers)
        gone = sorted({ckeys[self.rng.randrange(len(ckeys))] for _ in range(5)})
        for k, o in list(self.replay.orders.items()):
            if o["o_custkey"] in gone:
                del self.replay.orders[k]
        sql = f"DELETE FROM orders WHERE o_custkey IN ({', '.join(map(str, gone))})"
        with op_scope(self.ctx.tracer, op_id, "delete") as rec:
            t0 = time.perf_counter()
            self.dml_engine.sql(sql)
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
        return rec, self._check_count(op_id)

    def _merge(self, op_id: str) -> tuple[dict, str | None]:
        """An order price correction, read back afterwards."""
        okeys = list(self.replay.orders)
        picks = sorted({okeys[self.rng.randrange(len(okeys))] for _ in range(20)})
        values = []
        for k in picks:
            price = round(self.rng.uniform(1000.0, 500_000.0), 2)
            self.replay.orders[k]["o_totalprice"] = price
            values.append(f"({k}, CAST({price!r} AS DOUBLE))")
        sql = ("MERGE INTO orders t USING (SELECT * FROM VALUES "
               f"{', '.join(values)} AS v(o_orderkey, o_totalprice)) s "
               "ON t.o_orderkey = s.o_orderkey "
               "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice")
        with op_scope(self.ctx.tracer, op_id, "merge") as rec:
            t0 = time.perf_counter()
            self.dml_engine.sql(sql)
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
        got = self._sql_rows("SELECT o_orderkey, o_totalprice FROM orders "
                             f"WHERE o_orderkey IN ({', '.join(map(str, picks))})")
        have = {r["o_orderkey"]: r["o_totalprice"] for r in got}
        want = {k: self.replay.orders[k]["o_totalprice"] for k in picks}
        return rec, self._differs(op_id, have, want)

    def _pipeline(self, op_id: str) -> tuple[dict, str | None]:
        with op_scope(self.ctx.tracer, op_id, "pipeline") as rec:
            t0 = time.perf_counter()
            self.star.add_source("orders_raw", self.catalog.read("orders"))
            self.star.add_source("customer_raw", self.catalog.read("customer"))
            self.star.run()
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
        n_stg = self._sql_rows("SELECT COUNT(*) AS n FROM stg_orders_star")[0]["n"]
        mart = self._sql_rows(
            "SELECT COUNT(*) AS c, SUM(total_orders) AS n FROM mart_customer_summary_star"
        )[0]
        live = self.replay.customers
        want_orders = sum(1 for o in self.replay.orders.values() if o["o_custkey"] in live)
        if n_stg != len(self.replay.orders):
            return rec, f"{op_id}: staged {n_stg} orders, replay has {len(self.replay.orders)}"
        if (mart["c"], mart["n"]) != (len(live), want_orders):
            return rec, (f"{op_id}: customer mart ({mart['c']}, {mart['n']}), "
                         f"replay ({len(live)}, {want_orders})")
        return rec, None

    @staticmethod
    def _differs(op_id: str, have: dict, want: dict) -> str | None:
        if have == want:
            return None
        k = sorted(k for k in set(have) | set(want) if have.get(k) != want.get(k))[0]
        return f"{op_id}: order {k} reads {have.get(k)}, replay has {want.get(k)}"

    def _check_count(self, op_id: str) -> str | None:
        n = self._sql_rows("SELECT COUNT(*) AS n FROM orders")[0]["n"]
        if n != len(self.replay.orders):
            return f"{op_id}: orders has {n} rows, replay has {len(self.replay.orders)}"
        return None

    def _op(self, kind: str) -> dict:
        """One operation, with the warehouse files it wrote."""
        self.n_ops += 1
        op_id = f"{kind}{self.n_ops}"
        before = warehouse_files(self.wh)
        try:
            rec, err = getattr(self, f"_{kind}")(op_id)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted
            rec = {"op": op_id, "kind": kind, "ms": 0.0}
            err = f"{op_id}: {type(exc).__name__}: {exc}"[:300]
        new = {p: s for p, s in warehouse_files(self.wh).items() if p not in before}
        rec.update(files_written=len(new), bytes_written=sum(new.values()), ok=err is None)
        if err:
            rec["error"] = err
        return rec

    # -- workload interface ----------------------------------------------
    def warm(self) -> dict:
        recs = [self._op(kind) for kind in WARM]
        errors = [r["error"] for r in recs if not r["ok"]]
        return {"attempted": len(recs), "failed": len(errors), "errors": errors}

    def measure(self, seconds: float) -> list[dict]:
        ops = []
        t0 = time.perf_counter()
        last = 0.0
        # a round starts while one more as long as the last still fits
        while not ops or time.perf_counter() - t0 + last < seconds:
            t_round = time.perf_counter()
            ops += [self._op(kind) for kind in ROUND]
            last = time.perf_counter() - t_round
        done = [r for r in ops if r["ok"]]
        batches = [r for r in done if r["kind"] == "batch"]
        self.measured_s += sum(r["ms"] for r in done) / 1000.0
        self.freshness_ms += [r["freshness_ms"] for r in batches]
        self.envelopes += sum(r["envelopes"] for r in batches)
        self.envelope_bytes += sum(r["envelope_bytes"] for r in batches)
        self.bytes_written += sum(r["bytes_written"] for r in done)
        self.redelivered += sum(1 for r in batches if r["redelivered"])
        self.skipped += sum(1 for r in batches if r.get("skipped"))
        return ops

    def facts(self) -> dict:
        cat = self.catalog
        tables = [t for t in cat.tables() if "@" not in t]
        live = sum(cat.data_bytes(t) for t in tables)
        disk = sum(warehouse_files(self.wh).values())
        return {
            "freshness_p50_ms": float(np.median(self.freshness_ms)) if self.freshness_ms else 0.0,
            "changes_per_s": self.envelopes / self.measured_s if self.measured_s else 0.0,
            "write_amp": self.bytes_written / self.envelope_bytes if self.envelope_bytes else 0.0,
            "space_amp": disk / live if live else 0.0,
            "files_live": sum(cat.file_count(t) for t in tables),
            "skip_ratio": self.skipped / self.redelivered if self.redelivered else 0.0,
            "operations": self.n_ops,
        }
