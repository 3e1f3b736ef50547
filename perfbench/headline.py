"""``headline``: one closed-loop client runs the frozen headline set.

Each pass runs the 11 queries of ``bench.py``'s frozen ``HEADLINE``
list in an order drawn from the seed, and the client collects every
full result: scan, join, aggregate, window and result delivery do the
work, with no wire door and no write. An operation is one query; a
run measures whole passes, so every run has the same mix of queries.
Per-query planning and job costs dominate: on a 4-core host a warm
pass takes about 8 s at sf0.01 and 13 to 20 s at sf0.1. The measured
dataset is sf0.01 by default, so a pass fits in a 10 s run
(``--sf 0.1`` measures the larger one).

The warm-up pass runs the queries four at a time on the measured
dataset, which compiles their plans and warms the JVM's hot paths in
less time than one cold sequential pass (about 13 s against 20 s at
sf0.01 on a 4-core host). Every result of the warm-up and the timed passes is
checked against its oracle digest, after the query's timing ends. A pass starts while another
one as long as the last still ends within ``--seconds`` (the first
always starts), and a started pass runs to its end.
"""

from __future__ import annotations

import concurrent.futures as cf
import time

import oracle
from tracing import now_ms, op_scope

# bench.py's frozen HEADLINE list, copied so this workload stays the
# same whatever happens to the bench script
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_customer_order_summary",
    "q_daily_order_metrics",
    "q_events_sessionize",
    "q_doc_exact_dedup",
    "q_minhash_dedup",
    "q_knn_bruteforce",
]


class Headline:
    clients = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng("headline.order")
        self.passes = 0
        self.measured_s = 0.0

    def prepare(self, sf_dir: str) -> None:
        self.answers = oracle.answers(sf_dir, HEADLINE)

    def setup(self, sf_dir: str) -> None:
        from konohadataplatform_spark.queries import all_queries

        queries = all_queries()
        self.sf_dir = sf_dir
        self.queries = {n: queries[n] for n in HEADLINE}

    def teardown(self) -> None:
        pass

    def _run(self, name: str, op_id: str) -> dict:
        """One query, timed until its rows are in hand, then checked."""
        try:
            with op_scope(self.ctx.tracer, op_id, name) as rec:
                t0 = time.perf_counter()
                df = self.queries[name](self.ctx.spark, self.sf_dir)
                rec["build_end_ms"] = now_ms()
                rows = df.collect()
                rec["rows_ms"] = now_ms()
                rec["ms"] = (time.perf_counter() - t0) * 1000.0
                rec["rows"] = len(rows)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted
            return {"op": op_id, "kind": name, "ok": False, "ms": 0.0,
                    "error": f"{name}: {type(exc).__name__}: {exc}"[:300]}
        rec["ok"] = oracle.same(oracle.digest(df.columns, rows), self.answers[name])
        if not rec["ok"]:
            rec["error"] = f"{name}: result differs from the oracle"
        return rec

    def warm(self) -> dict:
        # four at a time: the warm-up mostly compiles plans, which the
        # host's cores can do side by side
        with cf.ThreadPoolExecutor(4) as ex:
            recs = list(ex.map(lambda n: self._run(n, f"warm.{n}"), HEADLINE))
        errors = [r["error"] for r in recs if not r["ok"]]
        return {"attempted": len(recs), "failed": len(errors), "errors": errors}

    def measure(self, seconds: float) -> list[dict]:
        ops = []
        t0 = time.perf_counter()
        last = 0.0
        # a pass starts while one more as long as the last still fits
        while not ops or time.perf_counter() - t0 + last < seconds:
            t_pass = time.perf_counter()
            self.passes += 1
            order = list(HEADLINE)
            self.rng.shuffle(order)
            ops += [self._run(name, f"p{self.passes}.{name}") for name in order]
            last = time.perf_counter() - t_pass
        self.measured_s += sum(o["ms"] for o in ops if o["ok"]) / 1000.0
        return ops

    def facts(self) -> dict:
        return {"passes": self.passes}

