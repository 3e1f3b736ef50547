"""Per-layer metrics of a traced run, named after the program's modules.

Each metric is a median over the traced operations (or over the spans
of one layer), and each is listed with the end-to-end metric it should
move, on which workload, in ``README.md``. A layer that does no work
on a workload reports 0.
"""

from __future__ import annotations

import json
import os
import statistics

import tracing

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "session.start_ms": "ms",
    "session.jvm_peak_rss_mb": "MB",
    "spark.job_launch_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "queries.action_ms": "ms",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "deliver.ms": "ms",
    "deliver.rows": "count",
    "engine.sql_ms": "ms",
    "engine.session_open_ms": "ms",
    "door.hs2.overhead_ms": "ms",
    "door.pgwire.overhead_ms": "ms",
    "door.rest.overhead_ms": "ms",
    "door.jsonl.overhead_ms": "ms",
    "catalog.commits": "count",
    "catalog.commit_ms": "ms",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "catalog.files_live": "count",
    "catalog.read_ms": "ms",
    "catalog.write_amp": "ratio",
    "catalog.space_amp": "ratio",
    "cdc.apply_ms": "ms",
    "cdc.skip_ratio": "ratio",
    "cdc.freshness_p50_ms": "ms",
    "cdc.changes_per_s": "1/s",
    "plans.run_ms": "ms",
    "plans.jobs": "count",
    "sqldml.dispatch_ms": "ms",
    "sqldml.commits": "count",
    "trace.overhead_pct": "%",
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _within(t: float, span: dict) -> bool:
    return span["start_ms"] <= t <= span["end_ms"]


def _commits_in(commit_times: list[int], span: dict) -> int:
    """Commits whose time (whole ms) falls inside ``span``."""
    lo, hi = int(span["start_ms"]), span["end_ms"]
    return sum(1 for t in commit_times if lo <= t <= hi)


def per_op_counts(tracer, log: dict) -> dict[str, dict]:
    """Work counts of every traced operation, from the event log and
    the spans: jobs, stages and tasks launched, stage metrics summed,
    catalog commits, files and bytes written."""
    jobs_by_op: dict[str, list[dict]] = {}
    for job in log["jobs"].values():
        if job["op"] is not None:
            jobs_by_op.setdefault(job["op"], []).append(job)
    commit_times = tracer.commit_times()
    out = {}
    for op, rec in tracer.ops.items():
        jobs = jobs_by_op.get(op, [])
        stages = [log["stages"][sid] for j in jobs for sid in j["stage_ids"]
                  if sid in log["stages"]]
        counts = {
            "kind": rec.get("kind"),
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "commits": _commits_in(commit_times, rec) if "end_ms" in rec else 0,
            "files_written": rec.get("files_written", 0),
            "bytes_written": rec.get("bytes_written", 0),
        }
        for key in ("run_ms", "cpu_ns", "gc_ms", "input_bytes", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "python_bytes"):
            counts[key] = sum(st[key] for st in stages)
        ends = [j["end_ms"] for j in jobs if j["end_ms"]]
        counts["last_job_end_ms"] = max(ends) if ends else None
        if "build_end_ms" in rec:
            counts["build_jobs"] = sum(1 for j in jobs if j["submit_ms"] < rec["build_end_ms"])
        out[op] = counts
    return out


def per_layer(tracer, evdir: str, untraced: list[dict], ops: list[dict],
              session_s: float, drift: dict, facts: dict) -> tuple[dict, dict]:
    """The per-layer metrics (name -> (value, unit)) and the per-op
    counts they were computed from."""
    log = tracing.parse_event_log(evdir)
    counts = per_op_counts(tracer, log)
    recs = tracer.ops
    spans: dict[str, list[dict]] = {}
    for s in tracer.spans:
        spans.setdefault(s["layer"], []).append(s)

    def span_ms(layer: str) -> float:
        """Median span inside the traced operations (set-up spans are
        left out, except for session opening, which set-up does)."""
        return _med(s["end_ms"] - s["start_ms"] for s in spans.get(layer, [])
                    if s["op"] is not None or layer == "engine.session_open")

    def over_ops(key: str, scale: float = 1.0) -> float:
        return _med(c[key] * scale for c in counts.values())

    m = {
        "session.start_ms": session_s * 1000.0,
        "session.jvm_peak_rss_mb": facts["jvm_peak_rss_mb"],
        "spark.job_launch_ms": drift["job_launch_ms"],
        "spark.jobs": over_ops("jobs"),
        "spark.stages": over_ops("stages"),
        "spark.tasks": over_ops("tasks"),
        "exec.run_ms": over_ops("run_ms"),
        "exec.cpu_ms": over_ops("cpu_ns", 1e-6),
        "exec.gc_ms": over_ops("gc_ms"),
        "exec.input_bytes": over_ops("input_bytes"),
        "exec.shuffle_read_bytes": over_ops("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": over_ops("shuffle_write_bytes"),
        "exec.spill_bytes": over_ops("spill_bytes"),
        "exec.python_bytes": over_ops("python_bytes"),
        "engine.sql_ms": span_ms("engine.sql"),
        "engine.session_open_ms": span_ms("engine.session_open"),
        "catalog.commits": over_ops("commits"),
        "catalog.commit_ms": span_ms("catalog.write"),
        "catalog.bytes_written": over_ops("bytes_written"),
        "catalog.files_written": over_ops("files_written"),
        "catalog.files_live": facts.get("files_live", 0),
        "catalog.read_ms": span_ms("catalog.read"),
        "catalog.write_amp": facts.get("write_amp", 0.0),
        "catalog.space_amp": facts.get("space_amp", 0.0),
        "cdc.apply_ms": span_ms("cdc.apply"),
        "cdc.skip_ratio": facts.get("skip_ratio", 0.0),
        "cdc.freshness_p50_ms": facts.get("freshness_p50_ms", 0.0),
        "cdc.changes_per_s": facts.get("changes_per_s", 0.0),
        "plans.run_ms": span_ms("plans.run"),
        "sqldml.dispatch_ms": span_ms("sqldml.dispatch"),
    }

    built = [op for op in counts if "build_end_ms" in recs[op]]
    m["queries.build_ms"] = _med(recs[op]["build_end_ms"] - recs[op]["start_ms"] for op in built)
    m["queries.build_jobs"] = _med(counts[op]["build_jobs"] for op in built)
    m["queries.action_ms"] = _med(recs[op]["rows_ms"] - recs[op]["build_end_ms"] for op in built)

    # result delivery: last job end until the rows are in the client's hand
    delivered = [(op, recs[op].get("rows_ms", recs[op].get("end_ms"))) for op in counts
                 if counts[op]["last_job_end_ms"] and "rows" in recs[op]]
    m["deliver.ms"] = _med(t - counts[op]["last_job_end_ms"] for op, t in delivered)
    m["deliver.rows"] = _med(recs[op]["rows"] for op, _t in delivered)

    # doors: client latency minus the server span, which runs from the
    # statement's Engine.sql call to the end of its last job
    sql_start: dict[str, float] = {}
    for s in spans.get("engine.sql", []):
        if s["op"] is not None:
            sql_start.setdefault(s["op"], s["start_ms"])
    for door in ("hs2", "pgwire", "rest", "jsonl"):
        gaps = []
        for op, rec in recs.items():
            if rec.get("door") != door or op not in sql_start or "ms" not in rec:
                continue
            end = counts[op]["last_job_end_ms"] or sql_start[op]
            gaps.append(rec["ms"] - (end - sql_start[op]))
        m[f"door.{door}.overhead_ms"] = _med(gaps)

    # jobs launched inside a layer's spans of the same operation
    def jobs_inside(layer: str) -> float:
        per_span = []
        for s in spans.get(layer, []):
            per_span.append(sum(1 for j in log["jobs"].values()
                                if j["op"] == s["op"] and _within(j["submit_ms"], s)))
        return _med(per_span)

    m["plans.jobs"] = jobs_inside("plans.run")
    commit_times = tracer.commit_times()
    m["sqldml.commits"] = _med(_commits_in(commit_times, s)
                               for s in spans.get("sqldml.dispatch", []) if s["op"] is not None)
    base = _med(o["ms"] for o in untraced if o["ok"])
    traced = _med(o["ms"] for o in ops if o["ok"])
    m["trace.overhead_pct"] = (traced / base - 1.0) * 100.0 if base else 0.0
    return {k: (float(m[k]), unit) for k, unit in METRICS.items()}, counts


def write_counts(path: str, workload: str, counts: dict) -> None:
    """Per-operation counts of one traced run, for ``stability.py``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    keep = ("kind", "jobs", "stages", "tasks", "commits", "files_written", "bytes_written")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"workload": workload,
                   "ops": {op: {k: c[k] for k in keep} for op, c in counts.items()}},
                  fh, indent=1, sort_keys=True)
