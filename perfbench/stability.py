#!/usr/bin/env python3
"""Which per-operation counts repeat exactly between two traced runs.

    python3 perfbench/stability.py A.json B.json [B2.json ...]

Each file is a counts file a traced run writes under
``.bench_build/perfbench/counts/``; compare runs of one workload with
one seed, so they run the same operations. For every operation kind
(a query, a statement kind, a kind of CDC operation) and every count (jobs,
stages, tasks, commits, files and bytes written) the report says
whether every operation present in all runs read the same value. A
later change may claim a count only if it is on the exact list.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("jobs", "stages", "tasks", "commits", "files_written", "bytes_written")


def compare(runs: list[dict]) -> dict:
    shared = set.intersection(*(set(r["ops"]) for r in runs))
    values: dict[str, dict[str, set]] = {}
    for op in sorted(shared):
        kind = runs[0]["ops"][op]["kind"]
        for count in COUNTS:
            seen = values.setdefault(f"{kind}:{count}", {})
            seen.setdefault(op, set()).update(r["ops"][op][count] for r in runs)
    exact, unstable = [], {}
    for key, per_op in sorted(values.items()):
        moved = {op: sorted(v) for op, v in per_op.items() if len(v) > 1}
        if moved:
            unstable[key] = moved
        else:
            exact.append(key)
    return {"workload": runs[0]["workload"], "runs": len(runs),
            "operations": len(shared), "exact": exact, "unstable": unstable}


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    runs = []
    for path in argv:
        with open(path, encoding="utf-8") as fh:
            runs.append(json.load(fh))
    if len({r["workload"] for r in runs}) != 1:
        print("stability: the runs are of different workloads", file=sys.stderr)
        return 2
    print(json.dumps(compare(runs), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
