"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The generator tests are fast; the smoke test runs every workload at
sf0.001, traced and untraced, and takes a few minutes.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import cdc  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import wire  # noqa: E402

SF = 0.001


@pytest.fixture(scope="module")
def sf_dir():
    return datagen.ensure_dataset(os.path.join(run.BUILD, "data"), SF)


def _ctx(seed: int, sf_dir: str) -> run.Context:
    return run.Context(None, sf_dir, seed, None, None)


def _statements(seed: int, sf_dir: str) -> bytes:
    ds = wire.Dataset(sf_dir)
    stmts = {door: list(itertools.islice(
        wire.statements(ds, _ctx(seed, sf_dir).rng(f"wire.stmts.{door}"), door), 200))
        for door in wire.DOORS}
    return json.dumps(stmts, sort_keys=True).encode()


def _envelopes(seed: int, sf_dir: str) -> bytes:
    replay = cdc.Replay(sf_dir)
    rng = _ctx(seed, sf_dir).rng("cdc.stream")
    clock = [0, 0]
    batches = [cdc.envelope_batch(replay, rng, clock, n=300)[0] for _ in range(3)]
    return json.dumps(batches).encode()


def test_tables_are_deterministic():
    a, b = datagen.build_tables(SF), datagen.build_tables(SF)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    other = datagen.build_tables(SF, seed=datagen.DATA_SEED + 1)
    assert not other["lineitem"].equals(a["lineitem"])


@pytest.mark.parametrize("stream", [_statements, _envelopes], ids=["statements", "envelopes"])
def test_streams_follow_the_seed(stream, sf_dir):
    assert stream(1, sf_dir) == stream(1, sf_dir)
    assert stream(1, sf_dir) != stream(2, sf_dir)


def test_jaccard_pairs_match_the_duckdb_oracle(sf_dir):
    from konohadataplatform_spark.queries import all_oracles

    con = oracle._duckdb(sf_dir)
    try:
        cur = con.execute(all_oracles()["q_minhash_dedup"])
        want = oracle.digest([d[0] for d in cur.description], cur.fetchall())
        docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    finally:
        con.close()
    got = oracle.digest(["a_id", "b_id", "jaccard"], oracle.jaccard_pairs(docs))
    assert want["rows"] > 0
    assert oracle.same(got, want)


def test_bare_directory_fails(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files, the
    benchmark exits non-zero and prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "headline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--sf", str(SF)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0, proc.stdout[-2000:]
    assert sorted(result["metrics"]) == sorted(names)
