"""Result checking for the query workloads.

A result is reduced to a digest: its sorted lower-cased column names,
its row count and a SHA-256 over the canonical row strings, sorted.
Canonicalization follows the repository's own oracle comparison
(``tests/conftest.py``): exact double ``repr``, decimals as doubles,
timestamps to the microsecond, NULL/NaN as ``NULL``.

The DuckDB oracle digests depend only on the dataset and the oracle
SQL, so they are computed once per dataset and cached beside it,
keyed by the SQL text. One oracle is replaced by an exact equivalent:
``q_minhash_dedup``'s oracle is an all-pairs Jaccard self-join that
takes DuckDB about ten minutes at sf0.1, so ``jaccard_pairs`` computes
the same rows with prefix filtering (``tests/test_perfbench.py``
checks the two agree).
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter, defaultdict
from datetime import date, datetime
from decimal import Decimal


def canon(v) -> str:
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon(x) for x in v) + "]"
    if v is None or v != v:  # None / NaN
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def digest(cols: list[str], rows) -> dict:
    """Order-insensitive digest of a result (columns sorted by name)."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return {"cols": sorted(names), "rows": len(lines), "sha256": h.hexdigest()}


def jaccard_pairs(docs, threshold_num: int = 4, threshold_den: int = 5) -> list[tuple]:
    """``q_minhash_dedup``'s oracle rows: every pair of documents whose
    distinct word-3-gram sets have Jaccard similarity at least 4/5, as
    ``(a_id, b_id, jaccard)`` with ``a_id < b_id``. Exact: a pair at or
    over the threshold shares a token within both sets' prefixes
    (rarest tokens first), so only prefix-sharing pairs are scored."""
    sets = {}
    for doc_id, text in docs:
        w = text.strip(" ").split(" ")
        if len(w) >= 3:
            sets[doc_id] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    freq = Counter(t for sh in sets.values() for t in sh)
    index: dict[str, list[int]] = defaultdict(list)
    out = []
    for doc_id in sorted(sets):
        sh = sets[doc_id]
        toks = sorted(sh, key=lambda t: (freq[t], t))
        # |A| - ceil(t * |A|) + 1, in integers
        keep = len(toks) - (threshold_num * len(toks) + threshold_den - 1) // threshold_den + 1
        cands = {o for t in toks[:keep] for o in index[t]}
        for other in cands:
            inter = len(sh & sets[other])
            jac = inter / (len(sh) + len(sets[other]) - inter)
            if jac >= threshold_num / threshold_den:
                out.append((other, doc_id, jac))
        for t in toks[:keep]:
            index[t].append(doc_id)
    return out


def _duckdb(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, f)}')"
            )
    return con


def _oracle_digest(con, name: str, sql: str) -> dict:
    if name == "q_minhash_dedup":
        docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
        return digest(["a_id", "b_id", "jaccard"], jaccard_pairs(docs))
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


def answers(sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Oracle digest per query name, computed on first use and cached
    in ``sf_dir/oracle_digests.json``."""
    from konohadataplatform_spark.queries import all_oracles

    oracles = all_oracles()
    path = os.path.join(sf_dir, "oracle_digests.json")
    cache: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            cache = json.load(fh)
    key = {n: hashlib.sha256(oracles[n].encode("utf-8")).hexdigest() for n in names}
    missing = [n for n in names if cache.get(n, {}).get("sql_sha256") != key[n]]
    if missing:
        con = _duckdb(sf_dir)
        try:
            for n in missing:
                cache[n] = {**_oracle_digest(con, n, oracles[n]), "sql_sha256": key[n]}
        finally:
            con.close()
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[n] for n in names}


def same(a: dict, b: dict) -> bool:
    return (a["cols"], a["rows"], a["sha256"]) == (b["cols"], b["rows"], b["sha256"])
