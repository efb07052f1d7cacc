"""Expected registry-query outputs for the seeded tables.

Each query is checked against its DuckDB oracle from
``workloads.all_oracles()``, with one exception:

- ``semdedup``: the oracle's in-cluster pair join is quadratic in DuckDB
  (17 s on the skewed table). The Lloyd assignment still comes from the
  oracle's own CTE chain; the pair step is replayed in NumPy with the
  oracle's arithmetic (per-dimension sums in ascending order, then
  ``dot / (|a| * |b|)``), so it reproduces the SQL bit for bit.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_correctness import normalize  # noqa: E402

TABLES = ("orders", "lineitem", "documents", "embeddings")


def comparable(rows, columns) -> list[list[str]]:
    """``tools/check_correctness.normalize`` as one JSON-safe list: the
    sorted column names, then the sorted stringified rows."""
    cols, out = normalize(rows, columns)
    return [cols] + [list(r) for r in out]


def _connect(sf_dir: str, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET max_temp_directory_size = '512MB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _duckdb(con, sql: str) -> list[list[str]]:
    res = con.execute(sql)
    return comparable(res.fetchall(), [d[0] for d in res.description])


def _semdedup(con) -> list[list[str]]:
    from sentiment_analysis_bigdata_spark.workloads import cluster_q

    assign = con.execute(
        f"WITH {cluster_q.sql_kmeans_ctes(cluster_q.SEM_K)} "
        "SELECT a3.vec_id, a3.cid, e.embedding FROM a3 "
        "JOIN embeddings e USING (vec_id) ORDER BY a3.cid, a3.vec_id"
    ).fetchall()
    by_cid: dict[int, list] = {}
    for vec_id, cid, emb in assign:
        by_cid.setdefault(cid, []).append((vec_id, emb))
    rows = []
    for cid, members in by_cid.items():
        x = np.array([m[1] for m in members], dtype=np.float32).astype(np.float64)
        n, d = x.shape
        dot = np.zeros((n, n))
        sq = np.zeros(n)
        for i in range(d):
            dot += np.multiply.outer(x[:, i], x[:, i])
            sq += x[:, i] * x[:, i]
        norm = np.sqrt(sq)
        denom = np.multiply.outer(norm, norm)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, dot / denom, 0.0)
        # members are sorted by vec_id: pair (a, b) with a < b is the
        # strict upper triangle; b is removed if any such pair passes
        hit = np.triu(cos >= cluster_q.SEM_THRESHOLD, k=1)
        removed = int(hit.any(axis=0).sum())
        rows.append((cid, n, removed, n - removed))
    return comparable(rows, ["cluster_id", "n_points", "n_removed", "n_kept"])


def expected_outputs(sf_dir: str, queries: list[str], tmp_dir: str) -> dict[str, list]:
    """name -> normalized expected rows."""
    from sentiment_analysis_bigdata_spark import workloads

    oracles = workloads.all_oracles()
    os.makedirs(tmp_dir, exist_ok=True)
    con = _connect(sf_dir, tmp_dir)
    out: dict[str, list] = {}
    try:
        for name in queries:
            if name == "semdedup":
                out[name] = _semdedup(con)
            else:
                out[name] = _duckdb(con, oracles[name])
    finally:
        con.close()
    return out
