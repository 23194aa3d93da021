"""Correctness checks, run outside the timed regions.

* ``Oracle``: each query's rows against its DuckDB ``oracle_sql()``:
  the same column, row-count and order-insensitive value comparison as
  ``scripts/check_oracle.py``.
* ``pagerank_reference``: an independent single-threaded NumPy power
  iteration with the engine's PageRank semantics (uniform start,
  dangling mass spread evenly, fixed iteration count).
"""

from __future__ import annotations

import os

import numpy as np

RANK_TOL = 1e-6


def normalize(rows, cols) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB over the same parquet tables; answers are computed once."""

    def __init__(self, data_dir: str, tmp_dir: str, tables, sql: dict[str, str]):
        import duckdb

        self.con = duckdb.connect(config={"temp_directory": tmp_dir, "threads": 1})
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.sql = sql
        self._answers: dict[str, tuple[list[str], list]] = {}

    def mismatch(self, name: str, df) -> str | None:
        """None when ``df`` matches the oracle, else what differs."""
        if name not in self._answers:
            cur = self.con.execute(self.sql[name])
            self._answers[name] = ([d[0] for d in cur.description], cur.fetchall())
        dcols, drows = self._answers[name]
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows vs oracle {len(drows)}"
        if normalize(rows, cols) != normalize(drows, dcols):
            return "values differ from oracle"
        return None

    def close(self) -> None:
        self.con.close()


def pagerank_reference(
    src: np.ndarray, dst: np.ndarray, n_iter: int, alpha: float = 0.85
) -> tuple[np.ndarray, np.ndarray]:
    """(vertex ids, ranks) after ``n_iter`` iterations."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: src.size], inv[src.size:]
    n = verts.size
    deg = np.bincount(s, minlength=n)
    dangling = deg == 0
    inv_deg = np.where(dangling, 0.0, 1.0 / np.maximum(deg, 1))
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        sums = np.bincount(d, weights=(rank * inv_deg)[s], minlength=n)
        rank = (1.0 - alpha) / n + alpha * (sums + rank[dangling].sum() / n)
    return verts, rank


def rank_mismatch(pdf, verts: np.ndarray, ref: np.ndarray) -> str | None:
    """None when the (v, rank) frame matches the reference within RANK_TOL."""
    pdf = pdf.sort_values("v")
    v = pdf["v"].to_numpy()
    if v.size != verts.size or not np.array_equal(v, verts):
        return f"{v.size} ranked vertices vs reference {verts.size}"
    err = float(np.max(np.abs(pdf["rank"].to_numpy() - ref)))
    if err > RANK_TOL:
        return f"max rank error {err:.3g} > {RANK_TOL}"
    return None
