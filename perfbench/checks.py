"""Correctness checks, computed apart from the engine and run outside the
timed region. Each returns a list of failure messages (empty = pass)."""

from __future__ import annotations

import importlib.util
import math
import os

import numpy as np


def numpy_lloyd(pts: np.ndarray, k: int, max_iter: int, tol: float):
    """Lloyd's with the reference semantics: first-K init in line order,
    argmin over sqrt distances with ties to the lowest index, per-cluster
    mean, empty clusters dropped (K shrinks, ids renumber in old-id
    order), stop when the id-matched max move is <= tol. Returns
    ``(centroids, iterations, converged, history)``."""
    cents = pts[:k].copy()
    history = []
    converged = False
    iterations = 0
    for _ in range(max_iter):
        iterations += 1
        d = np.sqrt(
            ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        )
        assign = np.argmin(d, axis=1)
        new = np.array(
            [pts[assign == j].mean(axis=0) for j in range(len(cents))
             if np.any(assign == j)]
        )
        history.append(new)
        if len(new) == len(cents):
            move = float(np.sqrt(((new - cents) ** 2).sum(axis=1)).max())
            cents = new
            if move <= tol:
                converged = True
                break
        else:
            cents = new
    return cents, iterations, converged, history


def wssse(pts: np.ndarray, cents: np.ndarray) -> float:
    d2 = ((pts[:, None, :] - np.asarray(cents)[None, :, :]) ** 2).sum(axis=2)
    return float(d2.min(axis=1).sum())


def wssse_non_increasing(pts: np.ndarray, history) -> list[str]:
    vals = [wssse(pts, np.asarray(h)) for h in history]
    bad = [
        (i, a, b) for i, (a, b) in enumerate(zip(vals, vals[1:]))
        if b > a * (1 + 1e-9) + 1e-9
    ]
    return [f"WSSSE rose along history at step {i}: {a} -> {b}"
            for i, a, b in bad]


def lloyd_matches(result, pts: np.ndarray, k: int, max_iter: int,
                  tol: float, centroids_txt: str,
                  numpy_result=None) -> list[str]:
    """The engine's reference run against numpy Lloyd's: same iteration
    count, centroids within 1e-6, ``centroids.txt`` equal to the ``%.4f``
    lines of the returned centroids, WSSSE non-increasing."""
    errs = []
    want, iters, _, _ = numpy_result or numpy_lloyd(pts, k, max_iter, tol)
    got = np.asarray(result.centroids, dtype=np.float64)
    if result.iterations != iters:
        errs.append(f"iterations {result.iterations} != numpy {iters}")
    if got.shape != want.shape:
        errs.append(f"centroid shape {got.shape} != numpy {want.shape}")
    elif float(np.abs(got - want).max()) > 1e-6:
        errs.append(f"centroids differ from numpy by {np.abs(got - want).max()}")
    with open(centroids_txt) as f:
        lines = f.read().splitlines()
    if lines != result.formatted():
        errs.append("centroids.txt differs from the returned centroids")
    errs += wssse_non_increasing(pts, result.history)
    return errs


def fit_properties(result, vecs: np.ndarray, tol: float) -> list[str]:
    """``production_fit``: WSSSE non-increasing along the history and, when
    the fit reports convergence, each centroid within tol of the mean of
    the points nearest to it."""
    errs = wssse_non_increasing(vecs, result.history)
    if result.converged:
        cents = np.asarray(result.centroids, dtype=np.float64)
        d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for j, c in enumerate(cents):
            members = vecs[assign == j]
            if len(members) == 0:
                errs.append(f"converged centroid {j} has no nearest points")
                continue
            move = math.dist(c, members.mean(axis=0))
            if move > tol + 1e-9:
                errs.append(f"centroid {j} is {move} from its points' mean")
    return errs


def _oracle_utils(repo_root: str):
    """The test suite's DuckDB oracle harness (tests/oracle_utils.py), so
    the benchmark compares rows exactly as the oracle tests do."""
    path = os.path.join(repo_root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("kmce_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over one directory of generated parquet tables."""

    def __init__(self, repo_root: str, data_dir: str):
        self.utils = _oracle_utils(repo_root)
        self.con = self.utils.duckdb_connection(data_dir)

    def rows(self, sql: str):
        return self.utils.canonical_rows(self.con.execute(sql).fetchdf())

    def compare(self, name: str, sql: str, columns, rows) -> list[str]:
        """Engine rows (collected ``Row`` tuples) against the oracle SQL
        under the canonical row comparison."""
        import pandas as pd

        want_df = self.con.execute(sql).fetchdf()
        got_df = pd.DataFrame.from_records(
            [tuple(r) for r in rows], columns=list(columns)
        )
        if sorted(got_df.columns) != sorted(want_df.columns):
            return [f"{name}: columns {sorted(got_df.columns)} != "
                    f"{sorted(want_df.columns)}"]
        got = self.utils.canonical_rows(got_df)
        want = self.utils.canonical_rows(want_df)
        if got != want:
            diff = sum(1 for a, b in zip(got, want) if a != b)
            return [f"{name}: {len(got)} rows vs oracle {len(want)}, "
                    f"{diff} differ"]
        return []

    def close(self):
        self.con.close()
