"""Shell-edge construction and first-match binning.

Reference parity (see SURVEY.md §2.7 F1/F2 and §2.2 P6):
* edges: ``Logspace(base=2, log2(min), log2(max), n)`` with the last
  entry pinned exactly to ``2^log2(max)``, stored float32
  (reference ``include/support_functions.h:18-34``,
  ``src/astr_rcount/main.c:646``);
* edges are pre-squared so the probe compares d^2 vs r^2, no sqrt
  (``src/astr_rcount/main.c:648-649``);
* binning is strict-``<`` first-match on ascending squared edges:
  shell i == first i with d2 < r2[i]; d2 >= r2[-1] drops the pair
  (``src/objects/ArraySTR/MultiRangeCount.c:103-114``).
"""

from __future__ import annotations

import numpy as np

from .sqltext import dlit, ident


def logspace_edges(rmin: float, rmax: float, n: int, dtype: str = "float32") -> np.ndarray:
    """Log2-spaced shell edges, last entry pinned to 2**log2(rmax)."""
    if n < 1:
        raise ValueError("need at least one shell edge")
    lo, hi = np.log2(rmin), np.log2(rmax)
    np_dtype = np.float32 if dtype == "float32" else np.float64
    e = np.logspace(lo, hi, n, base=2.0).astype(np_dtype)
    e[-1] = np_dtype(2.0**hi)  # the reference pins the last edge exactly
    if not np.all(np.diff(e) > 0):
        raise ValueError("shell edges must be strictly ascending")
    return e


def squared_edges(edges: np.ndarray) -> np.ndarray:
    """Square edges in their own dtype (float32 multiply for f32 edges)."""
    e = np.asarray(edges)
    return (e * e).astype(e.dtype)


def shell_index_expr(d2_name: str, r2_edges: np.ndarray) -> str:
    """Binary-search CASE tree over column ``d2_name``, as SQL text:
    first-match bin, NULL when d2 >= r2[-1].

    Semantically identical to the reference's linear first-match scan
    (strict ``<`` on ascending squared edges) but evaluates ceil(log2 n)
    comparisons per row instead of up to n — at 40 shells and 10^8+
    surviving pairs the linear chain is the hottest expression in the
    plan.  All edge literals are exact float64 widenings of the
    (possibly f32) edge values (``dlit`` round-trips them), so each
    ``d2 < edge`` decides exactly as the reference's f32 comparison.
    Returned as text so the whole tree costs one ``selectExpr`` call;
    as ``F.when`` Columns every node costs about ten py4j round trips
    (see functions/sqltext.py).
    """
    d2 = ident(d2_name)
    r2 = [dlit(v) for v in np.asarray(r2_edges)]

    def build(lo: int, hi: int) -> str:
        # invariant: d2 < r2[hi] already established (or hi == len(r2)
        # meaning "maybe out of range" -> NULL branch)
        if lo == hi:
            return str(lo) if hi < len(r2) else "CAST(NULL AS INT)"
        mid = (lo + hi) // 2
        return (f"CASE WHEN {d2} < {r2[mid]} THEN {build(lo, mid)} "
                f"ELSE {build(mid + 1, hi)} END")

    return build(0, len(r2))


def shell_index_np(d2: np.ndarray, r2_edges: np.ndarray) -> np.ndarray:
    """Vectorized first-match bin; == len(r2_edges) means "drop"."""
    return np.searchsorted(np.asarray(r2_edges), d2, side="right")
