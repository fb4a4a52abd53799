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


# lookup buckets per binade of d2 (2^3): one bucket is at most 1/8 of
# its binade wide, so edges more than ~13% apart in d2 — 40 log-spaced
# shells over r_max/5000..r_max are 55% apart — need one compare each
_BIN_SUB_BITS = 3


def shell_binner(r2_edges: np.ndarray):
    """-> ``bin(d2)``: the first-match shell of each d2, equal by
    construction to ``np.searchsorted(r2_edges, d2, side="right")`` for
    every non-NaN d2 of the edges' dtype (f32 or f64), -0.0, subnormals
    and d2 at or above the last edge (== len(r2_edges), "drop")
    included; int32.

    A lookup table indexed by the float's bit pattern (its int32 /
    int64 view, shifted so each bucket is 1/8 of a binade) holds
    ``base``, the number of edges <= the bucket's smallest value;
    the few edges inside a bucket are then counted by ``m`` compares
    ``d2 >= next_j``, where ``next_j`` is the bucket's j-th following
    edge (NaN past the last edge, so the compare is False).  Edges
    above the bucket's largest value compare False too, so one ``m``
    (the most edges any bucket holds, 1 for log-spaced shells) serves
    every bucket.  Two gathers from a table of a few KB, one compare
    and one add per element, against searchsorted's ~log2(n) dependent
    branches: 2.4 against 10.4 ms per 1M f32 d2 at 40 shells (one
    thread).  Building the table costs ~0.2 ms (f32, 4,096 buckets) or
    ~1 ms (f64, 32,768), once per kernel call."""
    r2 = np.asarray(r2_edges)
    if r2.dtype not in (np.float32, np.float64):
        r2 = r2.astype(np.float64)
    dt = r2.dtype.type
    it, ut = (np.int32, np.uint32) if dt is np.float32 else (np.int64, np.uint64)
    shift = np.finfo(dt).nmant - _BIN_SUB_BITS
    # bucket i holds the bit patterns i << shift ..; a negative float's
    # arithmetic shift is i - len(base), which np.take wraps back to i
    b = np.arange(1 << (8 * r2.itemsize - shift), dtype=ut) << ut(shift)
    lo, hi = b.view(dt), (b | ut((1 << shift) - 1)).view(dt)
    with np.errstate(invalid="ignore"):
        # negative buckets run downwards; NaN buckets bin to len(r2)
        vmin, vmax = np.fmin(lo, hi), np.fmax(lo, hi)
    base = np.searchsorted(r2, vmin, side="right")
    m = int((np.searchsorted(r2, vmax, side="right") - base).max())
    pad = np.concatenate([r2, np.full(m, np.nan, dtype=dt)])
    nxt = [pad[base + j] for j in range(m)]
    base = base.astype(np.int32)

    def bin_(d2: np.ndarray) -> np.ndarray:
        if d2.dtype != r2.dtype:
            raise TypeError(f"d2 is {d2.dtype}, the edges {r2.dtype}")
        k = (d2.view(it) >> shift).astype(np.intp, copy=False)
        out = np.take(base, k)
        for t in nxt:
            out += d2 >= np.take(t, k)
        return out

    return bin_


def shell_index_np(d2: np.ndarray, r2_edges: np.ndarray) -> np.ndarray:
    """Vectorized first-match bin; == len(r2_edges) means "drop".
    ``shell_binner`` in the common dtype of `d2` and the edges."""
    d2, r2 = np.asarray(d2), np.asarray(r2_edges)
    t = np.result_type(d2, r2)
    if t != np.float32:
        t = np.float64
    return shell_binner(r2.astype(t))(d2.astype(t, copy=False))
