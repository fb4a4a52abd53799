"""Distance expressions (JVM-side, codegen'd; built as SQL text).

The reference computes squared L2 in float32 via SSE ``_mm_dp_ps``
(``include/objects/RTree/Distance.h:6-26``); for 3 components that
equals left-to-right f32 addition ``(dx2 + dy2) + dz2`` (SURVEY §2.11.3),
which is exactly how both these column expressions and the numpy
kernels accumulate.

Periodic boundary: the reference enumerates shifted halo images
(``src/objects/ArraySTR/MultiRangeCount.c:13-73``); for r_max < box/2
that is equivalent to the min-image convention
``d_axis = min(|a-b|, box-|a-b|)`` — see SURVEY §2.11.5 / FIXTURES §8.
Both strategies are implemented; min-image is the default (1 row per
halo instead of up to 8).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import flit_sql, ident


def _axis_delta_sql(a: str, b: str, box: float, dtype: str, periodic: bool = True) -> str:
    """|a - b| on one axis (min-image when periodic) as SQL text over
    column names ``a`` and ``b``."""
    d = f"abs({ident(a)} - {ident(b)})"
    if not periodic:
        return d
    return f"least({d}, {flit_sql(box, dtype)} - {d})"


def squared_distance_sql(
    h_cols: tuple[str, str, str],
    p_cols: tuple[str, str, str],
    box: float,
    dtype: str = "float32",
    periodic: bool = True,
) -> str:
    """((dx*dx + dy*dy) + dz*dz) in the kernel dtype, as SQL text."""
    dx, dy, dz = (
        _axis_delta_sql(h, p, box, dtype, periodic)
        for h, p in zip(h_cols, p_cols)
    )
    return f"(({dx} * {dx}) + ({dy} * {dy})) + ({dz} * {dz})"


def squared_distance_expr(
    h_cols: tuple[str, str, str],
    p_cols: tuple[str, str, str],
    box: float,
    dtype: str = "float32",
    periodic: bool = True,
) -> Column:
    """squared_distance_sql wrapped in one ``F.expr`` Column."""
    return F.expr(squared_distance_sql(h_cols, p_cols, box, dtype, periodic))


def squared_distance_np(
    H: np.ndarray, P: np.ndarray, box: float, periodic: bool = True
) -> np.ndarray:
    """(m,3) x (n,3) -> (m,n) squared distances, dtype preserved (f32-safe)."""
    dt = H.dtype.type
    out = None
    for a in range(3):
        d = np.abs(H[:, a : a + 1] - P[None, :, a])
        if periodic:
            np.minimum(d, dt(box) - d, out=d)
        sq = d * d
        out = sq if out is None else out + sq  # (dx2+dy2)+dz2 order
    return out
