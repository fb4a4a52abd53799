"""SQL-text fragments for row expressions built as strings.

In PySpark 4.1 every ``Column`` function call crosses into the JVM
about ten times (the ``_with_origin`` wrapper reads the active session
and a conf, sets and clears the call-site origin, and each freed proxy
later costs one more GC command).  A row expression with hundreds of
literals and operators — the ring-explode offset array, the 40-shell
binning tree — therefore costs thousands of py4j round trips to build.
The cell-grid join family writes such expressions as SQL text instead
and hands each projection to Spark in one ``F.expr``/``selectExpr``/
``where`` call; these helpers keep that text exact and safe.
"""

from __future__ import annotations

import math

import numpy as np


def ident(name: str) -> str:
    """Backtick-quote one column name (embedded backticks doubled), so
    any name — dots, spaces, keywords — reads as a single top-level
    column in SQL text and in DDL schema strings."""
    return "`" + name.replace("`", "``") + "`"


def dlit(v: float) -> str:
    """DOUBLE literal that parses back to exactly ``float(v)``:
    Python's repr is the shortest string that round-trips, and the
    ``D`` suffix keeps Spark from reading it as DECIMAL."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"no SQL literal for non-finite {v!r}")
    return repr(v) + "D"


def flit_sql(v: float, dtype: str) -> str:
    """Literal in the kernel dtype; f32 literals are rounded once here."""
    if dtype == "float32":
        return f"CAST({dlit(np.float32(v))} AS FLOAT)"
    return dlit(v)
