"""The texthash base hash as an Arrow-vectorized DataFrame column
projection.

``poly_hash_spark`` (functions/texthash.py) is the same hash as an
aggregate-over-transform SQL higher-order function; Spark evaluates HOF
lambdas interpreted per element, so hashing a billion short tokens that
way pays ~2 interpreter steps per character — and call sites that
inline the SQL text into several derived expressions (Count-Min's d
streams, Bloom's k streams) re-evaluate it per stream.
``with_poly_hash_arrow`` instead appends the base hash as ONE numpy
pass per Arrow batch: all values' codepoints concatenate into a single
int64 array (one C-level join + one utf-32 encode per batch, no
per-char Python), each value's polynomial folds with add.reduceat
against POWS, and every int64 product stays < 2^62 so the values are
bit-identical to the SQL forms in Spark and DuckDB (pinned by
test_arrowhash_matches_sql).

NULL hashes to NULL, '' to 0, and only the first MAXLEN codepoints
count — exactly the SQL semantics.

Column-name limit: every hash family's Spark builder (this module, the
minhash/simhash kernels in operators/dedup.py, doc_fingerprint) runs
through ``mapInPandas``, which cannot take a column whose name contains
a dot — PySpark resolves ``df[name]`` as a nested-field access and
raises AnalysisException.  Rename such a column before the call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .sqltext import ident
from .texthash import MAXLEN, P, POWS


def poly_hash_np_vec(values: np.ndarray, max_len: int = MAXLEN) -> np.ndarray:
    """Base hash of an object array of non-null strings -> int64 array.
    Vectorized: one string join + one encode + one reduceat."""
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(s) for s in values), dtype=np.int64, count=n)
    joined = "".join(values)
    cps = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    pows = np.array(POWS[:max_len], dtype=np.int64)
    rel = np.arange(len(cps), dtype=np.int64) - np.repeat(starts, lens)
    contrib = np.where(
        rel < max_len, cps * pows[np.minimum(rel, max_len - 1)], 0
    )
    # reduceat quirk-proofing: an empty string makes consecutive start
    # indices equal (reduceat would return a stray element) and an
    # empty string at the very end would index past the array — append
    # a sentinel 0 and overwrite empties with the expr value (0).
    contrib = np.append(contrib, np.int64(0))
    out = np.add.reduceat(contrib, starts) % P
    out[lens == 0] = 0
    return out


def with_poly_hash_arrow(
    df: DataFrame, col: str, out: str = "_base", max_len: int = MAXLEN
) -> DataFrame:
    """Append ``out`` = texthash base hash of string column ``col`` via
    one mapInPandas pass; every other column passes through.  Raises
    ValueError when ``out`` already names a column of ``df``."""
    if out in df.columns:
        raise ValueError(
            f"with_poly_hash_arrow: output column {out!r} already exists")

    def op(batches):
        for pdf in batches:
            vals = pdf[col].to_numpy()
            mask = pd.notna(vals)
            if mask.all():  # fast path: no per-row Python
                pdf[out] = poly_hash_np_vec(vals, max_len)
            else:
                hashes = pd.array([None] * len(vals), dtype="Int64")
                if mask.any():
                    hashes[mask] = poly_hash_np_vec(vals[mask], max_len)
                pdf[out] = hashes
            yield pdf

    fields = ", ".join(f"{ident(n)} {t}" for n, t in df.dtypes)
    return df.mapInPandas(op, schema=f"{fields}, {ident(out)} long")
