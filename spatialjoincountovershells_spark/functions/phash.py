"""phash <-> quantized-position codec.

The graft's images table carries the particle position quantized into
the ``phash:int64`` column: ``(qx << 32) | (qy << 16) | qz`` with
``q* = uint16``.  Decoding is the direct analog of the reference's
``decodeCompressedParticle`` (``src/Gadget/BufVector3D.c:168-201``) —
dequantize a uint16 grid coordinate to a float32 position in [0, box).

``SCALE = box / 65536`` is exact in binary for box=1000
(1000/65536 == 125/8192), so decoded coordinates are exact float32
values — numpy and Spark agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .sqltext import dlit, ident

BOX = 1000.0
SCALE = BOX / 65536.0  # exact binary fraction


def decode_phash(
    df: DataFrame,
    col: str = "phash",
    out: tuple[str, str, str] = ("x", "y", "z"),
    dtype: str = "float32",
) -> DataFrame:
    """Add x/y/z position columns decoded from phash — pure JVM exprs,
    built as SQL text in one ``selectExpr`` (one py4j call instead of
    ~10 per Column op).  An existing column named like an output (by
    the session's case rule) is replaced in place, as ``withColumn``
    would."""
    t = "FLOAT" if dtype == "float32" else "DOUBLE"
    p = ident(col)
    bits = (f"shiftright({p}, 32)", f"shiftright({p}, 16)", p)
    fold = (str.lower if df.sparkSession.conf.get("spark.sql.caseSensitive")
            == "false" else str)
    q = {fold(name): f"CAST(({b} & 65535) AS {t}) * "
                     f"CAST({dlit(SCALE)} AS {t}) AS {ident(name)}"
         for name, b in zip(out, bits)}
    if not q.keys() & {fold(c) for c in df.columns}:
        return df.selectExpr("*", *q.values())
    keep = [q.pop(fold(c), ident(c)) for c in df.columns]
    return df.selectExpr(*keep, *q.values())


def decode_phash_np(phash: np.ndarray, dtype=np.float32) -> np.ndarray:
    """(n,) int64 -> (n,3) positions; numpy mirror of decode_phash."""
    p = phash.astype(np.int64)
    q = np.stack([(p >> 32) & 0xFFFF, (p >> 16) & 0xFFFF, p & 0xFFFF], axis=1)
    return q.astype(dtype) * dtype(SCALE)


def encode_phash_np(pos: np.ndarray) -> np.ndarray:
    """(n,3) positions in [0, BOX) -> (n,) int64 phash (quantize 16 bit)."""
    q = np.clip((np.asarray(pos, dtype=np.float64) / SCALE), 0, 65535).astype(np.int64)
    return (q[:, 0] << 32) | (q[:, 1] << 16) | q[:, 2]
