"""SQL-derivable string hashing shared by dedup/text operators and
their DuckDB oracles.

Spark's native ``xxhash64`` has no ANSI-SQL twin, so every operator
that hashes strings (MinHash, SimHash, LSH band keys, winnowing
fingerprints) uses this family instead:

* base hash   H(s) = (sum_j codepoint(s[j]) * B^j mod P) mod P over the
  first MAXLEN codepoints, P = 2^31 - 1 (Mersenne), B = 1000003.
  Codepoints past the end of the string contribute 0 (zero padding).
* streams     h_i(x) = (a_i * x + c_i) mod P — the classic universal
  affine family; (a_i, c_i) derive from splitmix64(i) so every engine
  can inline them as literals.
* band keys   K(v_0..v_{r-1}) = sum_j ((v_j * B2^j mod P) mod P) mod P.

Every intermediate stays below 2^62, so plain int64 arithmetic is
exact in Spark SQL (ANSI-safe), DuckDB, and numpy — three engines,
identical values.  That is what lets the driver's hash-comparing
correctness gate check these operators at all.  31-bit hashes are the
classic MinHash configuration; LSH band keys only need to separate
unequal signatures whp and candidates are verified downstream.
"""

from __future__ import annotations

import numpy as np

from ..sources.synth import splitmix64

P = 2_147_483_647  # 2^31 - 1
B = 1_000_003
B2 = 1_000_033
MAXLEN = 64  # codepoints hashed per string (prefix cap)

POWS = [1] * MAXLEN
for _j in range(1, MAXLEN):
    POWS[_j] = (POWS[_j - 1] * B) % P
POW2S = [1] * MAXLEN
for _j in range(1, MAXLEN):
    POW2S[_j] = (POW2S[_j - 1] * B2) % P


def affine_consts(i: int) -> tuple[int, int]:
    """Deterministic (a_i, c_i) for stream i, a_i in [1, P-1], c_i in [0, P-1]."""
    a = 1 + int(splitmix64(np.uint64(2 * i))) % (P - 1)
    c = int(splitmix64(np.uint64(2 * i + 1))) % P
    return a, c


def affine_sql(base: str, i: int) -> str:
    """h_i(base) as SQL — identical text works in Spark SQL and DuckDB."""
    a, c = affine_consts(i)
    return f"(({a} * {base} + {c}) % {P})"


# ------------------------------------------------------------------ base hash

def poly_hash_spark(col: str, max_len: int = MAXLEN) -> str:
    """Variable-length base hash as a Spark SQL expression (codegen'd).

    greatest(..., 1) keeps the sequence ascending for empty strings
    (Spark's sequence(1, 0) would DESCEND); the j=1 term is then
    ascii('') = 0, so empty hashes to 0 in every engine.
    """
    arr = ", ".join(f"{p}L" for p in POWS[:max_len])
    return (
        f"(aggregate(transform(sequence(1, greatest(least(length({col}), {max_len}), 1)), "
        f"j -> ascii(substring({col}, j, 1)) * element_at(array({arr}), j)), "
        f"0L, (a, x) -> a + x) % {P})"
    )


def poly_hash_duck(col: str, max_len: int = MAXLEN) -> str:
    """Same hash as DuckDB SQL (ord() returns -1 past the end -> guard)."""
    arr = "[" + ", ".join(f"{p}::BIGINT" for p in POWS[:max_len]) + "]"
    return (
        f"(CAST(list_sum(list_transform(generate_series(1, greatest(least(length({col}), {max_len}), 1)), "
        f"j -> (CASE WHEN j <= length({col}) THEN ord(substr({col}, j, 1)) ELSE 0 END)::BIGINT "
        f"* ({arr})[j])) % {P} AS BIGINT))"
    )


def poly_hash_fixed_duck(col: str, n: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {j + 1} <= length({col}) THEN ord(substr({col}, {j + 1}, 1)) ELSE 0 END)::BIGINT"
        f" * {POWS[j]}::BIGINT"
        for j in range(n)
    )
    return f"(({terms}) % {P})"


def poly_hash_np(strings, max_len: int = MAXLEN) -> np.ndarray:
    """numpy mirror (tests / oracles): same values as the SQL forms."""
    out = np.zeros(len(strings), dtype=np.int64)
    pows = np.array(POWS, dtype=np.int64)
    for i, s in enumerate(strings):
        cps = np.array([ord(ch) for ch in str(s)[:max_len]], dtype=np.int64)
        out[i] = int((cps * pows[: len(cps)]).sum() % P)
    return out


def shingle_array_sql(col: str, n: int) -> str:
    """All character n-gram shingles of `col` as one SQL array expr —
    the single source of truth for the shingle window (note the
    greatest(..., 1) pinning: an empty/short string yields exactly ONE
    possibly-short shingle).  Used by dedup.shingles and, in spirit,
    the oracle _shingle_cte — two places that MUST stay in lockstep for
    the DuckDB hash checks."""
    return (
        f"transform(sequence(1, greatest(length({col}) - {n - 1}, 1)), "
        f"i -> substring({col}, i, {n}))"
    )


# ------------------------------------------------------------------ band keys

def band_key_sql(cols: list[str]) -> str:
    """Combine r signature values (< P) into one bucket key — same text
    in Spark SQL and DuckDB; per-term mod keeps everything < 2^62."""
    terms = " + ".join(
        f"(({c} * {POW2S[j]}) % {P})" for j, c in enumerate(cols)
    )
    return f"(({terms}) % {P})"
