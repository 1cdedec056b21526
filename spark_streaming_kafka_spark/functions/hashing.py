"""Deterministic, engine-portable hashing primitives.

MinHash / SimHash / fingerprinting need a token→integer hash that is (a)
computed JVM-side (no Python in the hot path) and (b) reproducible outside
Spark so the DuckDB oracle can verify results value-for-value. Spark's
``hash()``/``xxhash64()`` are fast but Spark-specific; ``md5`` exists in
both engines with identical output, so the portable primitive is:

    md5_long(s) = int(hex_prefix_15(md5(s)), 16)   ∈ [0, 2^60)

15 hex digits keep the value comfortably inside a signed 64-bit range in
both engines (DuckDB: ``('0x' || substr(md5(s),1,15))::BIGINT``).

At 100 TB scale md5-per-token is still JVM-native and vectorizable by
whole-stage codegen; swap to ``xxhash64`` via ``fast=True`` when oracle
portability is not required (same downstream algebra, ~3× cheaper).

Python-side operators (Arrow-batch UDFs, driver-built constants) hash
with :func:`md5_60` / :func:`md5_60_batch`, the value-identical twin —
the one place that expression lives.
"""

from __future__ import annotations

import hashlib
from collections.abc import Collection

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Large prime < 2^31 used for universal-hash families a*x+b mod P.
MERSENNE_P = 2147483647  # 2^31 - 1


def md5_long(col: Column | str, fast: bool = False) -> Column:
    """Portable 60-bit non-negative integer hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    if fast:
        # Non-portable fast path: xxhash64, masked non-negative.
        return F.abs(F.xxhash64(c))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_60(s: str) -> int:
    """Python twin of :func:`md5_long`: ``int(md5(s).hexdigest()[:15], 16)``.
    15 hex digits are 7.5 bytes, so the 8-byte big-endian prefix
    shifted right by 4 is the same value without hex parsing."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 4


def md5_60_batch(tokens: Collection[str], memo: dict[str, int]) -> np.ndarray:
    """:func:`md5_60` of every token as an int64 array, memoised in
    ``memo``. Scope the memo to one Arrow batch: repeated tokens across
    its documents hash once, and memory stays bounded by the batch's
    vocabulary."""
    for s in tokens:
        if s not in memo:
            memo[s] = md5_60(s)
    return np.fromiter(map(memo.__getitem__, tokens), dtype=np.int64, count=len(tokens))


def duckdb_md5_long(expr: str) -> str:
    """DuckDB SQL fragment equivalent to :func:`md5_long` — used by the
    oracle queries so both engines hash identically."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def poly_fingerprint(tokens: Column, p: int = MERSENNE_P) -> Column:
    """Order-sensitive document fingerprint over a token array.

    fingerprint(doc) = sum_i ( md5_long(tok_i) mod p ) * (i+1)  mod p

    Position-weighted so permuted documents fingerprint differently
    (a plain token-set hash would not). Pure column algebra — stays in
    whole-stage codegen; no UDF, no shuffle.
    """
    term = F.transform(
        tokens,
        lambda tok, i: ((md5_long(tok) % F.lit(p)) * (i.cast("long") + F.lit(1))) % F.lit(p),
    )
    return F.aggregate(term, F.lit(0).cast("long"), lambda acc, x: (acc + x) % F.lit(p))
