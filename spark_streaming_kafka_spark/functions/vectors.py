"""Vector math over ``array<float>`` embedding columns — JVM-side only.

Similarity search needs dot products over embedding arrays. The slow path
is a Python UDF per row; the fast path used here is ``zip_with`` +
``aggregate`` column algebra, which Catalyst evaluates inside codegen with
no Python exchange at all. For very wide vectors (>4k dims) a pandas_udf
with numpy matmul wins; see operators/similarity.py for that variant.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def int8_scale(vec: Column) -> Column:
    """Per-vector int8 quantization scale: ``max|v| / 127`` (0 for the
    zero vector). Materialize this as its OWN column before calling
    :func:`quantize_int8` — referencing the aggregate inline inside the
    per-element lambda would re-evaluate the O(d) fold once per element
    (Catalyst does no subexpression elimination inside higher-order
    lambdas; the O(d²) blowup is the same trap the minhash docstring
    records as measured 30× slower)."""
    v = F.transform(vec, lambda x: x.cast("double"))
    return F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    ) / F.lit(127.0)


def quantize_int8(vec: Column, scale: Column) -> Column:
    """Scalar int8 quantization against a pre-materialized ``scale``
    column (:func:`int8_scale`):
    ``qvec[i] = clip(floor(v[i]/scale + 0.5), -127, 127)``; zero scale
    → all-zero qvec.

    The storage-scale trade for 100 TB vector corpora: 4× smaller than
    float32 (8× vs float64), dequantize is one multiply, and recall
    loss at ANN thresholds is negligible (the reconstruction-cosine
    query pins it ≥ 0.999 on the testdata). floor(x + 0.5) — not
    round() — because round's half-case convention differs across
    engines while floor is exact everywhere: the quantized values are
    bit-reproducible in any SQL engine, which is what lets an external
    system verify (or consume) the quantized table.

    Pure column algebra: zero shuffle, O(d) per vector, runs inside the
    scan projection.
    """
    return F.transform(
        vec,
        lambda x: F.when(
            scale > 0,
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
                ),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


def dequantize_int8(qvec: Column, scale: Column) -> Column:
    """Inverse of :func:`quantize_int8`: array<double> ≈ the original."""
    return F.transform(qvec, lambda x: x.cast("double") * scale)


def jl_sign_matrix(d_in: int, d_out: int, salt: str = "rp") -> list[list[float]]:
    """Deterministic Achlioptas ±1 projection matrix derived from md5:

        R[j][i] = +1 if md5_long(f"{salt}_{j}_{i}") is even else -1

    Achlioptas (2003) showed ±1 entries satisfy the Johnson-
    Lindenstrauss lemma as well as Gaussian ones; deriving each sign
    from the portable md5 hash makes the matrix a pure function of
    (dims, salt) — no RNG state to ship, any engine (or the DuckDB
    oracle) regenerates it bit-identically. d_in*d_out ints: driver-
    side cost is microseconds, and the matrix travels to executors as
    plan literals, not data.
    """
    from .hashing import md5_60

    def sign(j: int, i: int) -> float:
        return 1.0 if md5_60(f"{salt}_{j}_{i}") % 2 == 0 else -1.0

    return [[sign(j, i) for i in range(d_out)] for j in range(d_in)]


def random_project(vec: Column, d_in: int, d_out: int, salt: str = "rp") -> Column:
    """Johnson-Lindenstrauss random projection of an embedding column
    to ``d_out`` dims: ``p[i] = sum_j v[j] * R[j][i] / sqrt(d_out)``.

    Pairwise distances are preserved within (1±eps) for
    d_out = O(log n / eps^2) — the cheap first stage of any 100 TB
    embedding pipeline (shrink 64-dim to 16-dim before LSH/clustering
    and every downstream shuffle carries 4x less). Expressed as
    ``d_out`` zip_with/aggregate folds over plan-literal matrix
    columns: whole-stage-codegen column algebra in the scan
    projection, no UDF, no shuffle, nothing to broadcast.
    """
    r = jl_sign_matrix(d_in, d_out, salt)
    inv = 1.0 / (d_out ** 0.5)
    comps = []
    for i in range(d_out):
        col_i = F.array(*[F.lit(r[j][i]) for j in range(d_in)])
        comps.append(
            F.aggregate(
                F.zip_with(vec, col_i, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(inv)
        )
    return F.array(*comps)
