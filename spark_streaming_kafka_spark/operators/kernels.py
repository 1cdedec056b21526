"""Numpy kernels behind every Arrow-batch vector scorer and token hasher.

The ANN, near-dup and MinHash operators all do one of a few things to a
block of rows inside ``mapInPandas`` / ``applyInPandas``: normalise it,
score it against a reference block and cut the result, bucket it by
sign bits, or fold its token hashes into a MinHash signature. Each of
those steps lives here once:

- :func:`unit_rows` — stack vectors into float64 unit rows.
- :func:`topk_per_row` — bounded top-k of every query row over a
  reference block (chunked gemm, stable ``(cosine desc, id asc)`` cut).
- :func:`pairs_at_least` — every pair of a block at or above a cosine
  threshold, paired by id value.
- :func:`sign_buckets` — random-hyperplane sign-bit bucket keys.
- :func:`minhash_mins` — one MinHash signature from token hashes.

The token hashes themselves come from
:func:`..functions.hashing.md5_60` / :func:`..functions.hashing.md5_60_batch`,
the Python twins of the portable ``md5_long``.

Every gemm is chunked over query rows: peak memory is ``CHUNK × m``
doubles, never ``m × m``, so a skewed bucket degrades to more gemm calls
instead of an executor OOM.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from ..functions.hashing import MERSENNE_P

#: Query rows per gemm call (peak memory CHUNK × reference rows).
CHUNK = 2048


def unit_rows(vecs: Sequence) -> np.ndarray:
    """Stack ``vecs`` (arrays or lists, one per row) into a float64
    matrix of L2-unit rows. A zero-norm row has no direction and becomes
    all-NaN; the divide warning is silenced so that holds under
    ``np.seterr`` / warnings-as-errors configs too."""
    mat = np.vstack(vecs).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def topk_per_row(
    q_ids: np.ndarray,
    q: np.ndarray,
    ref_ids: np.ndarray,
    ref: np.ndarray,
    k: int,
    digits: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Top-``k`` rows of ``ref`` for every row of ``q`` (both unit rows).

    Order is cosine desc, then reference id asc — cosines are rounded to
    ``digits`` first when given, so float noise cannot reorder ties. A
    reference row whose id equals the query row's id is a self-match and
    is excluded; any non-finite score (self-matches, zero-norm rows) is
    dropped, so a query row may get fewer than ``k`` results, and a
    duplicated id never pairs with itself.

    Returns flat ``(query_id, neighbor_id, cosine, rank)`` arrays,
    query-row-major with rank 1..n per query.
    """
    order = np.argsort(ref_ids, kind="stable")
    ref_ids, ref = ref_ids[order], ref[order]
    kk = min(k, len(ref_ids))
    tops, coss = [], []
    for lo in range(0, len(q), CHUNK):
        sims = q[lo : lo + CHUNK] @ ref.T  # (chunk, m), neighbor-id ascending
        if digits is not None:
            sims = np.round(sims, digits)
        sims[q_ids[lo : lo + CHUNK, None] == ref_ids[None, :]] = -np.inf
        top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        tops.append(top)
        coss.append(np.take_along_axis(sims, top, axis=1))
    top = np.concatenate(tops)
    cos = np.concatenate(coss).ravel()
    # argsort puts -inf and NaN last, so the kept scores are a prefix
    # of each row and the ranks below stay 1..n
    keep = np.isfinite(cos)
    return (
        np.repeat(q_ids, kk)[keep],
        ref_ids[top].ravel()[keep],
        cos[keep],
        np.tile(np.arange(1, kk + 1, dtype=np.int32), len(q))[keep],
    )


def pairs_at_least(
    ids: np.ndarray,
    mat: np.ndarray,
    thr: float,
    digits: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every pair of rows of the unit-row block ``mat`` whose cosine
    (rounded to ``digits`` when given) is ≥ ``thr``, as row positions
    ``(a, b, cosine)`` into the inputs with ``ids[a] < ids[b]``.

    Ids are compared by VALUE, so a duplicated id never pairs with
    itself. Rows are scored in id order over the upper triangle only
    (a lower id can only sit at an earlier sorted position).
    """
    order = np.argsort(ids, kind="stable")
    sids, smat = ids[order], mat[order]
    a_s, b_s, cs = [], [], []
    for lo in range(0, len(sids), CHUNK):
        sims = smat[lo : lo + CHUNK] @ smat[lo:].T  # (chunk, m - lo)
        if digits is not None:
            sims = np.round(sims, digits)
        ia, ib = np.nonzero(sims >= thr)
        keep = sids[ia + lo] < sids[ib + lo]
        a_s.append(ia[keep] + lo)
        b_s.append(ib[keep] + lo)
        cs.append(sims[ia[keep], ib[keep]])
    return order[np.concatenate(a_s)], order[np.concatenate(b_s)], np.concatenate(cs)


def sign_buckets(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign-LSH bucket key per row of ``mat``: bit ``p`` is set iff
    ``row · planes[p] ≥ 0`` (``planes`` is ``(n_planes, dim)``)."""
    weights = np.int64(1) << np.arange(len(planes), dtype=np.int64)
    return ((mat @ planes.T) >= 0.0) @ weights


def minhash_mins(hs: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature of one token set: per permutation ``i``,
    ``min over tokens of (a[i]·(h mod P) + b[i]) mod P`` — the
    ``md5_long % P`` then ``(a·h + b) % P`` algebra of the expression
    path. ``hs`` are 60-bit token hashes; reducing them mod P first
    keeps ``a·h`` below 2^62."""
    P = MERSENNE_P
    return ((a[:, None] * (hs % P)[None, :] + b[:, None]) % P).min(axis=1)
