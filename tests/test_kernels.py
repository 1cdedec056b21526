"""operators/kernels.py and the md5-60 token hash: the shared numpy
kernels are pinned on tiny hand-built blocks (no Spark session), and the
Python hash twin is pinned against the Spark and DuckDB forms."""

from __future__ import annotations

import numpy as np
import pytest

from spark_streaming_kafka_spark.functions.hashing import md5_60, md5_60_batch
from spark_streaming_kafka_spark.operators.kernels import (
    CHUNK,
    minhash_mins,
    pairs_at_least,
    sign_buckets,
    topk_per_row,
    unit_rows,
)


def _brute_topk(ids, m, k, digits):
    """Unchunked reference for a self-scored block: the full rounded
    score matrix, an explicit (cos desc, id asc) lexsort per row,
    self-matches skipped."""
    sims = np.round(m @ m.T, digits)
    out = []
    for i, qid in enumerate(ids):
        order = [j for j in np.lexsort((ids, -sims[i])) if ids[j] != qid][:k]
        out += [(int(qid), int(ids[j]), r + 1) for r, j in enumerate(order)]
    return out


def test_unit_rows_zero_norm_row_is_nan_without_warning():
    with np.errstate(all="raise"):
        m = unit_rows([[0.0, 0.0], [3.0, 4.0]])
    assert np.isnan(m[0]).all()
    assert m[1].tolist() == [0.6, 0.8]


def test_topk_tie_goes_to_lower_id():
    ref = unit_rows([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    q = unit_rows([[1.0, 0.0]])
    qid, nid, cos, rank = topk_per_row(
        np.array([100]), q, np.array([9, 4, 1]), ref, k=2
    )
    assert nid.tolist() == [4, 9] and rank.tolist() == [1, 2]
    assert cos.tolist() == [1.0, 1.0] and qid.tolist() == [100, 100]


def test_topk_excludes_self_and_drops_nonfinite():
    ref = unit_rows([[1.0, 0.0], [0.9, 0.1], [0.0, 0.0]])
    ids = np.array([1, 2, 3])
    qid, nid, cos, rank = topk_per_row(ids, ref, ids, ref, k=3, digits=6)
    rows = list(zip(qid.tolist(), nid.tolist(), rank.tolist()))
    # the zero-norm row 3 scores NaN against everything: never emitted
    assert rows == [(1, 2, 1), (2, 1, 1)]
    assert np.isfinite(cos).all()


def test_topk_duplicated_id_never_pairs_with_itself():
    ref = unit_rows([[1.0, 0.0], [1.0, 0.0]])
    ids = np.array([7, 7])
    qid, nid, cos, rank = topk_per_row(ids, ref, ids, ref, k=1)
    assert len(qid) == len(nid) == len(cos) == len(rank) == 0


def test_topk_chunked_matches_unchunked_past_one_chunk():
    rng = np.random.default_rng(3)
    n = CHUNK + 1
    # few distinct directions: many exact ties, cut by id across chunks
    m = unit_rows(rng.integers(-2, 3, size=(n, 3)).astype(float) + 0.5)
    ids = rng.permutation(n).astype(np.int64)
    qid, nid, _cos, rank = topk_per_row(ids, m, ids, m, k=3, digits=6)
    got = list(zip(qid.tolist(), nid.tolist(), rank.tolist()))
    assert got == _brute_topk(ids, m, 3, 6)


def test_pairs_chunked_match_full_matrix_past_one_chunk():
    rng = np.random.default_rng(4)
    n = CHUNK + 1
    m = unit_rows(rng.normal(size=(n, 3)))
    ids = rng.permutation(n).astype(np.int64)
    a, b, cos = pairs_at_least(ids, m, 0.999, digits=6)
    sims = np.round(m @ m.T, 6)
    ia, ib = np.nonzero(sims >= 0.999)
    keep = ids[ia] < ids[ib]
    want = sorted(zip(ids[ia[keep]].tolist(), ids[ib[keep]].tolist()))
    assert want, "fixture must produce pairs"
    assert sorted(zip(ids[a].tolist(), ids[b].tolist())) == want
    assert (ids[a] < ids[b]).all() and (cos >= 0.999).all()
    assert (cos == sims[a, b]).all()


def test_pairs_duplicated_ids_pair_by_value():
    m = unit_rows([[1.0, 0.0], [1.0, 0.0], [1.0, 0.001], [0.0, 1.0]])
    ids = np.array([7, 7, 8, 9])
    a, b, _cos = pairs_at_least(ids, m, 0.99)
    assert sorted(zip(ids[a].tolist(), ids[b].tolist())) == [(7, 8), (7, 8)]
    assert sorted(a.tolist()) == [0, 1]  # positions map back to the input


def test_sign_buckets_bit_per_plane():
    planes = np.array([[1.0, 0.0], [0.0, 1.0]])
    m = np.array([[1.0, 1.0], [-1.0, 1.0], [1.0, -1.0], [-1.0, -1.0], [0.0, 0.0]])
    assert sign_buckets(m, planes).tolist() == [3, 2, 1, 0, 3]


def test_minhash_mins_is_min_over_tokens_per_permutation():
    p = 2147483647
    hs = np.array([md5_60(t) for t in ("a b c", "b c d", "c d e")], dtype=np.int64)
    a = np.array([3, 5, 1_000_003], dtype=np.int64)
    b = np.array([7, 0, 11], dtype=np.int64)
    want = [min((int(ai) * (int(h) % p) + int(bi)) % p for h in hs) for ai, bi in zip(a, b)]
    assert minhash_mins(hs, a, b).tolist() == want


_STRINGS = ["", "hello world", "naïve café — 東京 🚀", "x" * 1024]


def test_md5_60_matches_spark_and_duckdb(spark):
    import duckdb

    from spark_streaming_kafka_spark.functions.hashing import (
        duckdb_md5_long,
        md5_long,
    )

    df = spark.createDataFrame([(i, s) for i, s in enumerate(_STRINGS)], "i int, s string")
    spark_h = {r["i"]: r["h"] for r in df.select("i", md5_long("s").alias("h")).collect()}
    con = duckdb.connect()
    for i, s in enumerate(_STRINGS):
        duck_h = con.execute(f"SELECT {duckdb_md5_long('?')}", [s]).fetchone()[0]
        assert md5_60(s) == spark_h[i] == duck_h
        assert 0 <= md5_60(s) < 1 << 60


def test_md5_60_batch_memo_equals_per_item():
    toks = ["b", "a", "b", "", "東京", "a"]
    memo: dict[str, int] = {}
    got = md5_60_batch(toks, memo)
    assert got.dtype == np.int64
    assert got.tolist() == [md5_60(t) for t in toks]
    assert set(memo) == set(toks)
    assert md5_60_batch(set(toks), memo).tolist() == [md5_60(t) for t in set(toks)]


@pytest.mark.parametrize("s", _STRINGS)
def test_md5_60_is_hex_prefix_value(s):
    import hashlib

    assert md5_60(s) == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
