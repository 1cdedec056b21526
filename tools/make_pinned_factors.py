"""Generate the pinned ALS factor artifact (committed parquet).

The reference persists its trained model as parquet factor tables
(`music_lens_als/data/{user,product}`: `id INT NOT NULL,
features array<double> NOT NULL`, rank 4 — reference
`engine.py:43,73-81`, SURVEY §1.1) and serves recommendations by
loading them back. Trained factor VALUES are box-dependent (BLAS
nondeterminism), so a committed artifact of real ALS output could not
be hash-checked against a SQL oracle. This tool instead pins factors
from the repo's portable md5 hash (functions/hashing.py):

    feature[d](kind, id) = (md5_long(f"{kind}_{id}_{d}") % 1_000_000)
                           / 1_000_000.0 - 0.5

which DuckDB recomputes bit-identically (the manifest-novelty
precedent: the oracle re-derives seeded state in SQL). The SERVING
path the artifact exercises — parquet factor load → dot-product
scoring → per-user top-k — is exactly the reference's, and is what
`als_scores_from_saved_factors` hash-checks end-to-end.

Shape mirrors the reference artifact: rank 4; 1000 user rows (ids
0..999, covering every supplier key through sf0.1) and 100 item rows
(ids 1..100 — the reference's 100-product catalog).

Run: python tools/make_pinned_factors.py  (writes
spark_streaming_kafka_spark/data/als_factors/{user,item}.parquet)
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from spark_streaming_kafka_spark.functions.hashing import md5_60  # noqa: E402

RANK = 4
N_USERS = 1000  # ids 0..999
N_ITEMS = 100   # ids 1..100

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_streaming_kafka_spark",
    "data",
    "als_factors",
)


def pinned_feature(kind: str, ident: int, dim: int) -> float:
    """Python twin of the oracle expression — identical IEEE doubles.

    int(md5[:15 hex], 16) == duckdb CAST(concat('0x', substr(md5,1,15))
    AS BIGINT); the % / division / subtraction are the same double ops
    in Python, Spark, and DuckDB (round-to-nearest each step).
    """
    return (md5_60(f"{kind}_{ident}_{dim}") % 1_000_000) / 1_000_000.0 - 0.5


def factor_table(kind: str, ids: range) -> pa.Table:
    feats = [[pinned_feature(kind, i, d) for d in range(RANK)] for i in ids]
    return pa.table(
        {
            "id": pa.array(list(ids), type=pa.int32()),
            "features": pa.array(feats, type=pa.list_(pa.float64())),
        }
    )


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    pq.write_table(factor_table("u", range(N_USERS)), os.path.join(OUT_DIR, "user.parquet"))
    pq.write_table(factor_table("i", range(1, N_ITEMS + 1)), os.path.join(OUT_DIR, "item.parquet"))
    print(f"wrote {OUT_DIR}/user.parquet ({N_USERS}x{RANK}) and item.parquet ({N_ITEMS}x{RANK})")


if __name__ == "__main__":
    main()
