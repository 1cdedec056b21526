"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of the seed:

- the star-schema tables the program's queries and ETL read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), written as one parquet file each in the
  layout ``sources/readers.py::load_testdata`` and ``QUERIES[name](spark,
  sf_dir)`` expect. Row counts scale with ``sf`` like the reference
  test data (sf0.1: 600k lineitem, 150k orders, 15k customers);
  columns are independent uniform draws, the same shapes the queries
  were written against.
- shape-A rating events (``schemas.py::RATING_EVENT_A``) for the
  streaming workload, one JSON-lines file per generator tick.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Every table the analytics registry reads.
ALL_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(rng: np.random.Generator, name: str, sf: float) -> pa.Table:
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        })
    if name == "part":
        keys = np.arange(n_part, dtype=np.int64)
        return pa.table({
            "p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        })
    if name == "lineitem":
        n = int(6_000_000 * sf)
        return pa.table({
            "l_orderkey": rng.integers(0, n_ord, n),
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _day_ts(rng, n, "1995-01-02", "2001-11-04"),
        })
    if name == "events":
        n = int(1_000_000 * sf)
        start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        span_us = 30 * 86_400 * 1_000_000
        ts = np.sort(start + rng.integers(0, span_us, n))
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        n = max(int(50_000 * sf), 500)
        texts: list[str] = []
        for i in range(n):
            r = rng.random()
            if i > 10 and r < 0.05:  # near-duplicate of an earlier doc
                src = texts[int(rng.integers(0, i))]
                texts.append(src + " dup" * int(rng.integers(1, 3)))
            elif i > 10 and r < 0.052:  # exact duplicate
                texts.append(texts[int(rng.integers(0, i))])
            else:
                texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], n,
                               p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        n = max(int(20_000 * sf), 500)
        v = rng.standard_normal((n, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        })
    raise ValueError(f"unknown table {name!r}")


def write_tables(out_dir: str, sf: float, seed: int, names=ALL_TABLES) -> str:
    """Write ``names`` as ``<out_dir>/<name>.parquet``; each table draws
    from its own stream so a subset is identical to the full set."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(ALL_TABLES):
        if name in names:
            rng = np.random.default_rng([seed, i])
            pq.write_table(_table(rng, name, sf), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


class RatingEvents:
    """Shape-A rating events: users Zipf-skewed over the known users
    plus ``new_share`` never-seen ids, songs uniform over the catalog,
    integer ratings 1-5. ``tick(k)`` is a pure function of (seed, k)."""

    def __init__(self, seed: int, users, songs, per_tick: int,
                 zipf_s: float = 1.0, new_share: float = 0.05) -> None:
        rng = np.random.default_rng([seed, 1000])
        self.users = rng.permutation(np.asarray(sorted(users), dtype=np.int64))
        w = 1.0 / np.arange(1, len(self.users) + 1) ** zipf_s
        self.cdf = np.cumsum(w / w.sum())
        self.songs = np.asarray(sorted(songs), dtype=np.int64)
        self.new_base = int(self.users.max()) + 1_000_000
        self.seed = seed
        self.per_tick = per_tick
        self.new_share = new_share

    def known_users(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.users[np.minimum(idx, len(self.users) - 1)]

    def tick(self, k: int) -> list[tuple[int, int, float]]:
        rng = np.random.default_rng([self.seed, 2000, k])
        n = self.per_tick
        users = self.known_users(rng, n)
        new = rng.random(n) < self.new_share
        users = np.where(new, self.new_base + rng.integers(0, 500, n), users)
        songs = self.songs[rng.integers(0, len(self.songs), n)]
        ratings = rng.integers(1, 6, n).astype(np.float64)
        return list(zip(users.tolist(), songs.tolist(), ratings.tolist()))

    @staticmethod
    def to_jsonl(rows) -> str:
        return "".join(
            json.dumps({"userid": u, "songid": s, "rating": r}) + "\n" for u, s, r in rows
        )
