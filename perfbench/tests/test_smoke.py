"""Smoke test of the benchmark itself, at sf0.001 with short windows.

    python3 -m pytest perfbench/tests -q

Checks that each workload emits every metric BENCHMARK.json names, with
its unit, in both modes, and that corrupted recommender output is
counted as failed.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_unit(workload, tmp_path):
    m = run.measure(workload, seed=3, seconds=2, trace=True, work=str(tmp_path),
                    sf=0.001, **({"warmup_s": 0.5} if workload == "stream_recommend" else {}))
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        out = run.report(m, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        want = {x["name"]: x["unit"] for x in SPEC[key]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    e2e = run.report(m, False)["metrics"]
    assert all(e2e[k]["value"] > 0 for k in e2e)


def _sink(tmp_path, rows_by_batch):
    for b, rows in rows_by_batch.items():
        d = tmp_path / f"_batch_id={b}"
        d.mkdir(parents=True)
        pd.DataFrame(rows, columns=["user_id", "song_id", "predicted_rating",
                                    "num_ratings", "avg_rating"]).to_parquet(d / "part-0.parquet")
    return str(tmp_path)


def test_corrupted_stream_output_counts_as_failed(tmp_path):
    base = pd.DataFrame({"user_id": [1, 1, 2], "song_id": [10, 11, 10]})
    events = pd.DataFrame({"user_id": [1, 2], "song_id": [12, 13], "batch": [0, 0]})
    catalog = {10, 11, 12, 13, 14, 15}
    good = {0: [(1, 14, 4.0, 30, 3.0), (1, 15, 3.5, 30, 3.0), (2, 11, 4.2, 40, 3.1)]}
    clean = checks.check_stream(_sink(tmp_path / "a", good), base, events, catalog)
    assert clean["failed"] == 0 and clean["results"] == 2
    # user 1 gets song 12, which it rated in this very batch
    bad = {0: good[0] + [(1, 12, 3.0, 30, 3.0)]}
    corrupted = checks.check_stream(_sink(tmp_path / "b", bad), base, events, catalog)
    assert corrupted["failed"] == 1 and corrupted["results"] == 2
    # a song outside the catalog, and a user who was not in the batch
    bad = {0: good[0] + [(2, 99, 3.0, 30, 3.0), (7, 14, 3.0, 30, 3.0)]}
    corrupted = checks.check_stream(_sink(tmp_path / "c", bad), base, events, catalog)
    assert corrupted["failed"] == 2


def test_corrupted_serve_answer_counts_as_failed():
    from pyspark.sql import Row

    def rows(*recs):
        return [Row(user_id=1, song_id=s, predicted_rating=p, num_ratings=30, avg_rating=3.0)
                for s, p in recs]

    catalog, rated = {10, 11, 12, 13}, {10}
    assert checks.check_request(rows((12, 4.0), (11, 4.0), (13, 3.0)), 1, rated, catalog) is False
    assert checks.check_request(rows((11, 4.0), (12, 4.0), (13, 3.0)), 1, rated, catalog)
    assert not checks.check_request(rows((10, 4.5), (11, 4.0)), 1, rated, catalog)
