"""Output checks, run after the timed window. Each returns counts so a
failure lands in the run's ``failed`` total instead of aborting it."""

from __future__ import annotations

import glob
import json
import os

import pandas as pd

TOP_K = 25
#: RecommendationEngine's default support filter (min_ratings).
MIN_RATINGS = 25


def source_log(checkpoint: str) -> dict[str, list[int]]:
    """File name -> every micro-batch id the file source logged it in
    (``<checkpoint>/sources/0/<batch>[.compact]``; compacted entries keep
    their batch id)."""
    out: dict[str, list[int]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # first line is the "v1" header
        for line in lines:
            entry = json.loads(line)
            name = os.path.basename(entry["path"])
            if entry["batchId"] not in out.setdefault(name, []):
                out[name].append(entry["batchId"])
    return out


def committed_batches(checkpoint: str) -> set[int]:
    d = os.path.join(checkpoint, "commits")
    return {int(n) for n in os.listdir(d) if n.isdigit()} if os.path.isdir(d) else set()


def rec_group_ok(g: pd.DataFrame, catalog: set[int], k: int = TOP_K) -> bool:
    """One user's served rows: at most k, distinct songs, all from the
    catalog, each above the support filter."""
    songs = g["song_id"].tolist()
    return (len(songs) <= k and len(set(songs)) == len(songs)
            and set(songs) <= catalog and bool((g["num_ratings"] >= MIN_RATINGS).all()))


def check_stream(sink_dir: str, base: pd.DataFrame, events: pd.DataFrame,
                 catalog: set[int]) -> dict:
    """Served results of the streaming recommender, one result per
    (batch, user) in the sink.

    ``base``: (user_id, song_id) history before the stream; ``events``:
    (user_id, song_id, batch) of every committed event. A result fails
    if it breaks :func:`rec_group_ok`, serves a user that was not in its
    batch, or serves a song the user had rated up to and including that
    batch. Row order is not checked here: the sink stores a set.
    """
    files = glob.glob(os.path.join(sink_dir, "_batch_id=*", "*.parquet"))
    if not files:
        return {"results": 0, "failed": 0, "rows": 0, "served_users_ratio": 0.0}
    recs = pd.concat(
        [pd.read_parquet(f).assign(batch=int(f.split("_batch_id=")[1].split(os.sep)[0]))
         for f in files],
        ignore_index=True,
    )
    hist = pd.concat([base[["user_id", "song_id"]].assign(batch=-1),
                      events[["user_id", "song_id", "batch"]]])
    first = hist.groupby(["user_id", "song_id"], as_index=False)["batch"].min()
    first = first.rename(columns={"batch": "rated_at"})
    m = recs.merge(first, on=["user_id", "song_id"], how="left")
    recs["already_rated"] = (m["rated_at"] <= m["batch"]).to_numpy()
    batch_users = set(zip(events["batch"], events["user_id"]))
    failed = 0
    groups = recs.groupby(["batch", "user_id"])
    for (b, u), g in groups:
        if (g["already_rated"].any() or (b, u) not in batch_users
                or not rec_group_ok(g, catalog)):
            failed += 1
    per_batch_users = events.groupby("batch")["user_id"].nunique().sum()
    return {
        "results": groups.ngroups,
        "failed": failed,
        "rows": len(recs),
        "served_users_ratio": groups.ngroups / per_batch_users if per_batch_users else 0.0,
    }


def check_request(rows, user: int, rated: set[int], catalog: set[int]) -> bool:
    """One ``get_top_ratings(user, 25).collect()`` answer: the row checks
    of :func:`rec_group_ok`, all for ``user``, none already rated, and
    ordered by predicted_rating desc then song_id asc."""
    df = pd.DataFrame([r.asDict() for r in rows],
                      columns=["user_id", "song_id", "predicted_rating", "num_ratings"])
    keys = list(zip((-df["predicted_rating"]).tolist(), df["song_id"].tolist()))
    return (rec_group_ok(df, catalog) and bool((df["user_id"] == user).all())
            and not (set(df["song_id"]) & rated) and keys == sorted(keys))


def _normalize(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order)
           for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def same_result(scols, srows, ocols, orows) -> bool:
    """Spark result vs DuckDB oracle: same column names, row count, and
    values as an unordered multiset (floats to 9 places, as the
    registry's correctness sweep compares them)."""
    return (sorted(scols) == sorted(ocols) and len(srows) == len(orows)
            and _normalize(list(scols), srows) == _normalize(list(ocols), orows))
