"""The workloads. Each times calls into the program's public functions
from outside and returns a :class:`Result`.

- ``stream_recommend``: open loop. A generator thread writes shape-A
  rating events as one JSON-lines file per tick on a fixed schedule; a
  file-source stream parses them with ``sources.kafka.parse_kafka_json``
  and runs ``StreamingRecommender(engine).writer(...)`` (defaults: 1 s
  trigger, retrain every 5 batches, top-25) into
  ``sources.sinks.idempotent_parquet_sink``. The traced run adds a
  closed-loop serve phase, ``RecommendationEngine.get_top_ratings(user,
  25).collect()``, after the stream stops.
- ``analytics_mix``: closed loop, one query at a time, over the
  registry queries in :data:`ANALYTICS_MIX` with the noop sink.
"""

from __future__ import annotations

import dataclasses
import gc
import os
import statistics
import sys
import threading
import time

import numpy as np
import pandas as pd

from . import checks
from .datagen import RatingEvents, write_tables
from .trace import ProgressCollector, SparkRest, Tracer, parse_spark_time

#: Rating events per second offered by the stream generator, and its tick.
STREAM_RATE = 250
TICK_S = 0.25
#: Seconds of events offered before the measured window; the stream then
#: drains, so the window starts with no backlog (the first batches pay
#: code generation and JIT).
WARMUP_S = 1.0
#: Seconds a phase's backlog may take to commit after its last tick.
DRAIN_DEADLINE_S = 45.0
#: Closed-loop ``get_top_ratings`` requests of the traced run's serve
#: phase (after the stream stops), and how many of them are warm-up.
SERVE_REQUESTS = 8
SERVE_WARMUP = 2

#: Registry queries of the analytics workload: bench headline queries
#: that exercise the operator kernels (operators/dedup.py, similarity.py,
#: percentile.py, windows.py, asof.py) and the reference ETL. The rest of
#: the headline suite stays with bench.py: a run has about a minute for
#: one cold checking pass, one warm-up pass and the measured passes.
ANALYTICS_MIX = [
    "percentile_buckets",        # operators/percentile.py
    "window_topk_per_customer",  # operators/windows.py
    "dedup_minhash_lsh",         # operators/dedup.py
    "dedup_simhash",
    "ann_topk_lsh",              # operators/similarity.py
    "asof_click_view",           # operators/asof.py
    "etl_ratings_pipeline",      # etl.py
]

#: Scale factor of the generated inputs per workload.
SCALE = {"stream_recommend": 0.1, "analytics_mix": 0.01}


@dataclasses.dataclass
class Result:
    latencies_ms: list[float]
    attempted: int
    failed: int
    setup: dict[str, float]
    layers: dict[str, float] = dataclasses.field(default_factory=dict)
    tracer: Tracer | None = None


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def start_session(cpus: int, work: str, ui: bool):
    from spark_streaming_kafka_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep JVM scratch in the work dir (no /tmp/hsperfdata_*)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        # the UI serves the traced run's REST reads and nothing else
        "spark.ui.enabled": str(ui).lower(),
    }
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def base_engine(spark, data_dir: str):
    """The recommender's set-up: base history from ``etl.build_ratings_sql``
    over the generated fact tables, then the first ALS fit. Returns the
    engine and the two timings."""
    from spark_streaming_kafka_spark.etl import build_ratings_sql
    from spark_streaming_kafka_spark.recommend import RecommendationEngine

    t0 = time.perf_counter()
    ratings = build_ratings_sql(
        spark,
        spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")),
        spark.read.parquet(os.path.join(data_dir, "orders.parquet")),
    ).cache()
    ratings.count()
    t1 = time.perf_counter()
    engine = RecommendationEngine(spark, ratings)
    engine.retrain()
    setup = {"setup.etl_s": t1 - t0, "setup.train_s": time.perf_counter() - t1}
    log(f"set-up: etl {setup['setup.etl_s']:.1f} s, first fit {setup['setup.train_s']:.1f} s")
    return engine, setup


class Generator(threading.Thread):
    """Open-loop event source: tick k of ``ticks`` is due at
    ``t0 + (k - ticks.start) * TICK_S`` and is written to ``stage`` then
    renamed into ``src`` (the file source sees whole files only). It
    never waits for the stream."""

    def __init__(self, events: RatingEvents, src: str, stage: str, ticks: range) -> None:
        super().__init__(daemon=True)
        self.events, self.src, self.stage, self.ticks = events, src, stage, ticks
        # the idle stream polls on whole-second trigger boundaries; the
        # first tick lands just before one, so every phase starts alike
        self.t0 = np.ceil(time.time() + 0.2) - 0.1
        self.written: dict[int, tuple[str, float, int]] = {}  # k -> (name, done, n)
        self.stop_evt = threading.Event()

    def due(self, k: int) -> float:
        return self.t0 + (k - self.ticks.start) * TICK_S

    def run(self) -> None:
        for k in self.ticks:
            wait = self.due(k) - time.time()
            if wait > 0 and self.stop_evt.wait(wait):
                break
            rows = self.events.tick(k)
            name = f"tick-{k:07d}.json"
            tmp = os.path.join(self.stage, name)
            with open(tmp, "w") as f:
                f.write(RatingEvents.to_jsonl(rows))
            os.rename(tmp, os.path.join(self.src, name))
            self.written[k] = (name, time.time(), len(rows))


def stream_recommend(spark, work: str, seed: int, seconds: float, trace: bool,
                     data_dir: str, warmup_s: float = WARMUP_S) -> Result:
    from pyspark.sql import functions as F

    from spark_streaming_kafka_spark.schemas import RATING_EVENT_A
    from spark_streaming_kafka_spark.sources.kafka import parse_kafka_json
    from spark_streaming_kafka_spark.sources.sinks import idempotent_parquet_sink
    from spark_streaming_kafka_spark.streaming.recommend_stream import StreamingRecommender

    engine, setup = base_engine(spark, data_dir)
    base = engine.ratings.toPandas()
    catalog = set(base["song_id"].tolist())
    src, stage, ckpt, sink_dir = (os.path.join(work, "stream", d)
                                  for d in ("in", "stage", "ckpt", "sink"))
    for d in (src, stage):
        os.makedirs(d)

    tracer = Tracer() if trace else None
    write = idempotent_parquet_sink(sink_dir)
    done: dict[int, float] = {}

    def sink(df, batch_id: int) -> None:
        if tracer:
            with tracer.span("sink.write"):  # also executes the lazy serve plan
                write(df, batch_id)
        else:
            write(df, batch_id)
        done[batch_id] = time.time()

    recommender = StreamingRecommender(engine, sink=sink)
    progress = None
    if tracer:
        tracer.wrap(engine, "add_ratings", "recommend.add_ratings")
        tracer.wrap(engine, "retrain", "recommend.retrain")
        tracer.wrap(engine, "get_top_ratings_for_users", "recommend.serve_plan")
        tracer.wrap(recommender, "process_batch", "recommend_stream.process_batch", key_arg=1)
        progress = ProgressCollector()
        progress.attach(spark)

    raw = spark.readStream.format("text").load(src).select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.current_timestamp().alias("timestamp"),
    )
    parsed = parse_kafka_json(raw, RATING_EVENT_A).selectExpr(
        "userid AS user_id", "songid AS song_id", "CAST(rating AS double) AS rating"
    )
    events = RatingEvents(seed, base["user_id"].unique(), catalog,
                          per_tick=int(STREAM_RATE * TICK_S))
    query = recommender.writer(parsed).option("checkpointLocation", ckpt).start()
    warm = range(0, int(round(warmup_s / TICK_S)))
    meas = range(warm.stop, warm.stop + int(round(seconds / TICK_S)))
    gens = []

    def phase(ticks: range) -> Generator:
        # run the generator over ``ticks``, then drain: every file it
        # wrote is committed when processAllAvailable returns
        gen = Generator(events, src, stage, ticks)
        gens.append(gen)
        gen.start()
        gen.join()
        drainer = threading.Thread(target=query.processAllAvailable, daemon=True)
        drainer.start()
        drainer.join(DRAIN_DEADLINE_S)
        return gen

    try:
        t0 = time.perf_counter()
        phase(warm)
        # top up single ticks until the warm-up ends at the same point of
        # the retrain cycle in every run: the window's second batch retrains
        k = warm.stop
        while len(done) % recommender.retrain_every != recommender.retrain_every - 2:
            phase(range(k, k + 1))
            k += 1
        warm_s = time.perf_counter() - t0
        log(f"warm-up: {len(done)} batches in {warm_s:.1f} s")
        meas = range(k, k + len(meas))
        gen = phase(meas)
        w0, w1 = gen.t0, time.time()
        log(f"window + drain: {len(done)} batches, drained {w1 - w0 - seconds:.1f} s "
            "after the last tick")
        if progress:
            # listener events arrive asynchronously; wait for the last batch's
            last = (query.lastProgress or {}).get("batchId")
            deadline = time.time() + 10
            while (time.time() < deadline
                   and not any(e["batchId"] == last for e in progress.events)):
                time.sleep(0.05)
    finally:
        for g in gens:
            g.stop_evt.set()
        query.stop()
        if progress:
            progress.detach(spark)

    # -- after the timed window: map events to batches and check outputs
    logged = checks.source_log(ckpt)
    commits = checks.committed_batches(ckpt)
    written = {k: v for g in gens for k, v in g.written.items()}
    latencies, lost, landed = [], 0, []
    for k, (name, _, n) in sorted(written.items()):
        batches = logged.get(name, [])
        if not (len(batches) == 1 and batches[0] in commits and batches[0] in done):
            lost += n
            continue
        landed.append((k, batches[0]))
        if k in meas:
            latencies.extend([(done[batches[0]] - gen.due(k)) * 1000.0] * n)
    spans = {}
    for k, b in landed:
        if k in meas:
            lo, hi = spans.get(b, (k, k))
            spans[b] = (min(lo, k), max(hi, k))
    log("window batches: " + ", ".join(
        f"#{b} ticks {lo - meas.start}-{hi - meas.start} done +{done[b] - w0:.1f} s"
        for b, (lo, hi) in sorted(spans.items())))
    ev_frames = []
    for k, b in landed:
        rows = events.tick(k)
        ev_frames.append(np.array([(u, s, b) for u, s, _ in rows], dtype=np.int64))
    ev = pd.DataFrame(np.concatenate(ev_frames) if ev_frames else np.empty((0, 3)),
                      columns=["user_id", "song_id", "batch"])
    res = checks.check_stream(sink_dir, base, ev, catalog)
    generated = sum(n for _, _, n in written.values())
    out = Result(
        latencies_ms=latencies,
        attempted=generated + res["results"],
        failed=lost + res["failed"],
        setup={**setup, "setup.warmup_s": warm_s},
        tracer=tracer,
    )
    if tracer:
        lag = [(gen.written[k][1] - gen.due(k)) * 1000.0 for k in meas if k in gen.written]
        batch_of = dict(landed)
        starts = {e["batchId"]: parse_spark_time(e["timestamp"]) for e in progress.events}
        queue = []
        for k in meas:
            if batch_of.get(k) in starts:
                queue.extend([(starts[batch_of[k]] - gen.due(k)) * 1000.0] * gen.written[k][2])
        win = [e for e in progress.events
               if e["numInputRows"] > 0 and w0 <= parse_spark_time(e["timestamp"]) <= w1]
        phases = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                  "commitOffsets", "triggerExecution"]
        for p in phases:
            out.layers[f"stream.{p}_ms"] = pct([e["durationMs"].get(p, 0) for e in win], 50)

        def span_p50(name: str, self_time: bool = False) -> float:
            return pct(tracer.durations_ms(name, self_time, w0, w1), 50)

        retrains = [s for s in tracer.spans if s["name"] == "recommend.retrain"
                    and w0 <= s["start"] <= w1]
        out.layers.update({
            "stream.batches": float(len(win)),
            "stream.events_per_batch_p50": pct([e["numInputRows"] for e in win], 50),
            "stream.queue_wait_p50_ms": pct(queue, 50),
            "source.generator_lag_max_ms": max(lag, default=0.0),
            "recommend_stream.process_batch_ms": span_p50("recommend_stream.process_batch"),
            "recommend.add_ratings_ms": span_p50("recommend.add_ratings", self_time=True),
            "recommend.serve_plan_ms": span_p50("recommend.serve_plan"),
            "recommend.retrain_ms": span_p50("recommend.retrain"),
            "recommend.retrains": float(len(retrains)),
            "recommend.history_rows": float(engine.ratings.count()),
            "recommend.served_users_ratio": res["served_users_ratio"],
            "sink.write_ms": span_p50("sink.write"),
            "sink.rows": float(res["rows"]),
        })
        out.layers.update(SparkRest(spark).layer_metrics(w0, w1))
        history = pd.concat([base[["user_id", "song_id"]], ev[["user_id", "song_id"]]])
        rated = history.groupby("user_id")["song_id"].agg(set).to_dict()
        served = serve_phase(spark, engine, events, seed, rated, catalog, tracer)
        out.attempted += served.attempted
        out.failed += served.failed
        out.layers.update(served.layers)
    return out


def serve_phase(spark, engine, users: RatingEvents, seed: int, rated: dict,
                catalog: set[int], tracer: Tracer) -> Result:
    """The reference's request API, ``get_top_ratings(user, 25).collect()``,
    as a closed loop of one client over Zipf-drawn known users against the
    stream's final engine. Each request runs in its own job group so its
    Spark jobs can be counted from the REST API afterwards."""
    rng = np.random.default_rng([seed, 3000])
    sc = spark.sparkContext
    answers, failed = [], 0
    w0 = None
    for i in range(SERVE_REQUESTS):
        if i == SERVE_WARMUP:
            w0 = time.time()
        user = int(users.known_users(rng, 1)[0])
        sc.setJobGroup(f"req-{i}", "serve")
        with tracer.span("serve.request", key=i):
            try:
                with tracer.span("serve.plan"):
                    df = engine.get_top_ratings(user, checks.TOP_K)
                with tracer.span("serve.collect"):
                    answers.append((user, df.collect()))
            except Exception:  # a failed request is counted, not fatal
                failed += 1
    w1 = time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)
    failed += sum(not checks.check_request(rows, u, rated.get(u, set()), catalog)
                  for u, rows in answers)
    groups = [j.get("jobGroup") or "" for j in SparkRest(spark).jobs(w0, w1)]
    n = SERVE_REQUESTS - SERVE_WARMUP
    return Result([], SERVE_REQUESTS, failed, {}, layers={
        "serve.plan_ms": pct(tracer.durations_ms("serve.plan", t0=w0), 50),
        "serve.collect_ms": pct(tracer.durations_ms("serve.collect", t0=w0), 50),
        "serve.jobs_per_request": sum(g.startswith("req-") for g in groups) / n,
    })


def analytics_mix(spark, work: str, seed: int, seconds: float, trace: bool,
                  data_dir: str) -> Result:
    import duckdb

    from spark_streaming_kafka_spark.queries import ORACLES, QUERIES

    sc = spark.sparkContext
    con = duckdb.connect()
    for t in os.listdir(data_dir):
        con.sql(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM '{data_dir}/{t}'")
    failed = attempted = 0

    def hygiene() -> None:
        # the previous query's cached blocks and JVM garbage are paid here,
        # outside the timed call (the protocol bench.py uses)
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()

    # warm-up pass: collect every query once and compare with its oracle
    t0 = time.perf_counter()
    spark_s = 0.0
    for name in ANALYTICS_MIX:
        attempted += 1
        hygiene()
        t = time.perf_counter()
        try:
            sdf = QUERIES[name](spark, data_dir)
            srows = [tuple(r) for r in sdf.collect()]
            spark_s += time.perf_counter() - t
            rel = con.sql(ORACLES[name])
            ok = checks.same_result(sdf.columns, srows, rel.columns, rel.fetchall())
        except Exception:  # a raising query is a failed query
            ok = False
        failed += not ok
    check_s = time.perf_counter() - t0
    con.close()
    log(f"checking pass: {failed} failed, spark {spark_s:.1f} s, total {check_s:.1f} s")

    tracer = Tracer() if trace else None
    per_query: dict[str, list[float]] = {n: [] for n in ANALYTICS_MIX}

    def noop_pass(p: int, measured: bool) -> float:
        nonlocal attempted, failed
        total = 0.0
        for name in ANALYTICS_MIX:
            attempted += 1
            hygiene()
            t = time.perf_counter()
            try:
                if tracer and measured:
                    with tracer.span("analytics.query", key=f"{p}:{name}"):
                        sc.setJobGroup(f"build:{p}:{name}", "build")
                        with tracer.span("analytics.build"):
                            df = QUERIES[name](spark, data_dir)
                        sc.setJobGroup(f"action:{p}:{name}", "action")
                        with tracer.span("analytics.action"):
                            df.write.format("noop").mode("overwrite").save()
                else:
                    QUERIES[name](spark, data_dir).write.format("noop").mode("overwrite").save()
            except Exception:  # counted; the pass goes on
                failed += 1
            dt = time.perf_counter() - t
            if measured:
                per_query[name].append(dt)
            total += dt
        return total * 1000.0

    # a second, unchecked warm-up pass: the JIT is still settling after one
    warm_ms = noop_pass(-1, measured=False)
    passes: list[float] = []
    w0 = time.time()
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(noop_pass(len(passes), measured=True))
    w1 = time.time()
    out = Result(passes, attempted, failed,
                 {"setup.warmup_s": spark_s + warm_ms / 1000.0}, tracer=tracer)
    if tracer:
        sc.setLocalProperty("spark.jobGroup.id", None)
        rest = SparkRest(spark)
        groups = [j.get("jobGroup") or "" for j in rest.jobs(w0, w1)]
        for name, ts in per_query.items():
            out.layers[f"analytics.{name}_s"] = statistics.median(ts)
        out.layers.update({
            "analytics.build_s": sum(tracer.durations_ms("analytics.build")) / 1000.0 / len(passes),
            "analytics.action_s": sum(tracer.durations_ms("analytics.action")) / 1000.0 / len(passes),
            "analytics.build_jobs": sum(g.startswith("build:") for g in groups) / len(passes),
        })
        out.layers.update(rest.layer_metrics(w0, w1))
    return out


WORKLOADS = {
    "stream_recommend": stream_recommend,
    "analytics_mix": analytics_mix,
}


def inputs(workload: str, out_dir: str, seed: int, sf: float | None = None) -> str:
    """Generate the workload's tables; the recommender workloads need
    only the two fact tables the ETL reads."""
    names = ("lineitem", "orders") if workload != "analytics_mix" else None
    kwargs = {"names": names} if names else {}
    return write_tables(out_dir, SCALE[workload] if sf is None else sf, seed, **kwargs)
