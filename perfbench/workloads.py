"""The workloads and the probes a traced run adds.

Each workload composes the library the way a deployer would, with the
library's defaults (``posts_file_stream``'s one file per trigger, the
default trigger, ``build_session``'s 32 shuffle partitions, the pandas-UDF
sentiment scorer), so a later change to a default shows in the numbers.

Streaming topology of ``live_feed`` (and of the backlog drain that builds
the dashboard's table and probes the stream layers in traced runs):

- query A: ``posts_file_stream -> enrich_posts -> fan_out_sinks`` into an
  enriched-posts parquet sink (the writer callable below);
- query B: A's sink as a parquet file stream ->
  ``windowed_hashtag_counts -> run_update_sink_to_parquet`` keyed by
  ``(window_start, tag)``.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone
from urllib.parse import unquote

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import types as T

import checks
import gen
from spans import Tracer, median, progress, tasks_of_group
from live_social_media_sentiment_trend_tracker_using_kafka_spark import caching
from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import analytics, dedup, pipeline, simjoin
from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.enrich import enrich_posts, filter_valid_text
from live_social_media_sentiment_trend_tracker_using_kafka_spark.schema import POST_SCHEMA
from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import posts_file_stream, read_posts_json
from live_social_media_sentiment_trend_tracker_using_kafka_spark.streaming import (
    fan_out_sinks,
    run_update_sink_to_parquet,
    stop_all_streams,
    windowed_hashtag_counts,
)

# live_feed: open loop, 100 posts/s flushed as one file every 2 s. With one
# file per trigger, query A alone takes about 0.7 s per such file on four
# cores. Query B's trigger (32 state-store commits, guarded partitioned
# upsert) takes 2.5-5 s, and Spark's FIFO scheduler queues A's single task
# behind B's task waves, so A takes 0.6-2.5 s here; a flush every second let
# the backlog grow.
LIVE_FLUSH_INTERVAL_S = 2.0
LIVE_POSTS_PER_FILE = 200
# dashboard: the table is the sink the backlog drain writes, one parquet file
# per micro-batch. Its backlog files hold 5,000 posts, the file size of the
# backlog the stream's throughput was first sized on (40 such files drained
# in 48 s, about 1.1 s per micro-batch, on four cores). Six files keep the
# drain near 10 s: the 48 runs of a benchmark pass (4 + 22 per workload) must
# fit in 3,420 s, about 70 s a run, set-up included, and on a slow host a
# dashboard run with eight files already took 72 s. Panel time hardly depends
# on the table size here (16k and 60k posts refresh in the same ~1.5 s), so a
# larger table would add set-up time and measure nothing new.
DASHBOARD_FILES, DASHBOARD_POSTS_PER_FILE = 6, 5000
# Refresh time falls by a third over the first eight refreshes of a fresh JVM
# (code generation and JIT), then more slowly, by a further 10-20 % over the
# next fifteen; set-up runs the first eight before measuring.
DASHBOARD_WARM_REFRESHES = 8
# The corpus probe is larger than the 5,000 documents of the sf0.1 table, at
# which the fixed cost of each stage dominates the cleaning time.
PROBE_FILES, PROBE_POSTS_PER_FILE, PROBE_DOCS = 2, 5000, 6000
QUERY_TIMEOUT_S = 120
ENRICH_REPS = 2


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    latency_limit_s: float  # p95 limit of the live feed (from BENCHMARK.json)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def with_seconds(self, seconds: float) -> "Ctx":
        return replace(self, seconds=seconds)


@dataclass
class Outcome:
    """One measured pass: samples of the workload's operation latency, its
    throughput, operations attempted and failed, and per-layer numbers."""

    latencies: list[float]
    throughput: float
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)


# --------------------------------------------------------------------------
# Streaming topology
# --------------------------------------------------------------------------

class SinkWriter:
    """The ``fan_out_sinks`` writer callable: appends each micro-batch to the
    enriched sink and notes when the write started and ended and which
    parquet files it added (that is how a post is tied to its batch)."""

    def __init__(self, sink: str):
        self.sink = sink
        self.writes: list[tuple[float, float, set[str]]] = []
        self._seen: set[str] = set()
        os.makedirs(sink, exist_ok=True)

    def __call__(self, batch) -> None:
        start = time.perf_counter()
        batch.write.mode("append").parquet(self.sink)
        end = time.perf_counter()
        files = {f for f in os.listdir(self.sink) if f.endswith(".parquet")} - self._seen
        self._seen |= files
        self.writes.append((start, end, files))


def enriched_schema(spark) -> T.StructType:
    out = enrich_posts(spark.createDataFrame([], POST_SCHEMA)).schema
    return T.StructType([T.StructField(f.name, f.dataType, True) for f in out.fields])


def start_a(ctx: Ctx, inbox: str, writer: SinkWriter, ck: str, available_now: bool):
    stream = enrich_posts(posts_file_stream(ctx.spark, inbox))
    return fan_out_sinks(stream, {"enriched": writer}, ck, available_now=available_now)


def start_b(ctx: Ctx, sink: str, win: str, ck: str, available_now: bool):
    src = ctx.spark.readStream.schema(enriched_schema(ctx.spark)).parquet(sink)
    return run_update_sink_to_parquet(
        windowed_hashtag_counts(src), win, ck, ["window_start", "tag"], available_now=available_now
    )


def await_query(q) -> None:
    if not q.awaitTermination(QUERY_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"query {q.id} did not finish within {QUERY_TIMEOUT_S}s")


def read_sink(sink: str) -> list[tuple[str, str, str]]:
    """(text, sentiment_label, file name) of every row in the enriched sink."""
    if not any(f.endswith(".parquet") for f in os.listdir(sink)):
        return []
    rows = duckdb.connect().execute(
        f"SELECT text, sentiment_label, filename FROM read_parquet('{sink}/*.parquet', filename=true)"
    ).fetchall()
    return [(t, lab, os.path.basename(fn)) for t, lab, fn in rows]


def read_windows(win: str) -> list[tuple[str, str, int]]:
    """(window start, tag, count) rows of query B's table, which is
    partitioned by ``window_start`` and ``tag``: the keys are read from the
    partition directories (as Spark escapes them), the counts from the
    files."""
    out = []
    for d, _, files in os.walk(win):
        parts = dict(unquote(seg).split("=", 1) for seg in os.path.relpath(d, win).split(os.sep) if "=" in seg)
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                cnts = pq.read_table(os.path.join(d, f), columns=["cnt"]).column("cnt").to_pylist()
                out += [(parts["window_start"], parts["tag"], c) for c in cnts]
    return out


def check_topology(ctx: Ctx, rows, win: str, expected: dict) -> tuple[int, int, dict]:
    """(attempted, failed, problems): one operation per valid post plus one
    for the window table."""
    problems = checks.check_feed([(t, lab) for t, lab, _ in rows], expected)
    bad_windows = checks.check_windows(read_windows(win), checks.expected_windows(expected))
    problems["window_keys_wrong"] = bad_windows
    failed = problems["missing"] + problems["duplicated"] + problems["unexpected"] + problems["mislabelled"]
    return len(expected) + 1, failed + (1 if bad_windows else 0), problems


def stream_layers(spark, qa, qb, writer: SinkWriter, first_write: int, tracer: Tracer,
                  req_of_write: list[str]) -> dict[str, float]:
    """Per-layer numbers of the topology from Spark's public progress and
    status APIs plus the writer's own timings (writes ``first_write`` on)."""
    pa = [p for p in progress(qa) if p["numInputRows"] > 0][first_write:]
    pb = [p for p in progress(qb) if "addBatch" in p["durationMs"]]
    ms = lambda ps, *keys: median([sum(p["durationMs"].get(k, 0) for k in keys) / 1000 for p in ps])
    writes = writer.writes[first_write:]
    state = [p["stateOperators"][0] for p in pb if p["stateOperators"]]
    _, a_tasks = tasks_of_group(spark, str(qa.runId))
    wall = time.time() - time.perf_counter()
    for p, (w0, w1, _), req in zip(pa, writes, req_of_write):
        start = _iso_to_epoch(p["timestamp"]) - wall
        sid = tracer.add("streaming.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000, req)
        t = start
        for phase in ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets"):
            d = p["durationMs"].get(phase, 0) / 1000
            tracer.add(f"streaming.{phase}", t, t + d, req, sid)
            t += d
        tracer.add("streaming.sink_write", w0, w1, req, sid)
    for p in pb:
        start = _iso_to_epoch(p["timestamp"]) - wall
        tracer.add("streaming.update_sink_batch", start, start + p["durationMs"]["triggerExecution"] / 1000)
    return {
        "sources.list_s": ms(pa, "latestOffset"),
        "sources.get_batch_s": ms(pa, "getBatch"),
        "streaming.trigger_s": ms(pa, "triggerExecution"),
        "streaming.planning_s": ms(pa, "queryPlanning"),
        "streaming.commit_s": ms(pa, "walCommit", "commitOffsets"),
        "streaming.add_batch_s": ms(pa, "addBatch"),
        "streaming.sink_write_s": median([w1 - w0 for w0, w1, _ in writes]),
        "streaming.batches": len(pa),
        "streaming.tasks_per_batch": a_tasks / max(1, len(writer.writes)),
        "streaming.update_sink_batch_s": ms(pb, "addBatch"),
        "streaming.state_store_instances": max((s.get("numStateStoreInstances", 0) for s in state), default=0),
        "streaming.state_commit_s": median([s["commitTimeMs"] / 1000 for s in state]),
        "streaming.state_rows": max((s["numRowsTotal"] for s in state), default=0),
        "streaming.state_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
    }


def _iso_to_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def delivery_table(rows, writer: SinkWriter, file_of: dict[str, int]):
    """For each write: (end time, {input file index: posts delivered})."""
    by_sink_file: dict[str, dict[int, int]] = {}
    for text, _, fname in rows:
        m = gen.POST_KEY_RE.search(text or "")
        if m and m.group(0) in file_of:
            slot = by_sink_file.setdefault(fname, {})
            slot[file_of[m.group(0)]] = slot.get(file_of[m.group(0)], 0) + 1
    out = []
    for _, end, files in writer.writes:
        merged: dict[int, int] = {}
        for f in files:
            for idx, n in by_sink_file.get(f, {}).items():
                merged[idx] = merged.get(idx, 0) + n
        out.append((end, merged))
    return out


# --------------------------------------------------------------------------
# live_feed
# --------------------------------------------------------------------------

def live_inputs(seed: int, seconds: float) -> gen.PostSet:
    """One warm-up file, then one file per flush interval of the measured
    window; each file spans one minute of event time."""
    n = max(2, round(seconds / LIVE_FLUSH_INTERVAL_S))
    return gen.posts(seed, 1 + n, LIVE_POSTS_PER_FILE, 60.0, prefix="live")


def live_feed(ctx: Ctx, posts: gen.PostSet, tracer: Tracer, tag: str) -> Outcome:
    """Open loop. Post j of measured file k is due at
    ``t0 + (k + (j + 1) / posts_per_file) * interval``; file k is published
    (written, then renamed into the inbox) when its last post is due,
    whatever the pipeline is doing. A post's latency runs from its due time
    to the end of the sink write that delivered it. The feed ends with
    processAllAvailable on both queries before they are stopped, so no
    query is stopped mid-batch. The time to start both queries and push the
    warm-up file through them is reported as ``warm_s``."""
    d = ctx.path(tag)
    inbox, staging, sink, win = (os.path.join(d, x) for x in ("inbox", "staging", "sink", "windows"))
    for p in (inbox, staging):
        os.makedirs(p)
    writer = SinkWriter(sink)
    interval = LIVE_FLUSH_INTERVAL_S
    published: list[float] = []
    w0 = time.perf_counter()
    qa = start_a(ctx, inbox, writer, os.path.join(d, "ck_a"), available_now=False)
    qb = start_b(ctx, sink, win, os.path.join(d, "ck_b"), available_now=False)
    try:
        gen.publish(posts.files[0], inbox, staging)
        qa.processAllAvailable()
        qb.processAllAvailable()
        warm_s = time.perf_counter() - w0
        first_write = len(writer.writes)
        t0 = time.perf_counter() + 0.05
        for k, f in enumerate(posts.files[1:]):
            flush_due = t0 + (k + 1) * interval
            pause = flush_due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            gen.publish(f, inbox, staging)
            published.append(time.perf_counter())
            tracer.add("feed.publish", flush_due, published[-1], f.name)
        qa.processAllAvailable()
        qb.processAllAvailable()
    finally:
        _, leftover = stop_all_streams(ctx.spark)
    if leftover:
        raise RuntimeError(f"queries still active after stop: {leftover}")

    rows = read_sink(sink)
    file_of = posts.file_of()
    per_file = LIVE_POSTS_PER_FILE
    due_of = {}
    for key, idx in file_of.items():
        if idx >= 1:
            j = gen.post_seq(key) % per_file
            due_of[key] = t0 + (idx - 1 + (j + 1) / per_file) * interval
    delivered_end: dict[str, float] = {}
    sink_file_end = {f: end for _, end, files in writer.writes for f in files}
    for text, _, fname in rows:
        # rows without a post key or in a file no write added are counted
        # by check_topology, not timed
        m = gen.POST_KEY_RE.search(text or "")
        if m and m.group(0) in due_of and fname in sink_file_end:
            delivered_end.setdefault(m.group(0), sink_file_end[fname])
    latencies = [delivered_end[k] - due_of[k] for k in delivered_end]
    throughput = delivery_rate(sorted(delivered_end.values()))
    attempted, failed, problems = check_topology(ctx, rows, win, posts.valid)
    problems["over_latency_limit"] = checks.over_latency_limit(latencies, ctx.latency_limit_s)
    failed += problems["over_latency_limit"]

    out = Outcome(latencies, throughput, attempted, failed, notes={"problems": problems})
    out.notes["warm_s"] = warm_s
    out.notes["query_a_trigger_ms"] = [p["durationMs"]["triggerExecution"] for p in progress(qa)
                                       if p["numInputRows"] > 0]
    out.notes["query_b_trigger_ms"] = [p["durationMs"]["triggerExecution"] for p in progress(qb)
                                       if "addBatch" in p["durationMs"]]
    out.notes["offered_posts_per_s"] = sum(len(f.valid) for f in posts.files[1:]) / (len(published) * interval)
    out.notes["feed.generator_lag_s"] = max(
        p - (t0 + (k + 1) * interval) for k, p in enumerate(published)
    )
    if tracer.enabled:
        table = delivery_table(rows, writer, file_of)[first_write:]
        reqs = [",".join(posts.files[i].name for i in sorted(pf)) for _, pf in table]
        out.layers = stream_layers(ctx.spark, qa, qb, writer, first_write, tracer, reqs)
        outstanding, delivered = [], 0
        for end, pf in table:
            delivered += len(pf)
            outstanding.append(sum(1 for t in published if t <= end) - delivered)
        out.layers["sources.files_outstanding"] = max(outstanding, default=0)
        out.layers["sources.files_per_batch"] = sum(len(pf) for _, pf in table) / max(1, len(table))
        out.layers["sources.table_files"] = len([f for f in os.listdir(sink) if f.endswith(".parquet")])
        out.layers["feed.generator_lag_s"] = out.notes["feed.generator_lag_s"]
    return out


def delivery_rate(ends: list[float]) -> float:
    """Posts delivered per second: the least-squares slope of the cumulative
    count of delivered posts over the sink-write end times that delivered
    them (sorted). Jitter in when single batches land moves the slope far
    less than it moves a first-to-last difference."""
    times, cum = [], []
    for t in ends:
        if times and times[-1] == t:
            cum[-1] += 1
        else:
            times.append(t)
            cum.append((cum[-1] if cum else 0) + 1)
    if len(times) < 2:
        return 0.0
    return statistics.linear_regression(times, cum).slope


# --------------------------------------------------------------------------
# Backlog drain (dashboard set-up, warm-up and the traced stream probe)
# --------------------------------------------------------------------------

def drain(ctx: Ctx, inbox: str, posts: gen.PostSet, tracer: Tracer, tag: str,
          with_b: bool = True) -> Outcome:
    """One drain of a pre-staged backlog: query A with Trigger.AvailableNow,
    then query B the same way over A's sink. Latency samples are A's
    micro-batch durations; throughput is valid posts per second of the
    whole drain."""
    d = ctx.path(tag)
    sink, win = os.path.join(d, "sink"), os.path.join(d, "windows")
    writer = SinkWriter(sink)
    qb = None
    with tracer.span("backfill.drain", tag):
        t0 = time.perf_counter()
        qa = start_a(ctx, inbox, writer, os.path.join(d, "ck_a"), available_now=True)
        await_query(qa)
        if with_b:
            qb = start_b(ctx, sink, win, os.path.join(d, "ck_b"), available_now=True)
            await_query(qb)
        elapsed = time.perf_counter() - t0
    pa = [p for p in progress(qa) if p["numInputRows"] > 0]
    latencies = [p["durationMs"]["triggerExecution"] / 1000 for p in pa]
    if not with_b:
        return Outcome(latencies, len(posts.valid) / elapsed, 0, 0)
    rows = read_sink(sink)
    attempted, failed, problems = check_topology(ctx, rows, win, posts.valid)
    out = Outcome(latencies, len(posts.valid) / elapsed, attempted, failed, notes={"problems": problems})
    if tracer.enabled:
        table = delivery_table(rows, writer, posts.file_of())
        reqs = [",".join(posts.files[i].name for i in sorted(pf)) for _, pf in table]
        out.layers = stream_layers(ctx.spark, qa, qb, writer, 0, tracer, reqs)
        delivered, outstanding = 0, []
        for _, per_file in table:
            outstanding.append(len(posts.files) - delivered)
            delivered += len(per_file)
        out.layers["sources.files_outstanding"] = max(outstanding, default=0)
        out.layers["sources.files_per_batch"] = sum(len(pf) for _, pf in table) / max(1, len(table))
        out.layers["sources.table_files"] = len([f for f in os.listdir(sink) if f.endswith(".parquet")])
    return out


# --------------------------------------------------------------------------
# dashboard
# --------------------------------------------------------------------------

def dashboard_inputs(seed: int) -> gen.PostSet:
    """Event times spread over one day, so the hourly series has 24 points."""
    return gen.posts(seed, DASHBOARD_FILES, DASHBOARD_POSTS_PER_FILE, 86400.0 / DASHBOARD_FILES,
                     prefix="dash")


# (name, Spark panel over the enriched table, DuckDB oracle over table t,
#  projection of the collected rows that the oracle returns)
_TS = lambda v: v.timestamp()
PANELS = [
    ("global_stats",
     lambda df: analytics.global_stats(df, ["sentiment_score", "likes", "retweets"], band_on="sentiment_score"),
     "SELECT count(*), round(avg(sentiment_score), 6), round(avg(likes), 6), round(avg(retweets), 6),"
     " CASE WHEN round(avg(sentiment_score), 6) > 0.1 THEN 'positive'"
     " WHEN round(avg(sentiment_score), 6) > -0.1 THEN 'neutral' ELSE 'negative' END FROM t",
     tuple),
    ("label_counts", lambda df: analytics.grouped_count(df, "sentiment_label"),
     "SELECT sentiment_label, count(*) c FROM t GROUP BY 1 ORDER BY c DESC, 1", tuple),
    ("platform_counts", lambda df: analytics.grouped_count(df, "platform"),
     "SELECT platform, count(*) c FROM t GROUP BY 1 ORDER BY c DESC, 1", tuple),
    ("top_hashtags", lambda df: analytics.exploded_topk(df, "hashtags", k=10),
     "SELECT tag, count(*) c FROM (SELECT unnest(hashtags) AS tag FROM t) GROUP BY 1 ORDER BY c DESC, 1 LIMIT 10",
     tuple),
    ("top_countries", lambda df: analytics.grouped_topk(df, "country", k=10),
     "SELECT country, count(*) c FROM t GROUP BY 1 ORDER BY c DESC, 1 LIMIT 10", tuple),
    ("time_series", lambda df: analytics.time_series(df, "event_ts", "1 hour", value_col="sentiment_score"),
     "SELECT epoch(time_bucket(INTERVAL 1 hour, event_ts)) b, count(*), round(avg(sentiment_score), 6)"
     " FROM t GROUP BY 1 ORDER BY 1",
     lambda r: (_TS(r[0]), r[1], r[2])),
    ("last_n", lambda df: analytics.last_n(df, "event_ts", 10, "text"),
     "SELECT text, epoch(event_ts) FROM t ORDER BY event_ts DESC, text DESC LIMIT 10",
     lambda r: (r["text"], _TS(r["event_ts"]))),
    ("latest_display",
     lambda df: analytics.latest_display(df, "event_ts", "text", "text", n=10,
                                         extra_cols=["sentiment_label", "platform"]),
     "SELECT text, strftime(event_ts, '%H:%M:%S'), substr(text, 1, 80) || '...', sentiment_label, platform"
     " FROM t ORDER BY event_ts DESC, text DESC LIMIT 10",
     tuple),
    ("head_n", lambda df: analytics.head_n(df, "text", 10),
     "SELECT text, epoch(event_ts) FROM t ORDER BY text LIMIT 10",
     lambda r: (r["text"], _TS(r["event_ts"]))),
]


def oracle(table_dir: str) -> dict[str, list[tuple]]:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{table_dir}/*.parquet')")
    return {name: [tuple(r) for r in con.execute(sql).fetchall()] for name, _, sql, _ in PANELS}


def refresh(spark, df, tracer: Tracer, req: str) -> tuple[list[float], dict[str, list[tuple]]]:
    """One dashboard refresh: every panel built and collected in turn."""
    times, results = [], {}
    with tracer.span("dashboard.refresh", req):
        for name, panel, _, project in PANELS:
            t0 = time.perf_counter()
            with tracer.span(f"analytics.{name}"):
                rows = panel(df).collect()
            times.append(time.perf_counter() - t0)
            results[name] = [project(r) for r in rows]
    return times, results


def dashboard(ctx: Ctx, table_dir: str, tracer: Tracer, tag: str) -> Outcome:
    """Closed loop, one client: refreshes back to back for ``seconds``."""
    spark = ctx.spark
    df = spark.read.parquet(table_dir)
    want = oracle(table_dir)
    latencies, failed, refreshes, refresh_s = [], 0, 0, []
    jobs = tasks = 0
    t0 = time.perf_counter()
    while refreshes == 0 or time.perf_counter() - t0 < ctx.seconds:
        if tracer.enabled:
            spark.sparkContext.setJobGroup(f"{tag}-refresh-{refreshes}", "dashboard refresh")
        times, got = refresh(spark, df, tracer, f"refresh-{refreshes}")
        if tracer.enabled:
            j, t = tasks_of_group(spark, f"{tag}-refresh-{refreshes}")
            jobs, tasks = jobs + j, tasks + t
        latencies += times
        refresh_s.append(round(sum(times), 3))
        failed += sum(1 for name in want if not checks.same_rows(got[name], want[name]))
        refreshes += 1
    elapsed = time.perf_counter() - t0
    if tracer.enabled:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    out = Outcome(latencies, refreshes / elapsed, refreshes * len(PANELS), failed,
                  notes={"refresh_s": refresh_s})
    if tracer.enabled:
        out.layers = {f"analytics.{name}_s": median(tracer.durations(f"analytics.{name}")) for name, *_ in PANELS}
        out.layers["analytics.jobs_per_refresh"] = jobs / refreshes
        out.layers["analytics.tasks_per_refresh"] = tasks / refreshes
        out.layers["sources.table_files"] = len([f for f in os.listdir(table_dir) if f.endswith(".parquet")])
    return out


# --------------------------------------------------------------------------
# corpus_clean (a probe of traced runs)
# --------------------------------------------------------------------------

def corpus_clean(ctx: Ctx, corpus_dir: str, c: gen.Corpus, tracer: Tracer) -> Outcome:
    """One iteration of both cleaning tiers, then ``caching.release_all()``,
    checked against the planted duplicates; then each stage of the chain
    timed on its own. Latency samples are the two tier calls."""
    docs = ctx.spark.read.parquet(corpus_dir)
    latencies, failed, recall = [], 0, 1.0
    t0 = time.perf_counter()
    with tracer.span("corpus.iteration", "corpus-iter-0"):
        for name, fn, exact in (("clean_corpus", pipeline.clean_corpus, False),
                                ("clean_corpus_exact_neardup", pipeline.clean_corpus_exact_neardup, True)):
            s0 = time.perf_counter()
            with tracer.span(f"pipeline.{name}"):
                kept = {r["doc_id"] for r in fn(docs).collect()}
            latencies.append(time.perf_counter() - s0)
            problems, tier_recall = checks.check_corpus(kept, c, exact_tier=exact)
            failed += 1 if problems else 0
            if not exact:
                recall = tier_recall
        with tracer.span("caching.release_all"):
            released = caching.release_all()
    out = Outcome(latencies, len(c.rows) / (time.perf_counter() - t0), 2, failed)
    out.layers = corpus_layers(ctx, docs, tracer)
    out.layers["caching.persists_released"] = released
    out.layers["dedup.lsh_recall"] = recall
    return out


def corpus_layers(ctx: Ctx, docs, tracer: Tracer) -> dict[str, float]:
    """Times each stage of the cleaning chain by calling the stage's public
    function on its own, plus the LSH candidate and verified pair counts."""
    out: dict[str, float] = {}

    def timed(name, action):
        t0 = time.perf_counter()
        with tracer.span(name):
            value = action()
        out[f"{name}_s"] = time.perf_counter() - t0
        return value

    exact = pipeline.clean_corpus_exact(docs, sort=False)
    timed("pipeline.exact_tier", lambda: exact.collect())
    survivors = docs.join(exact.select("doc_id"), "doc_id", "left_semi")
    sigs = (dedup.shingle_table(docs).join(survivors.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", dedup.minhash_signature_col("shingles").alias("minhash")))
    candidates = timed("dedup.lsh_candidates", lambda: dedup.lsh_candidate_pairs(sigs).count())
    verified = len(timed("dedup.minhash_pairs", lambda: dedup.minhash_near_duplicates(
        survivors, threshold=0.8, shingle_corpus=docs).collect()))
    timed("simjoin.jaccard_join", lambda: simjoin.jaccard_similarity_join(
        survivors, threshold=0.8, order_corpus=docs).collect())
    caching.release_all()
    out.pop("dedup.lsh_candidates_s")
    out["dedup.lsh_candidates"] = candidates
    out["dedup.verified_pairs"] = verified
    out["dedup.lsh_precision"] = verified / candidates if candidates else 0.0
    return out


# --------------------------------------------------------------------------
# Probes: layers a workload does not reach on its own path
# --------------------------------------------------------------------------

def enrich_layers(ctx: Ctx, inbox: str, tracer: Tracer) -> dict[str, float]:
    """Batch calls over JSON post files: the scan alone, the enrichment
    map without the sentiment UDF, and with it; the UDF's share is the
    difference. Each forced with the noop sink, median of ``ENRICH_REPS``."""
    raw = read_posts_json(ctx.spark, inbox)

    def t(name, df):
        xs = []
        for _ in range(ENRICH_REPS):
            t0 = time.perf_counter()
            with tracer.span(name):
                df.write.format("noop").mode("overwrite").save()
            xs.append(time.perf_counter() - t0)
        return median(xs)

    scan = t("enrich.scan", raw)
    mapped = t("enrich.map", enrich_posts(raw, with_sentiment_udf=False))
    full = t("enrich.full", enrich_posts(raw))
    return {"enrich.scan_s": scan, "enrich.map_s": mapped, "sentiment.udf_s": full - mapped,
            "sentiment.rows_scored": filter_valid_text(raw).count()}
