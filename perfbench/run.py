#!/usr/bin/env python3
"""Benchmark of the sentiment engine, run from the repository root:

    python3 perfbench/run.py --workload live_feed --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``live_feed``  open-loop post feed through the two-query streaming topology
- ``dashboard``  closed-loop dashboard refreshes over a table the stream wrote

Both report the same end-to-end metrics; what an operation is depends on
the workload:

==========  =========================  ===================
workload    operation (latency)        throughput_per_s
==========  =========================  ===================
live_feed   post: due time -> in sink  posts delivered / s
dashboard   one panel query            refreshes / s
==========  =========================  ===================

``latency_p95_s`` is the 95th percentile, or the highest percentile with
at least ten samples beyond it when there are fewer samples than that
needs. ``setup_s`` is session start + the median of three input
generations + staging and warm-up.

With ``--trace 1`` the run measures once untraced and once traced, then
calls the layers its own path does not reach on seeded inputs (a backlog
drain through the streaming topology or a dashboard refresh, the batch
enrichment calls, and one corpus-cleaning iteration), and prints the
per-layer metrics; the spans and every per-layer number are written to
``.perfbench_work/traces/<workload>-seed<seed>.json``.

The last line of standard output is the JSON result. Everything the run
writes stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import re
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "live_social_media_sentiment_trend_tracker_using_kafka_spark"
WORKLOADS = ("live_feed", "dashboard")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_environment(work: str) -> None:
    """Spark's workers must import the package (the pandas UDF is pickled by
    reference), and every temporary file must stay inside the checkout."""
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)
    try:
        importlib.import_module(PKG)
    except ImportError as exc:
        fail(f"cannot import the engine package {PKG!r} from {ROOT}: {exc}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None


def latency_limit_s(spec: dict) -> float:
    """The live feed's p95 latency limit. It is stated once, in the ``why``
    of the ``live_feed`` workload in BENCHMARK.json ("p95 limit <n> s")."""
    why = next((w["why"] for w in spec["workloads"] if w["name"] == "live_feed"), "")
    m = re.search(r"p95 limit (\d+(?:\.\d+)?) s", why)
    if not m:
        fail("BENCHMARK.json states no 'p95 limit <n> s' in the why of live_feed")
    return float(m.group(1))


def _import_probe(_):
    importlib.import_module(PKG)
    return [1]


def check_workers_import(spark) -> None:
    try:
        spark.sparkContext.parallelize([0], 1).mapPartitions(_import_probe).collect()
    except Exception as exc:  # surfaces as a Py4J/Spark error wrapping the worker traceback
        if "ModuleNotFoundError" in str(exc) or "ImportError" in str(exc):
            fail(f"Spark's Python workers cannot import {PKG!r}; "
                 f"put {ROOT} on the workers' PYTHONPATH")
        raise


def start_session(work: str, cores: int):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    return build_session(
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stops the session, then the driver JVM PySpark launched for it (it
    exits when its stdin closes), and waits until the JVM and its Python
    workers have ended."""
    from pyspark import SparkContext

    from spans import alive, descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def timed_median(fn, reps: int = 3):
    """(median seconds, total seconds, result of the last call)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2], sum(times), out


class Workload:
    """Setup, measured passes and layer probes of a named workload."""

    def __init__(self, name: str, ctx):
        self.name, self.ctx = name, ctx

    def setup(self) -> tuple[float, float]:
        """Generates three times, stages and warms up; returns the median and
        the total of the generation times. (``live_feed`` warms up inside
        its pass: each pass starts fresh queries.)"""
        import gen
        import workloads as w
        from spans import Tracer

        ctx, seed = self.ctx, self.ctx.seed
        off = Tracer(False)
        if self.name == "live_feed":
            gen_s, gen_total, self.posts = timed_median(lambda: w.live_inputs(seed, ctx.seconds))
        else:
            gen_s, gen_total, posts = timed_median(lambda: w.dashboard_inputs(seed))
            gen.write_files(posts, ctx.path("dashboard_inbox"))
            w.drain(ctx, ctx.path("dashboard_inbox"), posts, off, "table", with_b=False)
            self.table = ctx.path("table", "sink")
            table = ctx.spark.read.parquet(self.table)
            for k in range(w.DASHBOARD_WARM_REFRESHES):
                w.refresh(ctx.spark, table, off, f"warm-{k}")
        return gen_s, gen_total

    def measure(self, tracer, tag: str):
        import workloads as w

        ctx = self.ctx
        if self.name == "live_feed":
            return w.live_feed(ctx, self.posts, tracer, tag)
        return w.dashboard(ctx, self.table, tracer, tag)

    def probe_layers(self, tracer) -> tuple[dict, int, int]:
        """Per-layer numbers of the layers this workload's own path does not
        reach, from small seeded inputs: (layers, attempted, failed).

        Both workloads get the batch enrichment calls over a seeded backlog
        and one corpus-cleaning iteration (with its stages timed alone);
        ``live_feed`` adds one dashboard refresh over its own sink,
        ``dashboard`` a backlog drain through the streaming topology."""
        import gen
        import workloads as w

        ctx, seed = self.ctx, self.ctx.seed
        layers: dict = {}
        attempted = failed = 0
        backlog = gen.posts(seed + 2, w.PROBE_FILES, w.PROBE_POSTS_PER_FILE, 60.0, prefix="probe")
        inbox = ctx.path("probe_inbox")
        gen.write_files(backlog, inbox)
        outs = []
        if self.name == "dashboard":
            outs.append(w.drain(ctx, inbox, backlog, tracer, "probe"))
        else:
            out = w.dashboard(ctx.with_seconds(0), ctx.path("trace", "sink"), tracer, "probe")
            out.layers.pop("sources.table_files")
            outs.append(out)
        layers.update(w.enrich_layers(ctx, inbox, tracer))
        c = gen.corpus(seed + 3, w.PROBE_DOCS)
        gen.write_corpus(c, ctx.path("probe_corpus"))
        outs.append(w.corpus_clean(ctx, ctx.path("probe_corpus"), c, tracer))
        for out in outs:
            layers.update(out.layers)
            attempted, failed = attempted + out.attempted, failed + out.failed
        return layers, attempted, failed


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    limit_s = latency_limit_s(spec)

    import workloads as w
    from spans import RssSampler, Tracer, host_probe_s, median, tail_percentile

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        check_workers_import(spark)
        ctx = w.Ctx(spark, work, args.seed, args.seconds, limit_s)
        wl = Workload(args.workload, ctx)
        with RssSampler(os.getpid()) as rss:
            t1 = time.perf_counter()
            gen_s, gen_total = wl.setup()
            setup_s = session_s + time.perf_counter() - t1 - gen_total + gen_s
            out = wl.measure(Tracer(False), "run")
            setup_s += out.notes.get("warm_s", 0.0)
        attempted, failed = out.attempted, out.failed
        p_used, p95 = tail_percentile(out.latencies)
        e2e = {
            "setup_s": setup_s,
            "latency_p50_s": median(out.latencies),
            "latency_p95_s": p95,
            "throughput_per_s": out.throughput,
        }
        notes = {"percentile_used": p_used, "samples": len(out.latencies),
                 "peak_rss_mb": rss.peak / 2**20, "host_probe_s": host_probe_s(), **out.notes}
        if args.trace:
            tracer = Tracer(True)
            traced = wl.measure(tracer, "trace")
            layers, a, f = wl.probe_layers(tracer)
            layers.update(traced.layers)
            layers["session.start_s"] = session_s
            layers["session.peak_rss_mb"] = rss.peak / 2**20
            layers["setup.generate_s"] = gen_s
            layers["trace.overhead_s"] = median(traced.latencies) - median(out.latencies)
            attempted, failed = attempted + traced.attempted + a, failed + traced.failed + f
            notes["traced"] = traced.notes
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            missing = units.keys() - layers.keys()
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
            metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in units.items()}
            tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
                         "layers": layers, "notes": notes})
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "end_to_end": e2e, "notes": notes}, default=str),
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
