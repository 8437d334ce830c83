"""The two workloads.  Each drives the program only through its
public entry points and returns a ``Result``: operations attempted and
failed, the end-to-end numbers, and, when traced, the layer numbers.

* ``tail``: open loop.  A generator process appends stamped lines to 8
  skewed files at a fixed rate; ``build_tailed_pipeline`` follows them
  with the reference's 5 s trigger into a transport that fails ~1 % of
  records and a rare page once.  Its traced run also times the
  Envelope projection and ``deliver_pages`` alone on a backfill input.
* ``batch``: closed loop.  Registry queries on the fixture tables,
  checked against DuckDB-derived hashes on a first pass, then timed
  into the noop sink in seeded order.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from statistics import median

import numpy as np

from cga_logs_to_kinesis_spark.registry import all_queries
from cga_logs_to_kinesis_spark.streaming.envelope import (
    FLUSH_INTERVAL_S,
    envelope_projection,
    envelope_to_json,
)
from cga_logs_to_kinesis_spark.streaming.pipeline import (
    PipelineConfig,
    build_pipeline,
    build_tailed_pipeline,
)
from cga_logs_to_kinesis_spark.streaming.sink import SinkConfig, deliver_pages
from perfbench.gen import tail_line_count, write_backfill_files
from perfbench.probe import (
    Spans,
    StatusStore,
    progress_dicts,
    progress_start_ns,
    scan_tasks,
    trigger_metrics,
)
from perfbench.transport import (
    RecordingTransport,
    exactly_once_failures,
    read_calls,
    read_received,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

BACKFILL_LINES = 400_000     # input of the traced run's layer probes
BACKFILL_FILES = 16
# Lines/s offered by the generator: a 10-shard stream at Kinesis's
# public per-shard limit of 1 000 records/s (BASELINE.md).  The shard
# count is a choice, not a measurement of the reference's job.  On a
# 4-core host each 5 s trigger then runs ~2.4-2.9 s (20k lines/s:
# ~2.9-3.4 s), so addBatch and getBatch show in latency with room left
# for a slower host before the open loop saturates.
TAIL_RATE = 10_000
TAIL_FILES = 8
TAIL_WARM_LINES = 50_000     # backfilled once before the tail starts
TAIL_RECORD_FAIL_PER_MILLE = 10
TAIL_PAGE_FAIL_EVERY = 200
BATCH_SF_DIR = os.path.join(HERE, "data", "sf0.01")
ITERATIVE = ("pagerank_docs", "dedup_components")
ONEPLAN = ("line_dedup_pipeline", "quality_classifier_eval")
# The JVM keeps getting faster for about four passes over the query
# set, so the checked pass and these noop passes are all set-up.
BATCH_WARM_PASSES = 2
BATCH_PASS_S = 6.0           # a warm pass on a 4-core host


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: int
    trace: bool
    work: str
    spans: Spans
    store: StatusStore


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    measure_start: float = 0.0   # perf_counter when set-up ended

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.problems.append(why)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _pcts(values: np.ndarray) -> tuple[float, float]:
    p50, p99 = np.percentile(values, [50, 99])
    return float(p50), float(p99)


def transport_metrics(calls: np.ndarray, dropped: int) -> dict[str, float]:
    """Layer numbers of ``Transport.send`` from its call rows."""
    ok = calls[calls[:, 4] == 0]
    sent = int(calls[:, 2].sum())
    accepted = int((ok[:, 2] - ok[:, 3]).sum())
    return {
        "transport.send_calls": float(len(calls)),
        "transport.send_ms": float((calls[:, 1] - calls[:, 0]).mean()) / 1e6,
        "transport.records_retried": float(ok[:, 3].sum()),
        "transport.request_errors": float(calls[:, 4].sum()),
        "transport.records_dropped": float(dropped),
        "transport.useful_ratio": accepted / sent,
    }


def _send_spans(spans: Spans, calls: np.ndarray) -> None:
    """Merge executor-side send calls into the span tree, each under
    the addBatch phase that was running when it started."""
    for start, end, n, bad, raised in calls.tolist():
        parent = spans.parent_at("trigger.addBatch", start)
        spans.add("transport.send", start, end,
                  parent["id"] if parent else None,
                  parent["trace"] if parent else None,
                  records=n, failed=bad, raised=raised)


# -- backfill ------------------------------------------------------------

def _backfill_pass(ctx: Ctx, in_dir: str, n_lines: int,
                   res: Result) -> None:
    """Drain ``in_dir`` once with ``build_pipeline(available_now=True)``
    and a fresh checkpoint, checking every line arrives exactly once."""
    out = _fresh(os.path.join(ctx.work, "backfill-recv"))
    ckpt = os.path.join(ctx.work, "backfill-ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    query, stats = build_pipeline(
        ctx.spark, PipelineConfig(watch_dir=in_dir, checkpoint_dir=ckpt,
                                  available_now=True),
        RecordingTransport(out, ctx.seed))
    query.awaitTermination()
    rows = read_received(out)
    res.attempted += n_lines
    res.fail(max(exactly_once_failures(rows[:, 0], n_lines),
                 abs(stats.records_sent - n_lines)),
             f"backfill: {stats.records_sent} sent, {len(rows)} received "
             f"of {n_lines}")


def _wire(ctx: Ctx, in_dir: str):
    return envelope_to_json(envelope_projection(
        ctx.spark.read.text(in_dir), "perfbench"))


def _envelope_layer(ctx: Ctx, in_dir: str) -> dict[str, float]:
    """Batch read of the backfill input through the Envelope projection
    and JSON encoding into the noop sink."""
    times = []
    for _ in range(3):
        t0 = time.time_ns()
        _wire(ctx, in_dir).write.format("noop").mode("overwrite").save()
        t1 = time.time_ns()
        ctx.spans.add("envelope.noop", t0, t1, None, "envelope")
        times.append((t1 - t0) / 1e9)
    s = median(times)
    return {"envelope.s": s, "envelope.lines_per_s": BACKFILL_LINES / s}


def _deliver_layer(ctx: Ctx, in_dir: str, res: Result) -> dict[str, float]:
    """``deliver_pages`` alone, on a cached, already serialised frame."""
    wire = _wire(ctx, in_dir).cache()
    wire.count()
    runs = []
    for k in range(3):
        out = _fresh(os.path.join(ctx.work, f"deliver-{k}"))
        cursor = ctx.store.cursor()
        t0 = time.time_ns()
        deliver_pages(wire, RecordingTransport(out, ctx.seed),
                      SinkConfig())
        t1 = time.time_ns()
        ctx.spans.add("sink.deliver_pages", t0, t1, None, "deliver")
        work = ctx.store.work_since(cursor)
        rows = read_received(out)
        res.attempted += BACKFILL_LINES
        res.fail(exactly_once_failures(rows[:, 0], BACKFILL_LINES),
                 f"deliver_pages run {k}: {len(rows)} received")
        busiest = max(work.stages, key=lambda s: s.run_ms)
        task_ms = ctx.store.task_run_ms(busiest)
        runs.append({
            "s": (t1 - t0) / 1e9, "tasks": busiest.tasks,
            "skew": max(task_ms) / max(median(task_ms), 1),
            "shuffle_write_mb": sum(s.shuffle_write_bytes
                                    for s in work.stages) / 1e6})
        shutil.rmtree(out, ignore_errors=True)
    wire.unpersist()
    s = median([r["s"] for r in runs])
    return {"deliver.s": s, "deliver.lines_per_s": BACKFILL_LINES / s,
            "deliver.tasks": median([r["tasks"] for r in runs]),
            "deliver.task_skew": median([r["skew"] for r in runs]),
            "deliver.shuffle_write_mb": median(
                [r["shuffle_write_mb"] for r in runs])}


# -- tail ----------------------------------------------------------------

def tail(ctx: Ctx) -> Result:
    res = Result()
    # One small backfill through the same pipeline warms the JVM and
    # the Python workers, so the tail's first trigger is not cold.
    warm = os.path.join(ctx.work, "tail-warm")
    write_backfill_files(warm, ctx.seed, TAIL_WARM_LINES, TAIL_FILES)
    _backfill_pass(ctx, warm, TAIL_WARM_LINES, res)
    watch = _fresh(os.path.join(ctx.work, "tail-in"))
    spool = os.path.join(ctx.work, "tail-spool")
    out = _fresh(os.path.join(ctx.work, "tail-recv"))
    report = os.path.join(ctx.work, "tail-generator.json")
    tp = RecordingTransport(out, ctx.seed, TAIL_RECORD_FAIL_PER_MILLE,
                            TAIL_PAGE_FAIL_EVERY)
    query, stats, tailer = build_tailed_pipeline(
        ctx.spark, PipelineConfig(
            watch_dir=watch, checkpoint_dir=os.path.join(ctx.work,
                                                         "tail-ckpt")),
        tp, spool_dir=spool)
    # Spark fires processing-time triggers on multiples of the interval
    # since the epoch.  The generator starts on such a boundary, the
    # next trigger carries the first period of lines, and the measured
    # window covers the whole periods after it.
    period = FLUSH_INTERVAL_S * 1_000_000_000
    t0 = -(-(time.time_ns() + 500_000_000) // period) * period
    span = max(1, math.ceil(ctx.seconds / FLUSH_INTERVAL_S)) * period
    windows = [(t0 + period, t0 + period + span)]
    if ctx.trace:    # untraced window, then the same window traced
        windows.append((windows[0][1], windows[0][1] + span))
    stop = windows[-1][1]
    n = tail_line_count(t0, stop, TAIL_RATE)
    res.measure_start = time.perf_counter()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--dir", watch,
         "--seed", str(ctx.seed), "--rate", str(TAIL_RATE),
         "--files", str(TAIL_FILES),
         "--start-ns", str(t0), "--stop-ns", str(stop),
         "--report", report])
    polls: list[tuple[int, int, int]] = []
    cursor = None
    try:
        if ctx.trace:
            _sleep_until(windows[1][0])
            tp.trace = True     # picked up by the next micro-batch
            cursor = ctx.store.cursor()
            untimed = tailer.poll_once

            def timed_poll() -> int:
                a = time.time_ns()
                k = untimed()
                polls.append((a, time.time_ns(), k))
                return k
            tailer.poll_once = timed_poll
        gen.wait(timeout=(stop - time.time_ns()) / 1e9 + 30)
        if gen.returncode:
            raise RuntimeError(f"tail generator exited {gen.returncode}")
        deadline = time.time() + 30
        while (stats.records_sent + stats.records_dropped < n
               and time.time() < deadline and query.isActive):
            time.sleep(0.05)
        # The last lines go out inside a trigger whose progress report
        # is posted only when it ends.
        while (query.status["isTriggerActive"] and time.time() < deadline
               and query.isActive):
            time.sleep(0.05)
        if query.exception():
            raise query.exception()
        progress = progress_dicts(query)
        work = ctx.store.work_since(cursor) if cursor else None
        for p in progress:
            print(f"tail trigger {p['batchId']}: {p['numInputRows']} rows, "
                  f"addBatch {p['durationMs'].get('addBatch', 0)} ms, "
                  f"total {p['durationMs'].get('triggerExecution', 0)} ms",
                  file=sys.stderr)
    finally:
        query.stop()
        tailer.stop()
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    with open(report) as f:
        late = json.load(f)
    rows = read_received(out)
    res.attempted += n
    res.fail(max(exactly_once_failures(rows[:, 0], n),
                 abs(stats.records_sent - n)),
             f"tail: {stats.records_sent} sent, {len(rows)} received, "
             f"{stats.records_dropped} dropped of {n}")
    per_window = []
    for a, b in windows:
        sel = rows[(rows[:, 1] >= a) & (rows[:, 1] < b)]
        p50, p99 = _pcts((sel[:, 2] - sel[:, 1]) / 1e6)
        per_window.append({
            "p50": p50, "p99": p99,
            "rate": len(sel) / ((sel[:, 2].max() - a) / 1e9)})
    w = per_window[0]
    res.metrics = {"throughput_per_s": w["rate"], "p50_ms": w["p50"],
                   "p99_ms": w["p99"]}
    if ctx.trace:
        a, b = windows[1]
        res.layers.update(_tail_layers(ctx, a, b, polls, progress, work,
                                       read_calls(out), stats))
        res.layers["generator.late_p99_ms"] = late["late_p99_ms"]
        res.layers["trace.overhead_share"] = (
            per_window[1]["p50"] / per_window[0]["p50"] - 1.0)
        backfill = os.path.join(ctx.work, "backfill-in")
        write_backfill_files(backfill, ctx.seed, BACKFILL_LINES,
                          BACKFILL_FILES)
        res.layers.update(_envelope_layer(ctx, backfill))
        res.layers.update(_deliver_layer(ctx, backfill, res))
        res.layers["tail.single_thread_p50_ms"] = _single_thread_tail(ctx)
    return res


def _single_thread_tail(ctx: Ctx) -> float:
    """Reference point only: the same tail on one core, in a child
    benchmark process with ``SPARK_GRAFT_CPUS=1``."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "tail", "--seed", str(ctx.seed), "--seconds",
         str(FLUSH_INTERVAL_S), "--trace", "0"], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=120)
    if proc.returncode:
        raise RuntimeError("single-thread tail failed:\n"
                           + proc.stderr[-2000:])
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    return last["metrics"]["p50_ms"]["value"]


def _sleep_until(t_ns: int) -> None:
    time.sleep(max(0.0, (t_ns - time.time_ns()) / 1e9))


def _tail_layers(ctx: Ctx, a: int, b: int, polls, progress, work,
                 calls: np.ndarray, stats) -> dict[str, float]:
    period = FLUSH_INTERVAL_S * 1_000_000_000
    in_win = [p for p in polls if a <= p[0] < b]
    for s, e, k in in_win:
        ctx.spans.add("tailer.poll_once", s, e, None, "tailer", spooled=k)
    dur_ms = [(e - s) / 1e6 for s, e, _ in in_win] or [0.0]
    spool_bytes = 0
    spool = os.path.join(ctx.work, "tail-spool")
    for name in os.listdir(spool):
        if name[:1].isdigit() and a <= int(name.split("-")[0]) < b:
            spool_bytes += os.path.getsize(os.path.join(spool, name))
    # triggers that carry the window's lines start one period later
    trig = [p for p in progress
            if a + period <= progress_start_ns(p) < b + period]
    for p in trig:
        ctx.spans.trigger(p, f"batch-{p['batchId']}")
    win_calls = calls[(calls[:, 0] >= a + period)
                      & (calls[:, 0] < b + 2 * period)]
    _send_spans(ctx.spans, win_calls)
    layers = {
        "tailer.polls": float(len(in_win)),
        "tailer.poll_busy_share": sum(dur_ms) / ((b - a) / 1e6),
        "tailer.poll_p99_ms": float(np.percentile(dur_ms, 99)),
        "tailer.spool_files": float(sum(k for _, _, k in in_win)),
        "tailer.spool_mb": spool_bytes / 1e6,
    }
    layers.update(trigger_metrics(trig, scan_tasks(trig, work)))
    # capacity at this load, not the offered rate
    layers["trigger.lines_per_busy_s"] = float(np.median([
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1e3)
        for p in trig]))
    layers.update(transport_metrics(win_calls, stats.records_dropped))
    return layers


# -- batch ---------------------------------------------------------------

def load_table_hash():
    """tools/check.py's order-insensitive canonical hash."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


def batch(ctx: Ctx) -> Result:
    res = Result()
    specs = all_queries()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    table_hash = load_table_hash()
    names = list(ITERATIVE + ONEPLAN)
    rng = random.Random(ctx.seed)
    # Warm-up: a checked pass, then noop passes.
    for name in rng.sample(names, len(names)):
        df = specs[name].fn(ctx.spark, BATCH_SF_DIR)
        rows = [tuple(r) for r in df.collect()]
        got = {"rows": len(rows), "hash": table_hash(rows, df.columns)}
        res.attempted += 1
        res.fail(int(got != expected[name]),
                 f"{name}: got {got}, expected {expected[name]}")
    for _ in range(BATCH_WARM_PASSES):
        for name in rng.sample(names, len(names)):
            specs[name].fn(ctx.spark, BATCH_SF_DIR).write.format(
                "noop").mode("overwrite").save()
            res.attempted += 1
    res.measure_start = time.perf_counter()
    # A fixed number of passes, so a slow host does not get fewer.
    passes = max(3, math.ceil(ctx.seconds / BATCH_PASS_S))
    runs: dict[str, list[dict]] = {n: [] for n in names}
    for k in range(2 * passes if ctx.trace else passes):
        for name in rng.sample(names, len(names)):
            # traced runs alternate by query and pass, so each query
            # has as many of each kind and half of them run traced first
            traced = ctx.trace and (names.index(name) + k) % 2 == 1
            cursor = ctx.store.cursor() if traced else None
            t0 = time.time_ns()
            df = specs[name].fn(ctx.spark, BATCH_SF_DIR)
            t_call = time.time_ns()
            df.write.format("noop").mode("overwrite").save()
            t1 = time.time_ns()
            res.attempted += 1
            r = {"s": (t1 - t0) / 1e9, "traced": traced}
            if traced:
                r["work"] = ctx.store.work_since(cursor)
                trace = f"pass-{k}"
                root = ctx.spans.add(f"query.{name}", t0, t1, None, trace)
                # eager jobs (checkpoints, probes) run inside the call
                ctx.spans.add("registry.call", t0, t_call, root, trace)
                ctx.spans.add("noop.write", t_call, t1, root, trace)
            runs[name].append(r)
    for n, rs in runs.items():
        print(f"batch {n}: " + " ".join(f"{r['s']:.3f}" for r in rs)
              + " s", file=sys.stderr)
    # Per query, the fastest untraced run: interference from other
    # work on the host only ever adds time.
    best = {n: min(r["s"] for r in rs if not r["traced"])
            for n, rs in runs.items()}
    sets = {"batch.iterative_s": sum(best[n] for n in ITERATIVE),
            "batch.oneplan_s": sum(best[n] for n in ONEPLAN)}
    print("batch " + ", ".join(f"{k} {v:.3f}" for k, v in sets.items()),
          file=sys.stderr)
    p50, p99 = _pcts(np.array(list(best.values())) * 1000)
    res.metrics = {"throughput_per_s": len(names) / sum(best.values()),
                   "p50_ms": p50, "p99_ms": p99}
    if ctx.trace:
        res.layers.update(_batch_layers(runs))
        res.layers.update(sets)
        traced_s = sum(res.layers[f"q.{n}.s"] for n in names)
        res.layers["trace.overhead_share"] = (
            traced_s / sum(best.values()) - 1.0)
    return res


def _batch_layers(runs: dict[str, list[dict]]) -> dict[str, float]:
    """Layer numbers of each query's fastest traced run."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    layers: dict[str, float] = {}
    for name, rs in runs.items():
        r = min((r for r in rs if r["traced"]), key=lambda r: r["s"])
        w = r["work"]
        layers.update({
            f"q.{name}.s": r["s"],
            f"q.{name}.jobs": float(w.jobs),
            f"q.{name}.tasks": float(w.tasks),
            f"q.{name}.executor_run_s": w.run_s,
            f"q.{name}.shuffle_mb": w.shuffle_mb,
            f"q.{name}.driver_overhead_s": r["s"] - w.run_s / cores,
        })
    return layers


WORKLOADS = {"tail": tail, "batch": batch}
