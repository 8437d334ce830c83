"""Benchmark of the log-shipping engine: one workload per run.

    python3 perfbench/run.py --workload {tail,batch} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, each
metric a ``{"value", "unit"}`` pair.  With ``--trace 0`` the metrics
are the end-to-end ones named in ``BENCHMARK.json``; with ``--trace 1``
they are its per-layer ones, and the spans go to
``perfbench/_work/spans-<workload>-<seed>.json``.

The end-to-end metrics carry the same names on every workload; what
each one measures per workload, and which layer metric should move
which end-to-end one, is in ``perfbench/README.md``.

Operations that fail, and output that does not check, are counted in
``failed`` against ``attempted``; any such failure makes the run exit
with status 1.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Layers a workload never reaches read zero there.
UNTOUCHED = {
    "tail": ("q.", "batch."),
    "batch": ("tailer.", "generator.", "trigger.", "envelope.", "deliver.",
              "transport.", "tail."),
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(work: str, cpus: int) -> None:
    """Keep Spark's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " pyspark-shell")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(UNTOUCHED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    spec = _spec()

    sys.path.insert(0, ROOT)
    from perfbench.common import cpu_count
    work = os.path.join(HERE, "_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, cpu_count())
    try:
        return _run(a, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, spec: dict, work: str) -> int:
    from pyspark import cloudpickle

    import perfbench.common
    import perfbench.transport
    from cga_logs_to_kinesis_spark.session import get_session
    from perfbench.common import peak_rss_mb
    from perfbench.probe import Spans, StatusStore
    from perfbench.workloads import WORKLOADS, Ctx

    # Executors unpickle the transport without importing this package.
    cloudpickle.register_pickle_by_value(perfbench.common)
    cloudpickle.register_pickle_by_value(perfbench.transport)

    spans = Spans()
    t0 = time.time_ns()
    spark = get_session("perfbench")
    spark.range(1).count()
    t1 = time.time_ns()
    spans.add("session.start", t0, t1, None, "session")
    try:
        ctx = Ctx(spark=spark, seed=a.seed, seconds=a.seconds,
                  trace=bool(a.trace), work=work, spans=spans,
                  store=StatusStore(spark))
        res = WORKLOADS[a.workload](ctx)
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        print(f"peak rss: python {peak_rss_mb([os.getpid()]):.0f} MB, "
              f"jvm {peak_rss_mb([jvm_pid]):.0f} MB", file=sys.stderr)
    finally:
        _stop_spark(spark)

    if a.trace:
        wanted = spec["per_layer"]
        values = {"session.start_s": (t1 - t0) / 1e9,
                  "session.peak_rss_mb": rss, **res.layers}
        for m in wanted:
            if m["name"] not in values and m["name"].startswith(
                    UNTOUCHED[a.workload]):
                values[m["name"]] = 0.0
        path = os.path.join(HERE, "_work",
                            f"spans-{a.workload}-{a.seed}.json")
        spans.write(path)
        print(f"spans: {path}", file=sys.stderr)
    else:
        wanted = spec["end_to_end"]
        values = {"setup_s": res.measure_start - T_PROCESS,
                  **res.metrics}
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    for p in res.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = res.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in wanted}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
