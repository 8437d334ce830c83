"""Seeded input generators.

``write_backfill_files`` writes a backfill of stamped log files.  Run
as a script, this module is the ``tail`` load generator: a process of
its own that appends stamped lines to skewed files on a fixed
schedule, never slowing down when the system under test stalls, and
reports how late it ran::

    python3 perfbench/gen.py --dir D --seed S --rate R --files F \\
        --start-ns T0 --stop-ns T1 --report out.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

from perfbench.common import make_stamp, skew_weights  # noqa: E402

_LEVELS = ("INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG")
_WORDS = ("request", "handled", "upstream", "timeout", "cache", "miss",
          "user", "session", "route", "GET", "POST", "/v1/items",
          "latency", "bytes", "worker", "retry", "ok", "status=200",
          "status=503", "db", "query", "pool", "conn", "released")


BODY_LEN = 90   # bytes after the stamp, newline included
N_BODIES = 1024
TICK_S = 0.01   # the tail generator's longest sleep


def fillers(seed: int) -> list[bytes]:
    """``N_BODIES`` seeded syslog-like message bodies of exactly ``BODY_LEN``
    bytes, each ending in a newline (the stamp goes in front).  A fixed
    line length keeps file sizes, and so Spark's split planning, the
    same for every seed."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(N_BODIES):
        words = []
        while sum(len(w) + 1 for w in words) < BODY_LEN:
            words.append(_WORDS[int(rng.integers(len(_WORDS)))])
        head = (f"{_LEVELS[int(rng.integers(len(_LEVELS)))]} "
                f"svc-{int(rng.integers(32)):02d}"
                f"[{int(rng.integers(10000, 100000))}]:")
        out.append(f"{head} {' '.join(words)}".encode()[:BODY_LEN - 1]
                   + b"\n")
    return out


def skewed_files(rng: np.random.Generator, n_lines: int,
                 n_files: int) -> np.ndarray:
    """File of each line: file i holds round(n_lines / (i+1) / H)
    lines (the remainder goes to file 0), in a seeded order."""
    counts = np.floor(n_lines * skew_weights(n_files)).astype(np.int64)
    counts[0] += n_lines - counts.sum()
    return rng.permutation(np.repeat(np.arange(n_files), counts))


def write_backfill_files(out_dir: str, seed: int, n_lines: int,
                         n_files: int) -> list[int]:
    """Write ``n_lines`` stamped lines over ``n_files`` files, file i
    holding a share of 1/(i+1).  Returns the line count per file."""
    rng = np.random.default_rng(seed)
    file_of = skewed_files(rng, n_lines, n_files)
    body_of = rng.integers(N_BODIES, size=n_lines)
    bodies = fillers(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = []
    for f in range(n_files):
        seqs = np.flatnonzero(file_of == f)
        with open(os.path.join(out_dir, f"host-{f:02d}.log"), "wb") as fh:
            fh.write(b"".join(make_stamp(0, int(s)) + bodies[body_of[s]]
                             for s in seqs))
        counts.append(int(seqs.size))
    return counts


def tail_line_count(start_ns: int, stop_ns: int, rate: float) -> int:
    """Lines due in [start_ns, stop_ns) at ``rate`` lines/s."""
    return int(np.ceil((stop_ns - start_ns) * rate / 1e9))


def run_tail_generator(out_dir: str, seed: int, rate: float,
                       start_ns: int, stop_ns: int, n_files: int) -> dict:
    """Append line i, due at ``start_ns + i / rate``, to its seeded
    file as soon as it is due.  Each line is stamped with its due time,
    so delivery latency includes any stall of this generator."""
    n = tail_line_count(start_ns, stop_ns, rate)
    period = 1e9 / rate
    rng = np.random.default_rng(seed)
    file_of = skewed_files(rng, n, n_files)
    body_of = rng.integers(N_BODIES, size=n)
    bodies = fillers(seed)
    os.makedirs(out_dir, exist_ok=True)
    handles = [open(os.path.join(out_dir, f"app-{f:02d}.log"), "ab",
                    buffering=0) for f in range(n_files)]
    late = np.zeros(n, dtype=np.int64)
    try:
        nxt = 0
        while nxt < n:
            now = time.time_ns()
            upto = min(n, int((now - start_ns) // period) + 1)
            if upto > nxt:
                chunks: list[list[bytes]] = [[] for _ in range(n_files)]
                for s in range(nxt, upto):
                    due = start_ns + int(s * period)
                    chunks[file_of[s]].append(
                        make_stamp(due, s) + bodies[body_of[s]])
                for f, lines in enumerate(chunks):
                    if lines:
                        handles[f].write(b"".join(lines))
                done = time.time_ns()
                dues = start_ns + (np.arange(nxt, upto) * period).astype(
                    np.int64)
                late[nxt:upto] = done - dues
                nxt = upto
            wake = start_ns + nxt * period
            time.sleep(max(0.0, min(TICK_S, (wake - time.time_ns()) / 1e9)))
    finally:
        for h in handles:
            h.close()
    late_ms = late / 1e6 if n else np.zeros(1)
    p50, p99 = np.percentile(late_ms, [50, 99])
    return {"lines": n, "late_p50_ms": float(p50), "late_p99_ms": float(p99),
            "late_max_ms": float(late_ms.max())}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--start-ns", type=int, required=True)
    ap.add_argument("--stop-ns", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args(argv)
    report = run_tail_generator(a.dir, a.seed, a.rate, a.start_ns,
                                a.stop_ns, a.files)
    tmp = a.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(report, f)
    os.replace(tmp, a.report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
