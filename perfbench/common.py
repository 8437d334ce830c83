"""Pure helpers shared by the benchmark's main process, generators and
transport: line stamps, seeded hashing and /proc readers.

Nothing here imports Spark, so the generator process and the unit
tests load it cheaply.
"""

from __future__ import annotations

import base64
import os

import numpy as np

# Every generated line starts with a fixed-width stamp: the nanosecond
# time the line was due (19 digits), a space, its sequence number
# (9 digits) and a space.  30 bytes encode to exactly 40 base64 chars,
# so the stamp can be read back from the wire's base64 message field
# without decoding the rest of the line.
STAMP_LEN = 30
_B64_STAMP_LEN = 40
_MESSAGE_KEY = b'"message":"'
_POW10 = 10 ** np.arange(18, -1, -1, dtype=np.int64)


def make_stamp(due_ns: int, seq: int) -> bytes:
    return b"%019d %09d " % (due_ns, seq)


def parse_stamps(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode concatenated 30-byte stamps into (due_ns, seq) arrays."""
    if len(buf) % STAMP_LEN:
        raise ValueError(f"stamp buffer of {len(buf)} bytes is not a "
                         f"multiple of {STAMP_LEN}")
    raw = np.frombuffer(buf, dtype=np.uint8).reshape(-1, STAMP_LEN)
    if raw.size and not ((raw[:, 19] == 32).all()
                         and (raw[:, 29] == 32).all()):
        raise ValueError("malformed stamp")
    digits = raw.astype(np.int64) - 48
    for cols in (digits[:, :19], digits[:, 20:29]):
        if cols.size and (cols.min() < 0 or cols.max() > 9):
            raise ValueError("malformed stamp")
    due = digits[:, :19] @ _POW10
    seq = digits[:, 20:29] @ _POW10[10:]
    return due, seq


def wire_stamps(datas: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Stamps of wire records, the ``data`` of ``envelope_to_json``:
    the line sits base64-encoded in ``log_message.message``."""
    parts = []
    for d in datas:
        at = d.find(_MESSAGE_KEY)
        if at < 0:
            raise ValueError("wire record has no message field")
        at += len(_MESSAGE_KEY)
        parts.append(d[at:at + _B64_STAMP_LEN])
    return parse_stamps(base64.b64decode(b"".join(parts)))


def mix(values: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of ``values`` keyed by ``seed``: a seeded, stateless
    hash, so executors and the driver agree on which record fails."""
    x = values.astype(np.uint64) + np.uint64(
        (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def skew_weights(n: int) -> np.ndarray:
    """Key skew 1/(i+1) over ``n`` files, normalised to sum to 1."""
    w = 1.0 / np.arange(1, n + 1)
    return w / w.sum()


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))
