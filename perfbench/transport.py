"""The benchmark's delivery endpoint: counts, stamps and fails records.

``RecordingTransport`` runs where ``deliver_pages`` runs, inside the
executors' Python workers, so it keeps no shared state: each instance
appends what it saw to files under ``out_dir`` and the driver reads
them back after the run.

* ``recv-*.bin``: one (seq, due ns, receipt ns) int64 row per accepted
  record, the seq and due time read back from the line's stamp.
* ``calls-*.bin``, only when ``trace`` is set: one (start ns, end ns,
  records, failed, raised) int64 row per ``send`` call, the
  executor-side spans and counters.

Faults are seeded and stateless across processes: a record whose
``mix(seq)`` falls under ``record_fail_per_mille`` fails its first
attempt (the PutRecords per-record ErrorCode, B5), and a page whose
first seq hashes to 0 modulo ``page_fail_every`` fails once as a whole
request (B4).  Retries of a page stay in the task that sent it, so the
per-instance memory of what already failed is enough.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np

from cga_logs_to_kinesis_spark.streaming.sink import Transport
from perfbench.common import mix, wire_stamps

_PAGE_SALT = 0x5EED


class RecordingTransport(Transport):

    def __init__(self, out_dir: str, seed: int = 0,
                 record_fail_per_mille: int = 0,
                 page_fail_every: int = 0, trace: bool = False):
        self.out_dir = out_dir
        self.trace = trace
        self.seed = seed
        self.record_fail_per_mille = record_fail_per_mille
        self.page_fail_every = page_fail_every
        self._token = None
        self._failed_once: set[int] = set()
        self._pages_failed: set[int] = set()

    def _append(self, kind: str, arr: np.ndarray) -> None:
        if self._token is None:
            self._token = f"{os.getpid()}-{uuid.uuid4().hex[:12]}"
        with open(os.path.join(self.out_dir,
                               f"{kind}-{self._token}.bin"), "ab") as f:
            f.write(arr.astype(np.int64).tobytes())

    def send(self, stream, page):
        start = time.time_ns()
        due, seq = wire_stamps([d for d, _k in page])
        if (self.page_fail_every and seq.size
                and int(seq[0]) not in self._pages_failed
                and int(mix(seq[:1], self.seed ^ _PAGE_SALT)[0]
                        % np.uint64(self.page_fail_every)) == 0):
            self._pages_failed.add(int(seq[0]))
            if self.trace:
                self._append("calls", np.array(
                    [start, time.time_ns(), seq.size, seq.size, 1]))
            raise ConnectionError("injected whole-request failure")
        failed = np.zeros(seq.size, dtype=bool)
        if self.record_fail_per_mille:
            hit = (mix(seq, self.seed) % np.uint64(1000)
                   < np.uint64(self.record_fail_per_mille))
            for i in np.flatnonzero(hit):
                s = int(seq[i])
                if s not in self._failed_once:
                    self._failed_once.add(s)
                    failed[i] = True
        ok = ~failed
        self._append("recv", np.column_stack(
            [seq[ok], due[ok], np.full(int(ok.sum()), start)]))
        if self.trace:
            self._append("calls", np.array(
                [start, time.time_ns(), seq.size, int(failed.sum()), 0]))
        return np.flatnonzero(failed).tolist()


def read_received(out_dir: str) -> np.ndarray:
    """All accepted records as rows of (seq, due ns, receipt ns)."""
    arrs = [np.fromfile(os.path.join(out_dir, n), dtype=np.int64)
            for n in sorted(os.listdir(out_dir)) if n.startswith("recv-")]
    flat = np.concatenate(arrs) if arrs else np.zeros(0, dtype=np.int64)
    return flat.reshape(-1, 3)


def read_calls(out_dir: str) -> np.ndarray:
    """Every ``send`` call as rows of (start ns, end ns, records,
    failed, raised)."""
    arrs = [np.fromfile(os.path.join(out_dir, n), dtype=np.int64)
            for n in sorted(os.listdir(out_dir)) if n.startswith("calls-")]
    flat = np.concatenate(arrs) if arrs else np.zeros(0, dtype=np.int64)
    return flat.reshape(-1, 5)


def exactly_once_failures(seq: np.ndarray, expected: int) -> int:
    """Lines not delivered exactly once: each of ``range(expected)``
    missing or received more than once counts once, and so does any
    seq outside that range."""
    inside = seq[(seq >= 0) & (seq < expected)]
    counts = np.bincount(inside, minlength=expected)
    return int((counts != 1).sum()) + int(seq.size - inside.size)
