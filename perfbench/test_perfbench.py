"""Tests of the benchmark's own parts: ``python -m pytest perfbench``."""

from __future__ import annotations

import base64
import json

import numpy as np
import pytest

from perfbench.common import (
    make_stamp,
    mix,
    parse_stamps,
    skew_weights,
    wire_stamps,
)
from perfbench.gen import tail_line_count, write_backfill_files
from perfbench.probe import Spans
from perfbench.transport import (
    RecordingTransport,
    exactly_once_failures,
    read_calls,
    read_received,
)


def _wire(line: bytes) -> bytes:
    """A record shaped like ``envelope_to_json``'s ``data`` column."""
    return json.dumps({
        "origin": "o", "event_type": "LogMessage",
        "timestamp": 1792211253868650000,
        "log_message": {"message": base64.b64encode(line).decode(),
                        "message_type": "OUT"}},
        separators=(",", ":")).encode()


def test_stamp_round_trip():
    due = [0, 1, 1792211253868650123, 9_223_372_036_854_775_807]
    seq = [0, 999_999_999, 42, 7]
    buf = b"".join(make_stamp(d, s) for d, s in zip(due, seq))
    got_due, got_seq = parse_stamps(buf)
    assert got_due.tolist() == due
    assert got_seq.tolist() == seq


def test_stamp_from_wire_record():
    lines = [make_stamp(1792211253868650000 + i, i) + b"INFO x y\n"
             for i in range(5)]
    due, seq = wire_stamps([_wire(ln) for ln in lines])
    assert seq.tolist() == list(range(5))
    assert (due - 1792211253868650000).tolist() == list(range(5))


@pytest.mark.parametrize("bad", [b"x" * 30, b"1" * 29,
                                 b"0" * 19 + b" " + b"0" * 9 + b"-"])
def test_malformed_stamp_rejected(bad):
    with pytest.raises(ValueError):
        parse_stamps(bad)


def test_mix_is_seeded_and_stateless():
    x = np.arange(10_000)
    assert (mix(x, 1) == mix(x, 1)).all()
    assert (mix(x, 1) != mix(x, 2)).mean() > 0.99
    assert 0.005 < (mix(x, 1) % np.uint64(100) == 0).mean() < 0.015


def test_exactly_once_failures():
    assert exactly_once_failures(np.array([0, 1, 2]), 3) == 0
    assert exactly_once_failures(np.array([0, 2]), 3) == 1       # missing
    assert exactly_once_failures(np.array([0, 1, 1, 2]), 3) == 1  # dup
    assert exactly_once_failures(np.array([0, 1, 2, 9]), 3) == 1  # stray


def test_backfill_files_are_seeded_and_skewed(tmp_path):
    a = write_backfill_files(str(tmp_path / "a"), 5, 20_000, 16)
    b = write_backfill_files(str(tmp_path / "b"), 5, 20_000, 16)
    assert a == b and sum(a) == 20_000
    assert a[0] > 3 * a[-1]
    assert (tmp_path / "a" / "host-00.log").read_bytes() == (
        tmp_path / "b" / "host-00.log").read_bytes()
    assert skew_weights(16).sum() == pytest.approx(1.0)


def test_tail_line_count():
    assert tail_line_count(0, 1_000_000_000, 10_000) == 10_000
    assert tail_line_count(0, 1, 10_000) == 1


def test_transport_faults_and_records(tmp_path):
    page = [(_wire(make_stamp(100 + i, i) + b"m\n"), "k") for i in range(500)]
    tp = RecordingTransport(str(tmp_path), seed=7,
                            record_fail_per_mille=100, trace=True)
    failed = tp.send("s", page)
    assert 20 < len(failed) < 90
    # retries of the failed records succeed: faults hit a first attempt
    assert tp.send("s", [page[i] for i in failed]) == []
    rows = read_received(str(tmp_path))
    assert sorted(rows[:, 0].tolist()) == list(range(500))
    assert (rows[:, 1] == rows[:, 0] + 100).all()
    calls = read_calls(str(tmp_path))
    assert calls[:, 2].tolist() == [500, len(failed)]
    assert calls[:, 3].tolist() == [len(failed), 0]


def test_transport_page_fault_fires_once(tmp_path):
    page = [(_wire(make_stamp(0, i) + b"m\n"), "k") for i in range(3)]
    tp = RecordingTransport(str(tmp_path), seed=1, page_fail_every=1,
                            trace=True)
    with pytest.raises(ConnectionError):
        tp.send("s", page)
    assert tp.send("s", page) == []
    assert read_calls(str(tmp_path))[:, 4].tolist() == [1, 0]


def test_span_self_time():
    sp = Spans()
    root = sp.add("root", 0, 10_000_000)
    sp.add("a", 1_000_000, 4_000_000, root)
    sp.add("b", 3_000_000, 6_000_000, root)    # overlaps a
    sp.add("c", 9_000_000, 12_000_000, root)   # runs past the parent
    self_ms = sp.self_ms()
    assert self_ms["root"] == pytest.approx(10 - 5 - 1)
    assert self_ms["a"] == pytest.approx(3)
    assert sp.parent_at("a", 2_000_000)["id"] == 2


def test_status_store_reader_on_a_known_query():
    from cga_logs_to_kinesis_spark.session import get_session
    from perfbench.probe import StatusStore

    spark = get_session("perfbench-test")
    store = StatusStore(spark)
    cursor = store.cursor()
    rows = (spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
            .groupBy("k").count().collect())
    assert len(rows) == 7
    work = store.work_since(cursor)
    assert work.jobs >= 1
    scan = [s for s in work.stages if s.shuffle_write_bytes > 0]
    assert [s.tasks for s in scan] == [4]
    assert work.shuffle_mb > 0
    assert work.run_s >= 0
    task_ms = store.task_run_ms(scan[0])
    assert len(task_ms) == 4
    assert store.work_since(store.cursor()).jobs == 0
