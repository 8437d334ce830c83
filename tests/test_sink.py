"""Delivery-sink semantics: batch cut, retry, drop — against
fault-injecting transports reproducing PutRecordsResp partial failures
(reference kinesis.go:463-474, batchproducer.go:326-444).

Transports run inside executor Python workers (mapInPandas), so tests
assert via the returned per-page stats and via files written to the
shared local filesystem — never via driver-side transport state.
"""

from __future__ import annotations

import json

import pytest

from cga_logs_to_kinesis_spark.streaming.faults import (
    CrashingTransport,
    JsonDirTransport,
    PartialFailTransport,
)
from cga_logs_to_kinesis_spark.streaming.sink import SinkConfig, deliver_pages


def _records_df(spark, n, key="k"):
    return spark.createDataFrame(
        [(f"record-{i}".encode(), key) for i in range(n)],
        "data binary, partition_key string")


def test_page_cut_at_500(spark):
    # single-partition input so one task pages all 1200 records
    df = _records_df(spark, 1200).coalesce(1)
    stats = deliver_pages(df, JsonDirTransport("/tmp/_ignored"),
                          SinkConfig(), per_page=True)
    # ≤500 per page (B2, reference batchproducer.go:14): 500+500+200
    assert sorted(stats["records_sent"]) == [200, 500, 500]
    assert stats["records_dropped"].sum() == 0
    # the default (driver-bounded) view folds those pages Spark-side:
    # one row per partition key, O(keys) on the driver regardless of
    # batch size, with identical counter totals
    agg = deliver_pages(df, JsonDirTransport("/tmp/_ignored"),
                        SinkConfig())
    assert len(agg) == 1
    assert int(agg["pages"].iloc[0]) == 3
    assert int(agg["records_sent"].sum()) == 1200


def test_per_record_retry_then_success(spark):
    tp = PartialFailTransport(fail_attempts=2)
    df = spark.createDataFrame(
        [(b"ok-1", "k"), (b"poison-1", "k"), (b"ok-2", "k")],
        "data binary, partition_key string").coalesce(1)
    stats = deliver_pages(df, tp, SinkConfig(base_backoff_s=0))
    assert stats["records_sent"].sum() == 3   # retried within budget
    assert stats["records_dropped"].sum() == 0


def test_per_record_drop_after_max_attempts(spark):
    tp = PartialFailTransport(fail_attempts=99)
    df = spark.createDataFrame(
        [(b"ok-1", "k"), (b"poison-1", "k")],
        "data binary, partition_key string").coalesce(1)
    stats = deliver_pages(df, tp,
                          SinkConfig(base_backoff_s=0,
                                     max_attempts_per_record=5))
    assert stats["records_sent"].sum() == 1
    assert stats["records_dropped"].sum() == 1   # B5 drop policy
    # page needed exactly MaxAttemptsPerRecord passes to exhaust budget
    assert stats["attempts"].max() == 5


def test_request_error_backoff_then_delivery(spark):
    tp = CrashingTransport(crashes=3)
    df = _records_df(spark, 10).coalesce(1)
    stats = deliver_pages(df, tp, SinkConfig(base_backoff_s=0))
    assert stats["records_sent"].sum() == 10
    assert stats["request_errors"].sum() == 3
    assert stats["attempts"].max() == 4


def test_bounded_retry_drops_after_max_request_attempts(spark):
    """A persistently failing transport must not hang the task: after
    max_request_attempts the page is dropped and counted (liveness
    bound on the B4 retry loop; the reference's unbounded doubling can
    park its producer indefinitely)."""
    tp = CrashingTransport(crashes=10**9)
    df = _records_df(spark, 10).coalesce(1)
    cfg = SinkConfig(base_backoff_s=0, max_request_attempts=3)
    stats = deliver_pages(df, tp, cfg)
    assert stats["records_sent"].sum() == 0
    assert stats["records_dropped"].sum() == 10
    assert stats["request_errors"].sum() == 3
    assert stats["attempts"].max() == 3


def test_load_shed_when_enabled(spark):
    tp = CrashingTransport(crashes=99)
    df = _records_df(spark, 10).coalesce(1)
    cfg = SinkConfig(base_backoff_s=0, shed=True,
                     max_consecutive_errors_shed=5)
    stats = deliver_pages(df, tp, cfg)
    assert stats["records_dropped"].sum() == 10   # B6 whole-batch shed
    assert stats["records_sent"].sum() == 0


def test_delivery_completeness_across_tasks(spark, tmp_path):
    """Every record delivered exactly once even when the input arrives
    pre-shuffled across many partitions."""
    out = tmp_path / "pages"
    rows = [(f"r{i}".encode(), f"key-{i % 3}") for i in range(30)]
    df = spark.createDataFrame(
        rows, "data binary, partition_key string").repartition(8)
    stats = deliver_pages(df, JsonDirTransport(str(out)), SinkConfig())
    assert stats["records_sent"].sum() == 30
    delivered = []
    for f in out.glob("page-*.json"):
        delivered.extend(tuple(x) for x in json.loads(f.read_text()))
    assert sorted(delivered) == sorted(
        (f"r{i}", f"key-{i % 3}") for i in range(30))


@pytest.mark.parametrize("n", [0, 1])
def test_empty_and_single(spark, n):
    stats = deliver_pages(_records_df(spark, n).coalesce(1),
                          JsonDirTransport("/tmp/_ignored"), SinkConfig())
    assert stats["records_sent"].sum() == n


def test_delivery_stats_memory_is_flat_over_many_batches():
    """A long-lived daemon folds every micro-batch into DeliveryStats:
    it must keep only its integer counters, never a per-batch
    record, however many batches arrive."""
    from cga_logs_to_kinesis_spark.streaming.sink import DeliveryStats

    stats = DeliveryStats()
    row = {"records_sent": 3, "records_dropped": 1, "request_errors": 2}
    for _ in range(10_000):
        stats.update([row, row])
    assert vars(stats) == {"records_sent": 60_000,
                           "records_dropped": 20_000,
                           "request_errors": 40_000,
                           "batches": 10_000}


def test_firehose_sink_delivery_and_retry(spark, tmp_path):
    """K5: the Firehose PutRecordBatch sink is the same
    page/retry/drop machinery over a Data-only transport — poisoned
    records retry per-record then deliver, every record lands exactly
    once, and no partition key leaks into the delivered payloads
    (reference firehose.go:78-90)."""
    import glob

    from cga_logs_to_kinesis_spark.streaming.faults import (
        FirehoseFakeTransport,
    )

    out = str(tmp_path / "fh")
    n = 700                                    # forces two pages
    rows = [(f"rec-{i}" + ("-poison" if i % 97 == 0 else ""), f"k{i%5}")
            for i in range(n)]
    df = spark.createDataFrame(rows, "data string, partition_key string") \
        .selectExpr("CAST(data AS BINARY) AS data", "partition_key") \
        .coalesce(1)
    tp = FirehoseFakeTransport(out, fail_attempts=2)
    stats = deliver_pages(df, tp, SinkConfig(base_backoff_s=0))
    assert int(stats["records_sent"].sum()) == n
    assert int(stats["records_dropped"].sum()) == 0
    got = []
    for path in glob.glob(out + "/*.jsonl"):
        with open(path, "rb") as f:
            got += [ln for ln in f.read().split(b"\n") if ln]
    assert sorted(got) == sorted(
        d.encode() for d, _ in rows), "lost or duplicated records"
    assert all(b"k0" not in g or b"rec" in g for g in got)


def test_firehose_fake_rejects_oversized_batch():
    """The local double enforces the real API's 500-record cap, so a
    page-cut regression cannot hide behind a permissive fake."""
    import pytest as _pytest

    from cga_logs_to_kinesis_spark.streaming.faults import (
        FirehoseFakeTransport,
    )

    tp = FirehoseFakeTransport("/tmp/_unused")
    with _pytest.raises(ValueError):
        tp.send("s", [(b"x", "k")] * 501)


def test_transports_accept_str_payloads(tmp_path):
    """The Transport contract accepts str and utf-8-encodes it
    (DirStreamTransport/deliver_pages do); the Firehose double and
    the signed wire builder must match instead of crashing on
    bytes(str)."""
    import base64
    import json

    from cga_logs_to_kinesis_spark.streaming.faults import (
        FirehoseFakeTransport,
    )
    from cga_logs_to_kinesis_spark.streaming.sink import (
        build_put_records_request,
    )

    t = FirehoseFakeTransport(str(tmp_path / "fh"))
    assert t.send("s", [("héllo\n", "k"), (b"raw\n", "k")]) == []
    req = build_put_records_request(
        stream="s", page=[("héllo", "k"), (b"raw", "k")],
        region="us-east-1", access_key="AK", secret_key="SK",
        amz_date="20260815T000000Z")
    records = json.loads(req["body"])["Records"]
    assert base64.b64decode(records[0]["Data"]) == "héllo".encode()
    assert base64.b64decode(records[1]["Data"]) == b"raw"


def test_sigv4_transport_end_to_end_against_local_kinesis_fake(spark,
                                                               tmp_path):
    """The full no-boto3 wire path, offline: deliver_pages pages the
    batch, sigv4_transport signs and POSTs x-amz-json-1.1 PutRecords
    to a local http.server whose handler independently RE-SIGNS the
    request (403 on mismatch), throttles poison records once (per-
    record ErrorCode slots), and persists delivered Data — so the
    page/retry machinery, the SigV4 signature, and the response
    decode are all exercised together."""
    import base64
    import contextlib
    import http.server
    import json as _json
    import threading

    from cga_logs_to_kinesis_spark.functions.credentials import (
        Credentials, Provider,
    )
    from cga_logs_to_kinesis_spark.functions.sigv4 import sign_request
    from cga_logs_to_kinesis_spark.streaming.sink import (
        sigv4_transport,
    )

    creds = Credentials("AKTEST", "SKTEST", "TOKTEST")

    class StaticProv(Provider):
        def get(self):
            return creds

    delivered: list[tuple[bytes, str]] = []
    throttled: set[bytes] = set()
    seen_targets: list[str] = []

    class KinesisFake(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            expect = sign_request(
                access_key=creds.access_key,
                secret_key=creds.secret_key,
                region="us-east-1", service="kinesis", method="POST",
                path="/", query=[],
                headers={
                    "Host": self.headers["Host"],
                    "Content-Type": self.headers["Content-Type"],
                    "X-Amz-Target": self.headers["X-Amz-Target"],
                    "X-Amz-Date": self.headers["X-Amz-Date"],
                },
                payload=body, session_token=creds.session_token)
            if self.headers["Authorization"] != expect.authorization:
                self.send_error(403, "signature mismatch")
                return
            seen_targets.append(self.headers["X-Amz-Target"])
            req = _json.loads(body)
            out = []
            for rec in req["Records"]:
                data = base64.b64decode(rec["Data"])
                if b"poison" in data and data not in throttled:
                    throttled.add(data)
                    out.append({"ErrorCode":
                                "ProvisionedThroughputExceededException"})
                else:
                    delivered.append((data, rec["PartitionKey"]))
                    out.append({"SequenceNumber": str(len(delivered)),
                                "ShardId": "shardId-000000000000"})
            resp = _json.dumps({
                "FailedRecordCount": sum(1 for r in out
                                         if "ErrorCode" in r),
                "Records": out}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

    @contextlib.contextmanager
    def serve():
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0),
                                              KinesisFake)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            yield f"http://127.0.0.1:{srv.server_address[1]}"
        finally:
            srv.shutdown()
            t.join(timeout=5)

    rows = [((f"rec-{i}" + ("-poison" if i % 7 == 0 else "")).encode(),
             f"k{i % 3}") for i in range(30)]
    df = spark.createDataFrame(
        rows, "data binary, partition_key string").coalesce(1)
    with serve() as url:
        tp = sigv4_transport("us-east-1", provider=StaticProv(),
                             endpoint_url=url)
        stats = deliver_pages(df, tp, SinkConfig(base_backoff_s=0))
    assert int(stats["records_sent"].sum()) == 30
    assert int(stats["records_dropped"].sum()) == 0
    assert sorted(delivered) == sorted(rows), "lost/duplicated records"
    assert set(seen_targets) == {"Kinesis_20131202.PutRecords"}
