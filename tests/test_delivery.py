"""Delivery transports (K3/K4), streaming incremental (T1), and
multimodal plumbing."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazon_personalize_connectors_spark.functions.multimodal import (
    attach_fake_media,
    decode_media,
    fake_decoder,
)
from amazon_personalize_connectors_spark.sinks.transport import (
    SQS_MAX_BATCH,
    deliver,
    deliver_and_collect_failures,
)
from amazon_personalize_connectors_spark.streaming.incremental import (
    incremental_pipeline_run,
)
from transport_doubles import (
    FlakyTransport,
    RecordingTransport,
    SpoolingQueueTransport,
)


@pytest.fixture()
def payloads(spark):
    rows = [(str(i), [f"it{i}a", f"it{i}b"]) for i in range(23)]
    return spark.createDataFrame(
        rows, "external_id string, recs_itemId array<string>"
    ).repartition(2)


def test_deliver_chunks_and_succeeds(payloads, tmp_path):
    spool = str(tmp_path / "spool")
    failures = deliver(payloads, lambda: RecordingTransport(spool), batch_size=5)
    assert failures.count() == 0
    batches = RecordingTransport.read_batches(spool)
    sent = [r for b in batches for r in b]
    assert len(sent) == 23
    assert {r["external_id"] for r in sent} == {str(i) for i in range(23)}
    assert all(len(b) <= 5 for b in batches)
    # rank order survives the JSON round-trip
    rec = next(r for r in sent if r["external_id"] == "7")
    assert rec["recs_itemId"] == ["it7a", "it7b"]


def test_deliver_routes_failures_to_dlq(payloads, tmp_path):
    n = deliver_and_collect_failures(
        payloads,
        lambda: RecordingTransport(str(tmp_path / "spool"), fail_keys=("3",)),
        batch_size=1,
        dlq_path=str(tmp_path / "dlq"),
    )
    assert n == 1
    dlq = [
        json.loads(line)
        for f in os.listdir(tmp_path / "dlq")
        if f.endswith(".json")
        for line in open(tmp_path / "dlq" / f)
    ]
    assert len(dlq) == 1
    assert json.loads(dlq[0]["record_json"])["external_id"] == "3"
    assert "TransportError" in dlq[0]["error"]


def test_queue_transport_pins_reference_entry_scheme(spark, tmp_path):
    """K3 — entry id `{i}-{userId}` with i the 0-based position within
    the batch, user id = queryUserId else userId (enq:53-67), body =
    full JSON record, batches of at most 10."""
    rows = [(f"qu{i}", None, f"it{i}") for i in range(12)] + [
        (None, "plain-user", "it99")  # related-items shape: only userId
    ]
    frame = spark.createDataFrame(
        rows, "queryUserId string, userId string, item string"
    ).coalesce(1)
    spool = str(tmp_path / "qspool")
    failures = deliver(
        frame, lambda: SpoolingQueueTransport(spool), batch_size=SQS_MAX_BATCH
    )
    assert failures.count() == 0
    batches = SpoolingQueueTransport.read_entry_batches(spool)
    assert sorted(len(b) for b in batches) == [3, 10]
    for batch in batches:
        for i, entry in enumerate(batch):
            rec = json.loads(entry["MessageBody"])
            uid = rec.get("queryUserId") or rec.get("userId")
            assert entry["Id"] == f"{i}-{uid}"
    all_ids = {e["Id"].split("-", 1)[1] for b in batches for e in b}
    assert "plain-user" in all_ids  # E4 coalesce fell back to userId


def test_queue_transport_failures_flow_to_dlq(spark, tmp_path):
    frame = spark.createDataFrame(
        [(f"qu{i}", f"it{i}") for i in range(4)], "queryUserId string, item string"
    ).coalesce(1)
    n = deliver_and_collect_failures(
        frame,
        lambda: SpoolingQueueTransport(
            str(tmp_path / "qspool"), fail_user_ids=("qu2",)
        ),
        batch_size=2,
        dlq_path=str(tmp_path / "qdlq"),
    )
    assert n == 2  # the whole failing batch of 2 redrives, like SQS
    dlq = [
        json.loads(line)
        for f in os.listdir(tmp_path / "qdlq")
        if f.endswith(".json")
        for line in open(tmp_path / "qdlq" / f)
    ]
    failed_users = {json.loads(r["record_json"])["queryUserId"] for r in dlq}
    assert failed_users == {"qu2", "qu3"}


def test_incremental_available_now_processes_each_file_once(spark, tmp_path):
    """T1 bookmark semantics: run-1 drains existing files; run-2 with no
    new input is a no-op; run-3 sees only the newly-landed file."""
    inp = tmp_path / "landing"
    inp.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([T.StructField("v", T.LongType())])
    seen: list[list[int]] = []

    def sink(df, batch_id):
        seen.append(sorted(r.v for r in df.collect()))

    def run():
        incremental_pipeline_run(
            spark, str(inp), schema, ckpt,
            process=lambda df: df.withColumn("v", F.col("v") * 2),
            sink=sink,
        )

    (inp / "a.json").write_text('{"v": 1}\n{"v": 2}\n')
    run()
    assert [v for batch in seen for v in batch] == [2, 4]

    seen.clear()
    run()  # no new files → no non-empty batches
    assert [v for batch in seen for v in batch] == []

    seen.clear()
    (inp / "b.json").write_text('{"v": 10}\n')
    run()
    assert [v for batch in seen for v in batch] == [20]


def test_incremental_source_reads_gzipped_jsonl(spark, tmp_path):
    """S7 gzip-awareness (enq:40-43): the streaming file source drains
    `.json.gz` and plain `.json` inputs alike, one-shot each."""
    import gzip as gz

    inp = tmp_path / "landing_gz"
    inp.mkdir()
    ckpt = str(tmp_path / "ckpt_gz")
    schema = T.StructType([T.StructField("v", T.LongType())])
    with gz.open(inp / "a.json.gz", "wt") as f:
        f.write('{"v": 1}\n{"v": 2}\n')
    (inp / "b.json").write_text('{"v": 5}\n')
    seen: list[int] = []

    def run():
        incremental_pipeline_run(
            spark, str(inp), schema, ckpt,
            process=lambda df: df, sink=lambda df, _: seen.extend(
                r.v for r in df.collect()
            ),
        )

    run()
    assert sorted(seen) == [1, 2, 5]
    seen.clear()
    run()  # bookmark: nothing new
    assert seen == []


def test_multimodal_decode_roundtrip(spark):
    import zlib

    base = spark.range(1, 9).withColumnRenamed("id", "media_id")
    media = attach_fake_media(base, "media_id")
    feats = decode_media(media, decoder=fake_decoder).collect()
    assert len(feats) == 8
    by_id = {r.media_id: r for r in feats}
    # independently recompute one checksum from the fake content rule
    row = media.where(F.col("media_id") == 3).first()
    assert by_id[3].checksum == zlib.crc32(bytes(row.content))
    assert by_id[3].n_bytes == row.meta.n_bytes
    assert len(by_id[3].features) == 8
    assert abs(sum(by_id[3].features) - 1.0) < 1e-9


def test_decode_media_leaves_arrow_conf_untouched(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    media = attach_fake_media(
        spark.range(1, 4).withColumnRenamed("id", "media_id"), "media_id"
    )
    decode_media(media, decoder=fake_decoder).collect()
    assert spark.conf.get(key) == before


def test_multimodal_decode_stub_raises_without_decoder(spark):
    media = attach_fake_media(spark.range(1, 3).withColumnRenamed("id", "media_id"), "media_id")
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        decode_media(media).collect()


def test_incremental_content_ingest_delivers_each_content_once(spark, tmp_path):
    from amazon_personalize_connectors_spark.streaming.incremental import (
        incremental_content_ingest,
    )

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "digest-state")
    delivered: list[set] = []

    def deliver(df, batch_id):
        delivered.append({r["doc_id"] for r in df.select("doc_id").collect()})

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(landing)
        )
        q = incremental_content_ingest(stream, state, str(tmp_path / ckpt), deliver)
        q.awaitTermination(120)

    b1 = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(50)], "doc_id long, text string"
    )
    b1.coalesce(1).write.mode("append").parquet(landing)
    run("ck1")
    assert delivered and delivered[-1] == set(range(50))

    # second wave: 20 exact repeats (same doc_id AND text) + 10 new
    b2 = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(30, 60)], "doc_id long, text string"
    )
    b2.coalesce(1).write.mode("append").parquet(landing)
    run("ck2")  # fresh checkpoint: files re-read, content still deduped
    flat = set().union(*delivered)
    assert flat == set(range(60))
    # repeated content was never re-delivered in the later batches
    later = set().union(*(delivered[1:] or [set()]))
    assert later & set(range(30)) == set()


# --- K4 against a REAL socket (VERDICT r8 item 6) -------------------------
#
# The reference POSTs to Braze /users/track fire-and-forget
# (/root/reference/src/braze_dequeue_function/main.py:23-45: bearer
# auth, X-Braze-Bulk, 75-attribute cap, response ignored).
# HttpUserTrackTransport fixes the response handling (status check,
# retry + backoff, DLQ surfacing) but had only ever been driven
# against synthetic transports — these tests exercise the real HTTP
# stack through a stdlib loopback server: 2xx happy path (headers +
# payload shape asserted server-side), 5xx-then-recover (retry loop),
# persistent 5xx and connection-refused (both -> DLQ rows via
# deliver()).


class _Script:
    """Per-test HTTP behavior: a list of status codes to serve, then
    200 forever. Records every request's headers and parsed body."""

    def __init__(self, statuses):
        self.statuses = list(statuses)
        self.requests = []


def _loopback_server(script):
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            script.requests.append(
                {
                    "headers": {k.lower(): v for k, v in self.headers.items()},
                    "body": json.loads(body) if body else None,
                }
            )
            status = script.statuses.pop(0) if script.statuses else 200
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(b'{"message":"ok"}' if status == 200 else b'{"message":"err"}')

        def log_message(self, *a):  # silence per-request stderr noise
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}/users/track"


def test_http_transport_2xx_sends_reference_shape():
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    script = _Script([200])
    srv, url = _loopback_server(script)
    try:
        t = HttpUserTrackTransport(url, api_key="sekret", backoff_s=0.01)
        t.send_batch([{"external_id": "u1"}, {"external_id": "u2"}])
    finally:
        srv.shutdown()
    assert len(script.requests) == 1
    req = script.requests[0]
    # bdeq:23-45 contract: bearer auth, bulk header, JSON body of
    # {"attributes": [...]} — asserted on what actually hit the wire
    assert req["headers"]["authorization"] == "Bearer sekret"
    assert req["headers"]["x-braze-bulk"] == "true"
    assert req["headers"]["content-type"] == "application/json"
    assert req["body"] == {
        "attributes": [{"external_id": "u1"}, {"external_id": "u2"}]
    }


def test_http_transport_retries_5xx_then_succeeds():
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    script = _Script([503, 503, 200])
    srv, url = _loopback_server(script)
    try:
        t = HttpUserTrackTransport(
            url, api_key="k", max_retries=3, backoff_s=0.01
        )
        t.send_batch([{"external_id": "u1"}])  # must not raise
    finally:
        srv.shutdown()
    assert len(script.requests) == 3, "expected 2 failed attempts + 1 success"


def test_http_transport_persistent_5xx_raises_after_retries():
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
        TransportError,
    )

    script = _Script([500, 500, 500])
    srv, url = _loopback_server(script)
    try:
        t = HttpUserTrackTransport(
            url, api_key="k", max_retries=2, backoff_s=0.01
        )
        with pytest.raises(TransportError, match="HTTP 500"):
            t.send_batch([{"external_id": "u1"}])
    finally:
        srv.shutdown()
    assert len(script.requests) == 3  # initial + 2 retries, then DLQ


def test_http_transport_connection_error_routes_to_dlq(spark):
    """End-to-end through deliver(): executors POST to a port with no
    listener; every record must come back as a DLQ row instead of the
    job dying (the reference's silent-loss defect inverted)."""
    import socket

    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    # reserve a port and close it so nothing listens there
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_url = f"http://127.0.0.1:{s.getsockname()[1]}/users/track"
    s.close()
    rows = [(str(i),) for i in range(7)]
    payloads = spark.createDataFrame(rows, "external_id string").repartition(2)
    failures = deliver(
        payloads,
        lambda: HttpUserTrackTransport(
            dead_url, api_key="k", max_retries=1, backoff_s=0.01, timeout_s=2.0
        ),
        batch_size=5,
    ).collect()
    assert len(failures) == 7
    ids = {json.loads(r["record_json"])["external_id"] for r in failures}
    assert ids == {str(i) for i in range(7)}
    assert all("ConnectionError" in r["error"] or "TransportError" in r["error"]
               for r in failures)


def test_http_transport_5xx_then_2xx_through_deliver(spark):
    """deliver() + real socket + flaky server: first attempt 503, the
    retry succeeds — zero DLQ rows and the server saw both hits."""
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    script = _Script([503])
    srv, url = _loopback_server(script)
    try:
        payloads = spark.createDataFrame(
            [("a",), ("b",)], "external_id string"
        ).coalesce(1)
        n = deliver(
            payloads,
            lambda: HttpUserTrackTransport(
                url, api_key="k", max_retries=2, backoff_s=0.01
            ),
            batch_size=75,
        ).count()
    finally:
        srv.shutdown()
    assert n == 0
    assert len(script.requests) == 2


def test_redrive_four_failures_then_success_delivers_exactly_once(
    spark, tmp_path
):
    """SQS redrive semantics (template.yaml:334-337, VERDICT r9 item
    6): a chunk whose transport fails 4 receives then succeeds on the
    5th is delivered exactly once — zero DLQ rows, one spooled batch,
    exactly maxReceiveCount=5 receives consumed."""
    import os

    spool = str(tmp_path / "flaky4")
    payloads = spark.createDataFrame(
        [("u1",), ("u2",), ("u3",)], "external_id string"
    ).coalesce(1)
    failures = deliver(
        payloads, lambda: FlakyTransport(spool, fail_times=4), batch_size=75
    ).collect()
    assert failures == []
    batches = FlakyTransport.delivered_batches(spool)
    assert len(batches) == 1
    assert {r["external_id"] for r in batches[0]} == {"u1", "u2", "u3"}
    with open(os.path.join(spool, "receives-u1")) as f:
        assert int(f.read()) == 5


def test_redrive_exhausted_lands_in_dlq_with_receive_count(
    spark, tmp_path
):
    """A chunk that fails all 5 receives redrives to the DLQ frame:
    every record row carries receive_count=5, nothing is spooled, and
    the transport saw exactly 5 receives (no infinite redelivery)."""
    import os

    spool = str(tmp_path / "flaky5")
    payloads = spark.createDataFrame(
        [("u1",), ("u2",)], "external_id string"
    ).coalesce(1)
    failures = deliver(
        payloads, lambda: FlakyTransport(spool, fail_times=99), batch_size=75
    ).collect()
    assert len(failures) == 2
    assert all(r["receive_count"] == 5 for r in failures)
    assert all("synthetic flake, receive 5" in r["error"] for r in failures)
    assert FlakyTransport.delivered_batches(spool) == []
    with open(os.path.join(spool, "receives-u1")) as f:
        assert int(f.read()) == 5


def test_http_400_skips_redrive_straight_to_dlq(spark):
    """A deterministic validation rejection (HTTP 400) must not burn
    internal retries OR redrive re-receives — identical bytes can
    never succeed. Exactly ONE request hits the server; the DLQ rows
    carry receive_count=1 (code-review r10)."""
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    script = _Script([400] * 20)
    srv, url = _loopback_server(script)
    try:
        payloads = spark.createDataFrame(
            [("a",), ("b",)], "external_id string"
        ).coalesce(1)
        failures = deliver(
            payloads,
            lambda: HttpUserTrackTransport(
                url, api_key="k", max_retries=3, backoff_s=0.01
            ),
            batch_size=75,
        ).collect()
    finally:
        srv.shutdown()
    assert len(failures) == 2
    assert all(r["receive_count"] == 1 for r in failures)
    assert all("HTTP 400" in r["error"] for r in failures)
    assert len(script.requests) == 1


def test_http_429_stays_retryable(spark):
    """Rate limiting (429) is transient by definition: the transport's
    internal backoff retries it and the batch succeeds — zero DLQ."""
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    script = _Script([429, 429])
    srv, url = _loopback_server(script)
    try:
        payloads = spark.createDataFrame(
            [("a",)], "external_id string"
        ).coalesce(1)
        n = deliver(
            payloads,
            lambda: HttpUserTrackTransport(
                url, api_key="k", max_retries=3, backoff_s=0.01
            ),
            batch_size=75,
        ).count()
    finally:
        srv.shutdown()
    assert n == 0
    assert len(script.requests) == 3  # 2 rate-limited + the success


def test_redrive_respects_visibility_window_simulated_clock(spark, tmp_path):
    """SQS visibility-timeout parity (template.yaml:334,
    VisibilityTimeout=610; VERDICT r10 item 7): a failed receive's
    chunk is invisible for the full window — under a simulated clock,
    every re-receive happens exactly one visibility window after the
    previous receive (never earlier), the final failing receive is
    not followed by a pointless window sleep, and the chunk DLQs with
    receive_count = maxReceiveCount."""
    from amazon_personalize_connectors_spark.sinks.transport import (
        SQS_VISIBILITY_TIMEOUT_S,
        Transport,
        TransportError,
    )

    log = str(tmp_path / "receives.jsonl")

    class FakeClock:
        def __init__(self):
            self.now = 0.0

        def sleep(self, s):
            self.now += s

    clock = FakeClock()

    class ProbeTransport(Transport):
        # records each receive's SIMULATED timestamp; always fails
        # retryably so the chunk walks the whole redrive ladder
        def send_batch(self, batch):
            with open(log, "a") as f:
                f.write(json.dumps({"t": clock.now}) + "\n")
            raise TransportError("synthetic outage")

    payloads = spark.createDataFrame(
        [("u1",), ("u2",)], "external_id string"
    ).coalesce(1)
    failures = deliver(
        payloads,
        lambda: ProbeTransport(),
        batch_size=75,
        max_receives=5,
        redelivery_delay_s=SQS_VISIBILITY_TIMEOUT_S,
        sleep_fn=clock.sleep,
    ).collect()

    with open(log) as f:
        times = [json.loads(line)["t"] for line in f]
    assert len(times) == 5  # exactly maxReceiveCount receives
    gaps = [b - a for a, b in zip(times, times[1:])]
    # re-receive ordering: each gap is exactly one visibility window —
    # a retried chunk is never re-received before its expiry
    assert gaps == [SQS_VISIBILITY_TIMEOUT_S] * 4
    # no trailing sleep after the terminal receive: total simulated
    # time equals 4 windows, not 5
    assert times[-1] == 4 * SQS_VISIBILITY_TIMEOUT_S
    assert len(failures) == 2
    assert all(r["receive_count"] == 5 for r in failures)


# --- one pass: session reuse, env proxy, DLQ in one job -------------------


def _keepalive_server():
    """HTTP/1.1 loopback that keeps connections open: counts the
    connections it accepts and records each POST's path (absolute when
    it serves as a proxy), headers and raw body."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    seen = {"connections": 0, "posts": []}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self):
            super().setup()
            with lock:
                seen["connections"] += 1

        def do_POST(self):
            post = {
                "path": self.path,
                "headers": {k.lower(): v for k, v in self.headers.items()},
                "body": self.rfile.read(int(self.headers["Content-Length"])),
            }
            with lock:
                seen["posts"].append(post)
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return seen, srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_http_transport_reuses_one_connection_per_partition(spark):
    """Every chunk of a partition goes over the transport's one
    keep-alive connection: 4 chunks, 1 accepted connection."""
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    seen, srv, base = _keepalive_server()
    try:
        payloads = spark.createDataFrame(
            [(str(i),) for i in range(10)], "external_id string"
        ).coalesce(1)
        n = deliver(
            payloads,
            lambda: HttpUserTrackTransport(
                f"{base}/users/track", api_key="k", backoff_s=0.01
            ),
            batch_size=3,
        ).count()
    finally:
        srv.shutdown()
    assert n == 0
    assert sorted(
        a["external_id"]
        for p in seen["posts"]
        for a in json.loads(p["body"])["attributes"]
    ) == sorted(str(i) for i in range(10))
    assert seen["connections"] == 1


def test_http_transport_delivers_every_chunk_over_http10(spark):
    """A receiver that closes each connection after its reply (HTTP/1.0)
    still gets every chunk: the session reconnects per POST."""
    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    script = _Script([])
    srv, url = _loopback_server(script)
    try:
        payloads = spark.createDataFrame(
            [(str(i),) for i in range(10)], "external_id string"
        ).coalesce(1)
        n = deliver(
            payloads,
            lambda: HttpUserTrackTransport(url, api_key="k", backoff_s=0.01),
            batch_size=3,
        ).count()
    finally:
        srv.shutdown()
    assert n == 0
    assert [len(r["body"]["attributes"]) for r in script.requests] == [3, 3, 3, 1]
    assert sorted(
        a["external_id"] for r in script.requests for a in r["body"]["attributes"]
    ) == sorted(str(i) for i in range(10))


def test_http_transport_posts_through_env_proxy_resolved_once(monkeypatch):
    """``HTTP_PROXY`` still routes the POSTs (the session stops reading
    the environment per request, so it must resolve the proxy up
    front): the proxy receives absolute-URI POSTs carrying the JSON
    texts and headers unchanged, and the environment is consulted once
    per transport, not once per chunk. Runs in the test process: Python
    workers started earlier do not see the variable."""
    import socket

    import requests

    from amazon_personalize_connectors_spark.sinks.transport import (
        HttpUserTrackTransport,
    )

    seen, srv, proxy = _keepalive_server()
    for var in ("http_proxy", "all_proxy", "ALL_PROXY", "no_proxy", "NO_PROXY"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("HTTP_PROXY", proxy)
    resolutions = []
    environ_proxies = requests.utils.get_environ_proxies

    def counting(url, no_proxy=None):
        resolutions.append(url)
        return environ_proxies(url, no_proxy=no_proxy)

    monkeypatch.setattr(requests.utils, "get_environ_proxies", counting)
    monkeypatch.setattr(requests.sessions, "get_environ_proxies", counting)
    # a POST that bypassed the proxy would look the endpoint up: refuse
    # every name but loopback so that fails here, inside the process
    getaddrinfo = socket.getaddrinfo

    def loopback_only(host, *args, **kwargs):
        if host not in ("127.0.0.1", "localhost"):
            raise socket.gaierror(f"name lookup refused in test: {host}")
        return getaddrinfo(host, *args, **kwargs)

    monkeypatch.setattr(socket, "getaddrinfo", loopback_only)

    endpoint = "http://braze.invalid/users/track"
    chunks = [
        ['{"external_id":"u1","recs":["a","b"]}'],
        ['{"external_id":"u2"}', '{"external_id":"u3","n":1}'],
        ['{"external_id":"u4"}'],
    ]
    t = HttpUserTrackTransport(endpoint, api_key="sekret", max_retries=0)
    try:
        for chunk in chunks:
            t.send_encoded(chunk)
    finally:
        t.close()
        srv.shutdown()
    assert [p["path"] for p in seen["posts"]] == [endpoint] * 3
    assert [p["body"] for p in seen["posts"]] == [
        ('{"attributes":[' + ",".join(c) + "]}").encode() for c in chunks
    ]
    for p in seen["posts"]:
        assert p["headers"]["authorization"] == "Bearer sekret"
        assert p["headers"]["x-braze-bulk"] == "true"
        assert p["headers"]["content-type"] == "application/json"
    assert resolutions == [endpoint]
    assert seen["connections"] == 1


def test_dlq_delivery_sends_in_one_spark_job(spark, tmp_path):
    """With a ``dlq_path`` the sends and the DLQ write are one Spark job
    (no cache, no separate count), and each chunk is sent exactly once."""
    from test_connector_core import _spark_jobs

    frame = spark.createDataFrame(
        [(str(i),) for i in range(12)], "external_id string"
    ).coalesce(1)
    spool = str(tmp_path / "spool")
    failed = []
    jobs = _spark_jobs(
        spark,
        f"dlq-one-job-{tmp_path.name}",
        lambda: failed.append(
            deliver_and_collect_failures(
                frame,
                lambda: RecordingTransport(spool, fail_keys=("3",)),
                batch_size=5,
                dlq_path=str(tmp_path / "dlq"),
            )
        ),
    )
    assert failed == [5]  # the chunk holding "3": ids 0-4
    assert jobs == 1
    batches = RecordingTransport.read_batches(spool)
    assert sorted(len(b) for b in batches) == [2, 5]
    sent = [r["external_id"] for b in batches for r in b]
    assert sorted(sent) == sorted(str(i) for i in range(5, 12))
    dlq = [
        json.loads(line)
        for f in sorted(os.listdir(tmp_path / "dlq"))
        if f.endswith(".json")
        for line in open(tmp_path / "dlq" / f)
    ]
    assert sorted(json.loads(r["record_json"])["external_id"] for r in dlq) == [
        str(i) for i in range(5)
    ]


def test_dlq_untouched_by_delivery_without_failures(spark, tmp_path):
    """A delivery with no failures leaves ``dlq_path`` as it was: absent
    stays absent, and an existing DLQ gains no file."""
    frame = spark.createDataFrame(
        [(str(i),) for i in range(12)], "external_id string"
    ).coalesce(1)
    dlq = tmp_path / "dlq"

    def run(spool, fail_keys=()):
        return deliver_and_collect_failures(
            frame,
            lambda: RecordingTransport(str(tmp_path / spool), fail_keys=fail_keys),
            batch_size=5,
            dlq_path=str(dlq),
        )

    assert run("s1") == 0
    assert not dlq.exists()
    assert run("s2", fail_keys=("7",)) == 5
    before = sorted(os.listdir(dlq))
    assert any(f.endswith(".json") for f in before)
    assert run("s3") == 0
    assert sorted(os.listdir(dlq)) == before
