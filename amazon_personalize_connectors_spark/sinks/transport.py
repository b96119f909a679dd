"""K3/K4 — connector delivery transports as Spark sinks.

The reference delivers through an event-driven Lambda chain: S3 event →
enqueue λ (chunks of 10 to SQS, enqueue.py:19,62-67) → SQS → dequeue λ
(chunks of 75 POSTed to Braze /users/track with bearer auth +
X-Braze-Bulk, braze_dequeue_function/main.py:18,23-45). Two defects we
fix rather than replicate: bdeq:45 ignores the HTTP response entirely
(no retry, no status check), and failures vanish unless SQS redrives.

Here delivery is a thin executor-side loop over an already-shaped
payload frame (operators/payload.py does all record shaping in
Catalyst): ``mapPartitions`` chunks rows, calls a pluggable Transport,
and *returns failed records as a DataFrame* the caller lands in a DLQ
path — the moral equivalent of the reference's dead-letter queue
(template.yaml:334-337), but queryable.

Scale notes: one transport per partition (for HTTP, one session and its
keep-alive connection per task, not per chunk); records travel as the
JSON text Catalyst's ``toJSON`` made, never parsed on the HTTP path;
bounded chunk sizes; failures flow back as data (no driver collect), and
``deliver_and_collect_failures`` sends and lands the DLQ in one Spark
job. Delivery is at-least-once — a retried task re-sends its partition,
like any foreachPartition sink; idempotency must come from the receiver
(Braze user-track upserts are).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T

from amazon_personalize_connectors_spark.operators.metrics import observe_counts
from amazon_personalize_connectors_spark.operators.payload import chunk_iterable
from amazon_personalize_connectors_spark.sources.readers import hadoop_path

BRAZE_MAX_ATTRIBUTES_PER_POST = 75  # bdeq:18
SQS_MAX_BATCH = 10  # enqueue.py:19
# template.yaml:334-337 — the queue redrives a message to the dead
# letter queue after maxReceiveCount=5 failed receives; VisibilityTimeout
# 610 s is the redelivery delay between receives.
SQS_MAX_RECEIVE_COUNT = 5
SQS_VISIBILITY_TIMEOUT_S = 610.0


class TransportError(Exception):
    """A batch failed after all retries.

    ``retryable=False`` marks deterministic failures (validation
    4xx, malformed payloads): redelivering the same bytes cannot
    succeed, so ``deliver`` DLQs the chunk immediately instead of
    burning max_receives re-sends (code-review r10)."""

    def __init__(self, message: str, retryable: bool = True):
        super().__init__(message)
        self.retryable = retryable


class Transport:
    """One delivery channel, built once per partition on the executor
    (keep __init__ args picklable). ``deliver`` hands it each chunk as
    the records' JSON texts through ``send_encoded`` and calls ``close``
    when the partition ends. Implementations override ``send_batch``
    (parsed records) or, to skip the parse, ``send_encoded``."""

    def send_batch(self, batch: list[dict[str, Any]]) -> None:  # pragma: no cover
        raise NotImplementedError

    def send_encoded(self, batch: list[str]) -> None:
        self.send_batch([json.loads(j) for j in batch])

    def close(self) -> None:
        pass


class QueueTransport(Transport):
    """K3 — queue-shaped transport reproducing the reference's SQS
    batch entry scheme (enqueue.py:53-67): one entry per record with
    ``Id = "{i}-{user id}"`` — ``i`` the position within the batch
    (0..9), the user id ``queryUserId`` falling back to ``userId``
    (E4, enq:53-55) — and the full JSON record as the message body.
    Batches are capped at ``SQS_MAX_BATCH`` (10, enq:19).

    The base class only shapes entries; subclasses implement
    ``send_entries`` (the ``send_message_batch``-shaped client
    boundary)."""

    def send_batch(self, batch: list[dict[str, Any]]) -> None:
        if len(batch) > SQS_MAX_BATCH:
            raise TransportError(
                f"queue batch of {len(batch)} exceeds SQS_MAX_BATCH={SQS_MAX_BATCH}"
            )
        entries = []
        for rec in batch:
            uid = rec.get("queryUserId") or rec.get("userId")
            entries.append(
                {"Id": f"{len(entries)}-{uid}", "MessageBody": json.dumps(rec)}
            )
        self.send_entries(entries)

    def send_entries(self, entries: list[dict[str, str]]) -> None:  # pragma: no cover
        raise NotImplementedError


class HttpUserTrackTransport(Transport):
    """K4 — REST sink for Braze-style ``/users/track`` endpoints.

    Unlike the reference (bdeq:45 fire-and-forget), non-2xx responses
    raise and the batch retries with exponential backoff before being
    surfaced as DLQ rows. One ``requests.Session`` per transport (so
    per task) keeps its connection alive across chunks; the proxy for
    the endpoint is resolved from the environment once, after which the
    session stops consulting the environment on every POST. Records are
    POSTed as the JSON texts they arrive in. ``requests`` is imported
    lazily, on the first send, so the library carries no hard
    dependency.
    """

    def __init__(
        self,
        endpoint: str,
        api_key: str,
        timeout_s: float = 10.0,
        max_retries: int = 3,
        backoff_s: float = 0.5,
    ):
        self.endpoint = endpoint
        self.api_key = api_key
        self.timeout_s = timeout_s
        self.max_retries = max_retries
        self.backoff_s = backoff_s
        self._session = None

    def _open(self):
        if self._session is None:
            try:
                import requests
            except ImportError as exc:  # pragma: no cover
                # deterministic in this process — redriving the chunk
                # max_receives times (with redelivery sleeps) cannot make
                # the dependency appear; DLQ immediately (ADVICE r10)
                raise TransportError(
                    "requests not available in this environment", retryable=False
                ) from exc
            session = requests.Session()
            session.proxies = requests.utils.get_environ_proxies(self.endpoint)
            # without trust_env requests also stops reading its CA
            # bundle variables per request: read them here, once
            session.verify = (
                os.environ.get("REQUESTS_CA_BUNDLE")
                or os.environ.get("CURL_CA_BUNDLE")
                or True
            )
            session.trust_env = False
            session.headers.update(
                {
                    "Content-Type": "application/json",
                    "Authorization": f"Bearer {self.api_key}",
                    "X-Braze-Bulk": "true",  # bdeq:35-41
                }
            )
            self._session = session
        return self._session

    def send_batch(self, batch: list[dict[str, Any]]) -> None:
        self.send_encoded([json.dumps(rec) for rec in batch])

    def send_encoded(self, batch: list[str]) -> None:
        session = self._open()
        body = ('{"attributes":[' + ",".join(batch) + "]}").encode()
        last: Exception | None = None
        for attempt in range(self.max_retries + 1):
            try:
                resp = session.post(self.endpoint, data=body, timeout=self.timeout_s)
                if resp.status_code // 100 == 2:
                    return
                if resp.status_code // 100 == 4 and resp.status_code not in (
                    408,  # request timeout — transient
                    429,  # rate limited — transient by definition
                ):
                    # deterministic rejection: the same bytes can never
                    # succeed — skip internal retries AND tell deliver's
                    # redrive loop not to re-receive the chunk
                    raise TransportError(
                        f"HTTP {resp.status_code}: {resp.text[:200]}",
                        retryable=False,
                    )
                last = TransportError(f"HTTP {resp.status_code}: {resp.text[:200]}")
            except TransportError:
                raise
            except Exception as exc:  # noqa: BLE001 — network errors retry
                last = exc
            if attempt < self.max_retries:
                time.sleep(self.backoff_s * (2**attempt))
        raise TransportError(str(last))

    def close(self) -> None:
        if self._session is not None:
            self._session.close()
            self._session = None


_DLQ_SCHEMA = T.StructType(
    [
        T.StructField("record_json", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("receive_count", T.IntegerType()),
    ]
)


def deliver(
    payloads: DataFrame,
    transport_factory: Callable[[], Transport],
    batch_size: int = BRAZE_MAX_ATTRIBUTES_PER_POST,
    max_receives: int = SQS_MAX_RECEIVE_COUNT,
    redelivery_delay_s: float = 0.0,
    sleep_fn: Callable[[float], None] = time.sleep,
) -> DataFrame:
    """Send payload rows through the transport in fixed-size chunks
    (P4); return a DataFrame of failed records + error messages. The
    sends are lazy, but building the send RDD (``payloads.toJSON()``)
    is not: under AQE it runs the shuffle stages of ``payloads`` (e.g.
    a ``repartition``) when ``deliver`` is called, before any action
    on the returned frame.

    Redrive semantics (template.yaml:334-337): each chunk is a queue
    message — a failed send is re-received up to ``max_receives``
    times total (SQS ``maxReceiveCount=5``), with
    ``redelivery_delay_s`` between receives (the 610 s
    ``VisibilityTimeout`` in the reference; 0 here — in-process
    redelivery has no visibility window to wait out). Only after the
    final receive fails does the chunk land in the DLQ frame, each
    record row carrying its ``receive_count`` — except a
    ``TransportError(retryable=False)`` (deterministic rejection,
    e.g. a validation 4xx), which DLQs immediately with the actual
    receive count: re-sending identical bytes cannot succeed, and
    with a real ``redelivery_delay_s`` the pointless re-receives
    would serialize into hours per bad partition.

    The caller triggers delivery by acting on the returned frame
    (e.g. writing it to a DLQ path); an empty result means full
    success. One transport per partition, closed when the partition
    ends; rows are JSON-encoded in Catalyst (``toJSON``, which reaches
    Python as plain UTF-8 text, not pickled rows) and handed to
    ``Transport.send_encoded`` as that text, so the Python loop only
    chunks and sends.
    """
    if max_receives < 1:
        raise ValueError("max_receives must be >= 1")

    def send_partition(texts: Iterator[str]) -> Iterator[Row]:
        transport = transport_factory()
        try:
            for chunk in chunk_iterable(texts, batch_size):
                err = None
                receives = 0
                for receive in range(1, max_receives + 1):
                    receives = receive
                    try:
                        transport.send_encoded(chunk)
                        err = None
                        break
                    except Exception as exc:  # noqa: BLE001 — redrive, then DLQ
                        err = f"{type(exc).__name__}: {exc}"
                        if not getattr(exc, "retryable", True):
                            # deterministic failure (validation 4xx): the
                            # same bytes can never succeed — straight to
                            # DLQ, no redelivery burn (code-review r10)
                            break
                        if receive < max_receives and redelivery_delay_s > 0:
                            # the SQS visibility window (template.yaml:334,
                            # VisibilityTimeout=610): a failed receive's
                            # message is invisible for the full window
                            # before it can be re-received. ``sleep_fn`` is
                            # injectable so tests pin the re-receive
                            # ordering against a simulated clock instead of
                            # sleeping out real windows (VERDICT r10 §7).
                            sleep_fn(redelivery_delay_s)
                if err is not None:
                    for j in chunk:
                        yield Row(
                            record_json=j, error=err, receive_count=receives
                        )
        finally:
            transport.close()

    return payloads.sparkSession.createDataFrame(
        payloads.toJSON().mapPartitions(send_partition), _DLQ_SCHEMA
    )


def deliver_and_collect_failures(
    payloads: DataFrame,
    transport_factory: Callable[[], Transport],
    batch_size: int = BRAZE_MAX_ATTRIBUTES_PER_POST,
    dlq_path: str | None = None,
) -> int:
    """Run delivery now; optionally persist failures to ``dlq_path``
    (JSONL). Returns the number of failed records this run.

    One action sends every chunk: a ``count()`` without ``dlq_path``,
    else the DLQ append itself, with the failure count observed on the
    way (no cache, no second pass over the sends). A delivery without
    failures leaves ``dlq_path`` as it was: Spark's write of an empty
    frame leaves an empty part file and ``_SUCCESS``, so they are
    removed again — the whole directory if this call created it, else
    only the files this write added.
    """
    failures = deliver(payloads, transport_factory, batch_size)
    if dlq_path is None:
        return failures.count()
    failures, observation = observe_counts(failures, name="apc_dlq")
    fs, path = hadoop_path(payloads.sparkSession, dlq_path)
    existed = fs.exists(path)
    before = {st.getPath().getName() for st in fs.listStatus(path)} if existed else set()
    failures.write.mode("append").json(dlq_path)
    n = observation.get["n_rows"]
    if n == 0:
        if not existed:
            fs.delete(path, True)
        else:
            for st in fs.listStatus(path):
                if st.getPath().getName() not in before:
                    fs.delete(st.getPath(), True)
    return n
