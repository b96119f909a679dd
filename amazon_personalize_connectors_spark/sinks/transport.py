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

Scale notes: per-partition transport construction (one connection per
task, not per record); bounded chunk sizes; failures flow back as data
(no driver collect). Delivery is at-least-once — a retried task re-sends
its partition, like any foreachPartition sink; idempotency must come
from the receiver (Braze user-track upserts are).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazon_personalize_connectors_spark.operators.payload import chunk_iterable

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
    """One delivery channel. Implementations must be constructible on
    executors (keep __init__ args picklable)."""

    def send_batch(self, batch: list[dict[str, Any]]) -> None:  # pragma: no cover
        raise NotImplementedError


def _spool_write(spool_dir: str, name: str, obj: Any) -> None:
    """Test-double channel: one JSON file per delivered batch. Spark runs
    mapPartitions in separate Python worker *processes* even under local
    masters, so in-memory recording is invisible to the caller."""
    os.makedirs(spool_dir, exist_ok=True)
    with open(os.path.join(spool_dir, name), "w") as f:
        json.dump(obj, f)


def _spool_read(spool_dir: str, prefix: str = "") -> list[Any]:
    """Every spooled batch whose file name starts with ``prefix``, in
    file-name order; ``[]`` when nothing was spooled."""
    if not os.path.isdir(spool_dir):
        return []
    out = []
    for name in sorted(os.listdir(spool_dir)):
        if name.startswith(prefix):
            with open(os.path.join(spool_dir, name)) as f:
                out.append(json.load(f))
    return out


class RecordingTransport(Transport):
    """Test double: spools every batch to a directory as JSON."""

    def __init__(self, spool_dir: str, fail_keys: tuple[str, ...] = ()):
        self.spool_dir = spool_dir
        self.fail_keys = set(fail_keys)

    def send_batch(self, batch: list[dict[str, Any]]) -> None:
        if any(rec.get("external_id") in self.fail_keys for rec in batch):
            raise TransportError(f"synthetic failure for batch of {len(batch)}")
        _spool_write(self.spool_dir, f"batch-{uuid.uuid4().hex}.json", batch)

    @staticmethod
    def read_batches(spool_dir: str) -> list[list[dict[str, Any]]]:
        return _spool_read(spool_dir)


class FlakyTransport(Transport):
    """Test double for redrive semantics: every chunk fails its first
    ``fail_times`` receives, then succeeds and spools. The receive
    counter must survive executor process boundaries AND be shared
    across the re-receives of one chunk, so it lives on the
    filesystem keyed by the chunk's first record id."""

    def __init__(self, spool_dir: str, fail_times: int):
        self.spool_dir = spool_dir
        self.fail_times = fail_times

    def send_batch(self, batch: list[dict[str, Any]]) -> None:
        os.makedirs(self.spool_dir, exist_ok=True)
        key = str(batch[0].get("external_id", "k")).replace(os.sep, "_")
        counter = os.path.join(self.spool_dir, f"receives-{key}")
        seen = 0
        if os.path.exists(counter):
            with open(counter) as f:
                seen = int(f.read().strip())
        seen += 1
        with open(counter, "w") as f:
            f.write(str(seen))
        if seen <= self.fail_times:
            raise TransportError(f"synthetic flake, receive {seen}")
        _spool_write(self.spool_dir, f"batch-{key}.json", batch)

    @staticmethod
    def delivered_batches(spool_dir: str) -> list[list[dict[str, Any]]]:
        return _spool_read(spool_dir, prefix="batch-")


class QueueTransport(Transport):
    """K3 — queue-shaped transport reproducing the reference's SQS
    batch entry scheme (enqueue.py:53-67): one entry per record with
    ``Id = "{i}-{user id}"`` — ``i`` the position within the batch
    (0..9), the user id ``queryUserId`` falling back to ``userId``
    (E4, enq:53-55) — and the full JSON record as the message body.
    Batches are capped at ``SQS_MAX_BATCH`` (10, enq:19).

    The base class only shapes entries; subclasses implement
    ``send_entries`` (the ``send_message_batch``-shaped client
    boundary). ``SpoolingQueueTransport`` is the filesystem test
    double."""

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


class SpoolingQueueTransport(QueueTransport):
    """Queue test double: spools each entry batch to a directory (the
    same filesystem-as-channel trick as RecordingTransport). Entries
    whose user id is in ``fail_user_ids`` fail the whole batch — the
    reference's redrive-to-DLQ path, surfaced as DLQ rows here."""

    def __init__(self, spool_dir: str, fail_user_ids: tuple[str, ...] = ()):
        self.spool_dir = spool_dir
        self.fail_user_ids = set(fail_user_ids)

    def send_entries(self, entries: list[dict[str, str]]) -> None:
        if any(e["Id"].split("-", 1)[1] in self.fail_user_ids for e in entries):
            raise TransportError(f"synthetic queue failure ({len(entries)} entries)")
        _spool_write(self.spool_dir, f"entries-{uuid.uuid4().hex}.json", entries)

    @staticmethod
    def read_entry_batches(spool_dir: str) -> list[list[dict[str, str]]]:
        return _spool_read(spool_dir)


class HttpUserTrackTransport(Transport):
    """K4 — REST sink for Braze-style ``/users/track`` endpoints.

    Unlike the reference (bdeq:45 fire-and-forget), non-2xx responses
    raise and the batch retries with exponential backoff before being
    surfaced as DLQ rows. ``requests`` is imported lazily so the
    library carries no hard dependency.
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

    def send_batch(self, batch: list[dict[str, Any]]) -> None:
        try:
            import requests
        except ImportError as exc:  # pragma: no cover
            # deterministic in this process — redriving the chunk
            # max_receives times (with redelivery sleeps) cannot make
            # the dependency appear; DLQ immediately (ADVICE r10)
            raise TransportError(
                "requests not available in this environment", retryable=False
            ) from exc
        payload = {"attributes": batch}
        headers = {
            "Content-Type": "application/json",
            "Authorization": f"Bearer {self.api_key}",
            "X-Braze-Bulk": "true",  # bdeq:35-41
        }
        last: Exception | None = None
        for attempt in range(self.max_retries + 1):
            try:
                resp = requests.post(
                    self.endpoint, json=payload, headers=headers, timeout=self.timeout_s
                )
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
    (P4); return a lazy DataFrame of failed records + error messages.

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
    success. One transport per partition; rows are JSON-encoded in
    Catalyst (``to_json``) so the Python loop only chunks and sends.
    """
    if max_receives < 1:
        raise ValueError("max_receives must be >= 1")
    encoded = payloads.select(
        F.to_json(F.struct(*[F.col(c) for c in payloads.columns])).alias("j")
    )

    def send_partition(rows: Iterator[Row]) -> Iterator[Row]:
        transport = transport_factory()
        for chunk in chunk_iterable((r.j for r in rows), batch_size):
            records = [json.loads(j) for j in chunk]
            err = None
            receives = 0
            for receive in range(1, max_receives + 1):
                receives = receive
                try:
                    transport.send_batch(records)
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

    return payloads.sparkSession.createDataFrame(
        encoded.rdd.mapPartitions(send_partition), _DLQ_SCHEMA
    )


def deliver_and_collect_failures(
    payloads: DataFrame,
    transport_factory: Callable[[], Transport],
    batch_size: int = BRAZE_MAX_ATTRIBUTES_PER_POST,
    dlq_path: str | None = None,
) -> int:
    """Run delivery now; optionally persist failures to ``dlq_path``
    (JSONL). Returns the number of failed records this run.

    The failure frame is cached before acting on it twice — every
    uncached action would otherwise replay the mapPartitions send.
    """
    failures = deliver(payloads, transport_factory, batch_size).cache()
    try:
        n = failures.count()
        if dlq_path is not None and n > 0:
            failures.write.mode("append").json(dlq_path)
        return n
    finally:
        failures.unpersist()
