"""Filesystem test doubles for the delivery transports
(``sinks/transport.py``).

``deliver`` runs each transport inside ``mapPartitions``, in separate
Python worker *processes* even under local masters, so in-memory
recording is invisible to the caller: every double spools what it
received to a directory as JSON, and the test reads the spool back.
The workers cannot import this module (``tests/`` is not on their
path), so it registers itself with cloudpickle to ship its classes
by value.
"""

from __future__ import annotations

import json
import os
import sys
import uuid
from typing import Any

from pyspark import cloudpickle

from amazon_personalize_connectors_spark.sinks.transport import (
    QueueTransport,
    Transport,
    TransportError,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _spool_write(spool_dir: str, name: str, obj: Any) -> None:
    """One JSON file per delivered batch."""
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
