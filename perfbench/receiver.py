"""Stub Braze ``/users/track`` receiver, run as its own process.

    python3 perfbench/receiver.py --seed N --poison FILE

It binds 127.0.0.1 on a free port, prints the port as its first line of
standard output, and serves until it receives SIGTERM.

``POST /users/track`` answers like the destination, with seeded faults:

* 400 for a malformed request: no ``Authorization: Bearer`` header, a
  body that is not ``{"attributes": [...]}``, more than 75 attributes,
  or an attribute without ``external_id`` (counted as ``shape_rejects``);
* 400 for a chunk holding one of the poison ids in ``--poison`` (the
  seeded dead-letter share);
* 429 on the first receive of a chunk whose first id hashes into the
  seeded throttle share; the retry succeeds;
* 200 otherwise, adding the chunk's records to ``accepted`` and their
  ``record_digest`` to ``checksum``.

``POST /reset`` clears the counters; ``GET /stats`` returns them as JSON.
``connections`` counts the connections that carried a ``/users/track``
request. ``max_open_connections`` is the most connections open at once,
each counted from its accept until its reply is sent.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import signal
import statistics
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from gen import THROTTLE_SHARE

MAX_ATTRIBUTES = 75
MASK64 = (1 << 64) - 1


def record_digest(external_id: str, item_ids: list) -> int:
    """64-bit hash of one delivered record: its id and ranked item ids."""
    text = external_id + "|" + ";".join(str(i) for i in item_ids)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def throttled_first(seed: int, external_id: str) -> bool:
    h = hashlib.blake2b(f"{seed}:{external_id}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") / 2**64 < THROTTLE_SHARE


class Stats:
    def __init__(self):
        self.lock = threading.Lock()
        self.open_connections = 0  # a gauge, which reset() keeps
        self.reset()

    def reset(self):
        """Called while answering /reset: every other connection has had
        its reply, and this one stops counting before its reply is sent."""
        self.posts = 0
        self.connections = 0
        self.max_open_connections = 0
        self.accepted = 0
        self.checksum = 0
        self.shape_rejects = 0
        self.post_ms: list[float] = []
        self.throttled_keys: set[str] = set()

    def snapshot(self) -> dict:
        return {
            "posts": self.posts,
            "connections": self.connections,
            "max_open_connections": self.max_open_connections,
            "accepted": self.accepted,
            "checksum": self.checksum,
            "shape_rejects": self.shape_rejects,
            "post_p50_ms": statistics.median(self.post_ms) if self.post_ms else 0.0,
        }


def make_handler(stats: Stats, seed: int, poison: set):
    class Handler(BaseHTTPRequestHandler):
        # The server speaks HTTP/1.0, one request a connection. A client
        # may open its next connection as soon as it has a reply, before
        # this thread reaches finish(), so a connection stops counting as
        # open just before its reply is sent.
        counted = False

        def setup(self):
            super().setup()
            self.counted = True
            with stats.lock:
                stats.open_connections += 1
                stats.max_open_connections = max(
                    stats.max_open_connections, stats.open_connections
                )

        def _uncount(self) -> None:
            if self.counted:
                self.counted = False
                with stats.lock:
                    stats.open_connections -= 1

        def finish(self):
            self._uncount()  # closed without a reply
            super().finish()

        def _reply(self, status: int, body: dict) -> None:
            self._uncount()
            data = json.dumps(body).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            if self.path != "/stats":
                return self._reply(404, {"message": "not found"})
            with stats.lock:
                snap = stats.snapshot()
            self._reply(200, snap)

        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path == "/reset":
                with stats.lock:
                    stats.reset()
                return self._reply(200, {"message": "reset"})
            if self.path != "/users/track":
                return self._reply(404, {"message": "not found"})
            start = time.perf_counter()
            status, message = self._track(body)
            with stats.lock:
                stats.connections += 1
                stats.posts += 1
                stats.post_ms.append((time.perf_counter() - start) * 1000.0)
            self._reply(status, {"message": message})

        def _track(self, body: bytes) -> tuple[int, str]:
            attrs = None
            if self.headers.get("Authorization", "").startswith("Bearer "):
                try:
                    attrs = json.loads(body).get("attributes")
                except (ValueError, AttributeError):
                    attrs = None
            if (
                not isinstance(attrs, list)
                or not attrs
                or len(attrs) > MAX_ATTRIBUTES
                or not all(isinstance(a, dict) and a.get("external_id") for a in attrs)
            ):
                with stats.lock:
                    stats.shape_rejects += 1
                return 400, "malformed request"
            ids = [a["external_id"] for a in attrs]
            if any(i in poison for i in ids):
                return 400, "rejected attribute"
            key = ids[0]
            if throttled_first(seed, key):
                with stats.lock:
                    first = key not in stats.throttled_keys
                    stats.throttled_keys.add(key)
                if first:
                    return 429, "rate limited"
            digest = 0
            for a in attrs:
                digest += record_digest(a["external_id"], a.get("recommendation_itemId") or [])
            with stats.lock:
                stats.accepted += len(attrs)
                stats.checksum = (stats.checksum + digest) & MASK64
            return 201, "success"

        def log_message(self, *args):
            pass

    return Handler


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--poison", required=True, help="file of poison ids, one a line")
    args = parser.parse_args()
    with open(args.poison) as f:
        poison = {line.strip() for line in f if line.strip()}
    stats = Stats()
    server = ThreadingHTTPServer(
        ("127.0.0.1", 0), make_handler(stats, args.seed, poison)
    )
    server.daemon_threads = True
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=server.shutdown).start())
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
