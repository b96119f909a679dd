"""Seeded input generator for the connector-sync benchmark.

Every workload's inputs come from ``random.Random(seed)`` alone and are
written in the reference's on-disk formats: ``batch_inference/*.json``
(JSONL), ``user_item_mapping/*.csv``, ``item_metadata/*.json`` (JSONL),
a prior last-sync ``state`` snapshot, gzip JSONL connector output and
landed JSONL files. The same seed gives byte-identical files (gzip
headers carry no name or mtime), which ``test_gen.py`` pins.

``generate(workload, root, seed)`` returns a ``Manifest`` with the
facts the benchmark needs besides the files: the input size and the
seeded dead-letter share.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import random
from dataclasses import dataclass, field

WORKLOADS = ("full_sync", "delta_resync", "braze_delivery", "landing_drain")

# Sizes per workload, chosen so that a run (one cold session launch, the
# warm-up and the measured window) fits the benchmark's time budget at
# local[4]: a warm operation takes about 2 to 12 s of wall time.
# WORKLOADS.md gives the reasoning and the larger sizes the layers were
# first probed at.
SIZES = {
    "full_sync": dict(items=2000, recs=20, catalog=4000, pairs_per_item=6,
                      files=4),
    "delta_resync": dict(users=12000, recs=10, catalog=4000, changed=0.02,
                         files=4),
    "braze_delivery": dict(records=24000, recs=10, catalog=4000,
                           block=75, blocks_per_file=40),
    "landing_drain": dict(files=8, lines=400, recs=10, catalog=4000,
                          repeat=0.3, per_trigger=4),
}

FANOUT_CAP = 60  # full_sync: most users one query item is mapped to
ERROR_SHARE = 0.05  # full_sync: rows carrying an inference error
CORRUPT_SHARE = 0.001  # full_sync: unparseable lines
META_MISS_EVERY = 7  # every 7th catalog item has no metadata row
POISON_BLOCK_SHARE = 0.01  # braze_delivery: 75-record chunks answered 400
THROTTLE_SHARE = 0.01  # braze_delivery: chunks answered 429 on first receive
BRANDS = ("acme", "globex", "initech", "umbrella", "hooli", "stark")
CATEGORIES = ("books", "garden", "kitchen", "toys", "audio", "sports", "tools")
OTHER_ATTRIBUTES = {"source": "personalize", "campaign": "bench"}
LANDING_EPOCH = 1_767_225_600  # 2026-01-01T00:00:00Z, landed file mtimes


@dataclass
class Manifest:
    workload: str
    seed: int
    root: str
    input_bytes: int = 0
    input_records: int = 0
    # braze_delivery: the external ids the receiver rejects with 400, and
    # the number of records in chunks that contain one (the seeded DLQ)
    poison_ids: list[str] = field(default_factory=list)
    dlq_records: int = 0
    chunks: int = 0


def _item(i: int) -> str:
    return f"i{i:06d}"


def _metadata_row(rng: random.Random, i: int) -> dict:
    return {
        "id": _item(i),
        "name": f"item {i} {rng.choice(('red', 'blue', 'green', 'large'))}",
        "category": rng.choice(CATEGORIES),
        "brand": rng.choice(BRANDS),
        "price_cents": rng.randrange(99, 99999),
    }


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), sort_keys=False)


def _write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _write_gzip_lines(path: str, lines: list[str]) -> int:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0, compresslevel=6) as gz:
        gz.write(("\n".join(lines) + "\n").encode())
    with open(path, "wb") as f:
        f.write(buf.getvalue())
    return len(buf.getvalue())


def _split(lines: list[str], n: int) -> list[list[str]]:
    step = -(-len(lines) // n)
    return [lines[i : i + step] for i in range(0, len(lines), step)]


def _write_metadata(rng: random.Random, root: str, catalog: int) -> tuple[dict, int]:
    os.makedirs(f"{root}/item_metadata", exist_ok=True)
    meta = {
        _item(i): _metadata_row(rng, i)
        for i in range(catalog)
        if i % META_MISS_EVERY != 0
    }
    n = _write_lines(
        f"{root}/item_metadata/items.json", [_dumps(r) for r in meta.values()]
    )
    return meta, n


def _decorated_recs(recs: list[str], meta: dict, fields: tuple[str, ...]) -> list[dict]:
    """A rec list as the program's decorate step renders it in JSON: the
    selected metadata fields plus ``itemId``; null fields are omitted,
    as Spark's JSON writer omits them."""
    out = []
    for item in recs:
        row = meta.get(item)
        rec = {f: row[f] for f in fields} if row else {}
        rec["itemId"] = item
        out.append(dict(sorted(rec.items())))
    return out


def _gen_full_sync(rng: random.Random, root: str, m: Manifest) -> None:
    s = SIZES["full_sync"]
    _, nbytes = _write_metadata(rng, root, s["catalog"])
    lines = []
    # query items are distinct: one batch-inference row per item
    query_items = rng.sample(range(s["catalog"]), s["items"])
    for q in query_items:
        item = _item(q)
        roll = rng.random()
        if roll < CORRUPT_SHARE:
            lines.append('{"input":{"itemId":"' + item + '"},"output":{"recom')
        elif roll < CORRUPT_SHARE + ERROR_SHARE:
            lines.append(_dumps({
                "input": {"itemId": item},
                "error": f"inference failed for {item}",
            }))
        else:
            recs = [_item(r) for r in rng.sample(range(s["catalog"]), s["recs"])]
            lines.append(_dumps({
                "input": {"itemId": item},
                "output": {"recommendedItems": recs},
            }))
    os.makedirs(f"{root}/batch_inference", exist_ok=True)
    for k, part in enumerate(_split(lines, s["files"])):
        nbytes += _write_lines(f"{root}/batch_inference/part-{k:03d}.json", part)
    # Zipf-skewed fan-out: the item of rank r is mapped to about C/r
    # users, capped so that no single item (which may land among the
    # error rows) moves the output size by more than a few per mille.
    fanout = _zipf_counts(s["items"], s["items"] * s["pairs_per_item"], FANOUT_CAP)
    ranked = rng.sample(query_items, len(query_items))
    n_users = max(1, sum(fanout) // 4)
    pairs = [
        f"u{rng.randrange(n_users):07d},{_item(item)}"
        for item, n in zip(ranked, fanout)
        for _ in range(n)
    ]
    rng.shuffle(pairs)
    os.makedirs(f"{root}/user_item_mapping", exist_ok=True)
    for k, part in enumerate(_split(pairs, 2)):
        nbytes += _write_lines(
            f"{root}/user_item_mapping/part-{k:03d}.csv", ["USER_ID,ITEM_ID"] + part
        )
    m.input_bytes, m.input_records = nbytes, len(lines)


def _zipf_counts(n: int, total: int, cap: int) -> list[int]:
    """``n`` counts ``min(cap, max(1, round(c / r)))`` for ranks r = 1..n,
    with ``c`` chosen so that they sum to about ``total``."""
    lo, hi = 0.0, float(total)
    for _ in range(60):
        c = (lo + hi) / 2
        if sum(min(cap, max(1, round(c / r))) for r in range(1, n + 1)) < total:
            lo = c
        else:
            hi = c
    return [min(cap, max(1, round(hi / r))) for r in range(1, n + 1)]


def _userpers_records(rng: random.Random, n: int, s: dict, prefix: str = "u"):
    return {
        f"{prefix}{u:07d}": [_item(r) for r in rng.sample(range(s["catalog"]), s["recs"])]
        for u in range(n)
    }


def _gen_delta_resync(rng: random.Random, root: str, m: Manifest) -> None:
    s = SIZES["delta_resync"]
    meta, nbytes = _write_metadata(rng, root, s["catalog"])
    prior = _userpers_records(rng, s["users"], s)
    current = dict(prior)
    changed = rng.sample(sorted(prior), int(s["users"] * s["changed"]))
    for user in changed:
        recs = list(prior[user])
        while recs == prior[user]:
            rng.shuffle(recs)
        current[user] = recs
    lines = [
        _dumps({"input": {"userId": u}, "output": {"recommendedItems": r}})
        for u, r in current.items()
    ]
    os.makedirs(f"{root}/batch_inference", exist_ok=True)
    for k, part in enumerate(_split(lines, s["files"])):
        nbytes += _write_lines(f"{root}/batch_inference/part-{k:03d}.json", part)
    # The prior sync's snapshot, in the shape run_job writes it: the
    # pre-delta decorated frame of the "all fields" connector.
    fields = ("brand", "category", "name", "price_cents")
    state = [
        _dumps({"queryUserId": u, "recommendations": _decorated_recs(r, meta, fields)})
        for u, r in prior.items()
    ]
    state_dir = f"{root}/state_snapshot"
    os.makedirs(state_dir, exist_ok=True)
    for k, part in enumerate(_split(state, s["files"])):
        nbytes += _write_lines(f"{state_dir}/part-{k:05d}.json", part)
    m.input_bytes, m.input_records = nbytes, len(lines)


def _gen_braze_delivery(rng: random.Random, root: str, m: Manifest) -> None:
    """Connector output of a related-items sync (the shape run_job
    writes): gzip JSONL, one file per ``blocks_per_file`` 75-record
    blocks. Gzip files are never split, so every POST chunk is one block
    of one file, and a block holding a poison id is exactly one DLQ'd
    chunk."""
    s = SIZES["braze_delivery"]
    meta = {_item(i): _metadata_row(rng, i) for i in range(s["catalog"])
            if i % META_MISS_EVERY != 0}
    fields = ("name", "price_cents")
    n_blocks = s["records"] // s["block"]
    poison_blocks = set(rng.sample(range(n_blocks), max(1, round(n_blocks * POISON_BLOCK_SHARE))))
    records, poison = [], []
    for b in range(n_blocks):
        victim = rng.randrange(s["block"]) if b in poison_blocks else -1
        for j in range(s["block"]):
            user = f"u{b * s['block'] + j:07d}"
            if j == victim:
                poison.append(user)
            recs = [_item(r) for r in rng.sample(range(s["catalog"]), s["recs"])]
            records.append(_dumps({
                "queryItemId": _item(rng.randrange(s["catalog"])),
                "userId": user,
                "recommendations": _decorated_recs(recs, meta, fields),
                "jobInfo": {"name": "apc-spark-job", "runDateTime": "2026-01-01T00:00:00+00:00"},
                "syncDirectives": {"attributePrefix": "recommendation_",
                                   "otherAttributes": OTHER_ATTRIBUTES},
            }))
    out = f"{root}/connector_output"
    os.makedirs(out, exist_ok=True)
    per_file = s["block"] * s["blocks_per_file"]
    nbytes = 0
    for k in range(0, len(records), per_file):
        nbytes += _write_gzip_lines(
            f"{out}/part-{k // per_file:05d}.json.gz", records[k : k + per_file]
        )
    m.input_bytes, m.input_records = nbytes, len(records)
    m.poison_ids = poison
    m.dlq_records = len(poison_blocks) * s["block"]
    m.chunks = n_blocks


def landed_file(k: int) -> str:
    return f"landed-{k:04d}.json"


def _gen_landing_drain(rng: random.Random, root: str, m: Manifest) -> None:
    """Landed user-personalization JSONL files; ``repeat`` of each later
    file's lines are byte-identical copies of lines already landed."""
    s = SIZES["landing_drain"]
    _, nbytes = _write_metadata(rng, root, s["catalog"])
    landing = f"{root}/landing"
    os.makedirs(landing, exist_ok=True)
    seen: list[str] = []
    next_user = 0
    for k in range(s["files"]):
        lines = []
        for _ in range(s["lines"]):
            if seen and rng.random() < s["repeat"]:
                lines.append(rng.choice(seen))
                continue
            recs = [_item(r) for r in rng.sample(range(s["catalog"]), s["recs"])]
            lines.append(_dumps({"input": {"userId": f"u{next_user:07d}"},
                                 "output": {"recommendedItems": recs}}))
            next_user += 1
        seen.extend(lines)
        path = f"{landing}/{landed_file(k)}"
        nbytes += _write_lines(path, lines)
        # the file source takes files oldest first: fix the arrival order
        os.utime(path, (LANDING_EPOCH + k, LANDING_EPOCH + k))
    m.input_bytes, m.input_records = nbytes, s["files"] * s["lines"]


_GENERATORS = {
    "full_sync": _gen_full_sync,
    "delta_resync": _gen_delta_resync,
    "braze_delivery": _gen_braze_delivery,
    "landing_drain": _gen_landing_drain,
}


def generate(workload: str, root: str, seed: int) -> Manifest:
    if workload not in _GENERATORS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    os.makedirs(root, exist_ok=True)
    m = Manifest(workload=workload, seed=seed, root=root)
    _GENERATORS[workload](random.Random(f"{workload}:{seed}"), root, m)
    return m
