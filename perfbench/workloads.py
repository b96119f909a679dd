"""The four workload operations, their output checks and traced runs.

Each workload drives the package only through its public entry points:

* ``full_sync`` and ``delta_resync``: ``plans.job.run_job``;
* ``braze_delivery``: ``operators.payload.build_user_track_payloads`` and
  ``sinks.transport.deliver_and_collect_failures`` through
  ``HttpUserTrackTransport`` to the stub receiver;
* ``landing_drain``: ``streaming.incremental.incremental_file_source`` and
  ``incremental_content_ingest`` with a decorate-and-write callable.

``before_op`` (untimed) resets the inputs an operation consumes, ``op``
is the timed operation, ``check`` returns the list of problems with its
output (empty when correct), and ``traced`` runs the operation again
layer by layer under ``StatusCapture`` spans.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazon_personalize_connectors_spark.config import ConnectorConfig, PipelineConfig
from amazon_personalize_connectors_spark.operators.attribution import attribute_users
from amazon_personalize_connectors_spark.operators.decorate import (
    decorate_items,
    explode_recommendations,
)
from amazon_personalize_connectors_spark.operators.delta import delta_check
from amazon_personalize_connectors_spark.operators.payload import build_user_track_payloads
from amazon_personalize_connectors_spark.operators.split import split_errors
from amazon_personalize_connectors_spark.operators.stamp import add_job_and_sync_info
from amazon_personalize_connectors_spark.plans.job import run_job
from amazon_personalize_connectors_spark.sinks.jsonl import (
    write_connector_output,
    write_errors,
)
from amazon_personalize_connectors_spark.sinks.transport import (
    HttpUserTrackTransport,
    deliver_and_collect_failures,
)
from amazon_personalize_connectors_spark.sources.readers import (
    BATCH_INFERENCE_USERPERS_SCHEMA,
    read_batch_inference,
    read_item_metadata,
    read_last_sync_state,
    read_user_item_mapping,
    split_corrupt,
)
from amazon_personalize_connectors_spark.streaming.incremental import (
    incremental_content_ingest,
    incremental_file_source,
)

import expect
import gen
from receiver import MASK64, record_digest

RUN_DT = datetime(2026, 1, 1, tzinfo=timezone.utc)
ALL_FIELDS = ("brand", "category", "name", "price_cents")
SUBSET_FIELDS = ("name", "price_cents")
PROGRESS_KEYS = ("addBatch", "getBatch", "walCommit", "latestOffset", "queryPlanning")


def disk_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def count_lines(pattern: str) -> int:
    """Rows of uncompressed JSONL files, one record a line."""
    total = 0
    for path in glob.glob(pattern):
        with open(path, "rb") as f:
            total += sum(1 for line in f if line.strip())
    return total


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _expect_equal(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


def _meta_hit_ratio(decorated, rec_col: str = "recommendations") -> float:
    """Share of decorated recommendations that found a metadata row."""
    row = decorated.select(F.explode(rec_col).alias("r")).agg(
        F.count(F.lit(1)).alias("n"), F.count("r.price_cents").alias("hit")
    ).first()
    return row["hit"] / row["n"] if row["n"] else 0.0


class Workload:
    # typical wall time of one warm operation plus its check at local[4];
    # the window runs round(--seconds / nominal_s) operations
    nominal_s = 1.0
    # untimed operations first: the first absorbs class loading and code
    # generation; a second helps where the JIT still moves the next ones
    warmup_ops = 1

    def __init__(self, spark, manifest: gen.Manifest, work: str):
        self.spark = spark
        self.m = manifest
        self.root = manifest.root
        self.work = work

    def before_op(self, k: int) -> None:
        pass

    def op(self, k: int):
        raise NotImplementedError

    def check(self, k: int, result) -> list[str]:
        raise NotImplementedError

    def written(self, k: int) -> int:
        raise NotImplementedError

    def dlq_records(self, result) -> int:
        """Records the operation sent to the dead-letter queue."""
        return 0

    def traced(self, cap) -> dict:
        raise NotImplementedError


class FullSync(Workload):
    """related_items first sync: two connectors, errors saved, JSON state."""

    nominal_s = 4.6
    connectors = {"subset": SUBSET_FIELDS, "all": ALL_FIELDS}

    def __init__(self, spark, manifest, work):
        super().__init__(spark, manifest, work)
        self.expected = expect.full_sync(self.root, self.connectors)
        self.config = PipelineConfig(
            batch_inference_path=f"{self.root}/batch_inference",
            connectors=(
                ConnectorConfig("subset", item_metadata_fields=SUBSET_FIELDS),
                ConnectorConfig("all"),
            ),
            perform_delta_check=True,
            save_batch_inference_errors=True,
            run_datetime=RUN_DT,
        )

    def before_op(self, k):
        _rmtree(f"{self.root}/output")
        _rmtree(f"{self.root}/errors")

    def op(self, k):
        return run_job(self.spark, "related_items", self.root, self.config)

    def check(self, k, report):
        problems: list[str] = []
        con = expect.connect()
        for name, fields in self.connectors.items():
            want = self.expected["connectors"][name]
            _expect_equal(problems, f"{name} delivered rows",
                          report.delivered_rows.get(name), want.rows)
            _expect_equal(problems, f"{name} output", expect.output_digest(
                con, f"{report.output_paths[name]}/*.json.gz", ("queryItemId", "userId"), fields
            ), want)
            _expect_equal(problems, f"{name} state rows",
                          count_lines(f"{report.state_paths[name]}/*.json"),
                          self.expected["state_rows"])
        _expect_equal(problems, "error rows", report.n_errors, self.expected["errors"].rows)
        _expect_equal(problems, "errors output", expect.errors_digest(
            con, f"read_json_auto('{report.error_path}/*.json.gz')"), self.expected["errors"])
        _expect_equal(problems, "corrupt rows", report.n_corrupt, self.expected["corrupt"])
        con.close()
        return problems

    def written(self, k):
        return disk_usage(f"{self.root}/output")[0] + disk_usage(f"{self.root}/errors")[0]

    def traced(self, cap) -> dict:
        """The job's layers one at a time, each on the previous layer's
        cached output, for both connectors; then the output writes."""
        self.before_op(0)
        spark, root, out = self.spark, self.root, {}
        cached = []

        def keep(df):
            df = df.cache()
            cached.append(df)
            return df

        with cap.span("sources") as s:
            raw = keep(read_batch_inference(spark, f"{root}/batch_inference", "related_items"))
            rows = raw.count()
            batch, corrupt = split_corrupt(raw, cache=False)
            mapping = keep(read_user_item_mapping(spark, f"{root}/user_item_mapping"))
            metadata = keep(read_item_metadata(spark, f"{root}/item_metadata"))
            mapping.count()
            metadata.count()
        out["sources"] = s
        out["sources.rows"] = rows
        out["sources.corrupt_rows"] = corrupt.count()

        with cap.span("split") as s:
            ok, errors = split_errors(batch, cache=False)
            ok, errors = keep(ok), keep(errors)
            ok.count()
            out["split.error_rows"] = errors.count()
        out["split"] = s

        spans = {"decorate": [], "attribution": [], "delta": [], "jsonl": []}
        exploded = decorated_rows = attributed_rows = delivered = 0
        hit_ratio = []
        for connector in self.config.connectors:
            with cap.span(f"decorate.{connector.name}") as s:
                per_item = keep(decorate_items(
                    ok, metadata, key_cols=[("input.itemId", "queryItemId")],
                    metadata_fields=connector.item_metadata_fields or None,
                ))
                decorated_rows += per_item.count()
            spans["decorate"].append(s)
            exploded += explode_recommendations(ok, [("input.itemId", "queryItemId")]).count()
            hit_ratio.append(_meta_hit_ratio(per_item))

            with cap.span(f"attribution.{connector.name}") as s:
                attributed = keep(attribute_users(
                    per_item, mapping, recs_item_col="queryItemId"
                ).select("queryItemId", "userId", "recommendations"))
                attributed_rows += attributed.count()
            spans["attribution"].append(s)

            with cap.span(f"delta.{connector.name}") as s:
                delta = keep(delta_check(attributed, None))
                delivered += delta.count()
            spans["delta"].append(s)

            with cap.span(f"jsonl.{connector.name}") as s:
                stamped = add_job_and_sync_info(delta, self.config.job_name, RUN_DT, connector)
                write_connector_output(stamped, f"{root}/output", connector.name, RUN_DT)
                attributed.write.mode("overwrite").json(
                    f"{root}/output/{connector.name}/state")
            spans["jsonl"].append(s)
        with cap.span("jsonl.errors") as s:
            write_errors(errors, f"{root}/errors", RUN_DT)
        spans["jsonl"].append(s)
        for df in cached:
            df.unpersist()

        out.update(spans)
        out["decorate.exploded_rows"] = exploded
        out["decorate.meta_hit_ratio"] = sum(hit_ratio) / len(hit_ratio)
        out["attribution.fanout"] = attributed_rows / decorated_rows
        out["delta.state_rows"] = 0
        out["delta.state_files"] = 0
        out["delta.delivered_ratio"] = delivered / attributed_rows
        out["jsonl.bytes_written"], out["jsonl.files_written"] = (
            a + b for a, b in zip(disk_usage(f"{root}/output"), disk_usage(f"{root}/errors"))
        )
        return out


class DeltaResync(Workload):
    """user_personalization re-run against the restored prior snapshot."""

    nominal_s = 2.5
    warmup_ops = 2

    def __init__(self, spark, manifest, work):
        super().__init__(spark, manifest, work)
        self.expected = expect.delta_resync(self.root, ALL_FIELDS)
        self.config = PipelineConfig(
            batch_inference_path=f"{self.root}/batch_inference",
            connectors=(ConnectorConfig("all"),),
            perform_delta_check=True,
            run_datetime=RUN_DT,
        )
        self.state = f"{self.root}/output/all/state"

    def before_op(self, k):
        _rmtree(f"{self.root}/output")
        shutil.copytree(f"{self.root}/state_snapshot", self.state)

    def op(self, k):
        return run_job(self.spark, "user_personalization", self.root, self.config)

    def check(self, k, report):
        problems: list[str] = []
        con = expect.connect()
        _expect_equal(problems, "delivered rows", report.delivered_rows.get("all"),
                      self.expected["delta"].rows)
        _expect_equal(problems, "output", expect.output_digest(
            con, f"{report.output_paths['all']}/*.json.gz", ("queryUserId",), ALL_FIELDS
        ), self.expected["delta"])
        _expect_equal(problems, "rewritten state", expect.output_digest(
            con, f"{self.state}/*.json", ("queryUserId",), ALL_FIELDS
        ), self.expected["state"])
        con.close()
        return problems

    def written(self, k):
        return disk_usage(f"{self.root}/output")[0]

    def traced(self, cap) -> dict:
        self.before_op(0)
        spark, root, out = self.spark, self.root, {}
        with cap.span("sources") as s:
            raw = read_batch_inference(spark, f"{root}/batch_inference", "user_personalization")
            raw = raw.cache()
            out["sources.rows"] = raw.count()
            batch, corrupt = split_corrupt(raw, cache=False)
            metadata = read_item_metadata(spark, f"{root}/item_metadata").cache()
            metadata.count()
        out["sources"] = s
        out["sources.corrupt_rows"] = corrupt.count()
        with cap.span("split") as s:
            ok, errors = split_errors(batch, cache=False)
            ok = ok.cache()
            ok.count()
            out["split.error_rows"] = errors.count()
        out["split"] = s
        with cap.span("decorate") as s:
            decorated = decorate_items(
                ok, metadata, key_cols=[("input.userId", "queryUserId")]
            ).cache()
            decorated.count()
        out["decorate"] = s
        out["decorate.exploded_rows"] = explode_recommendations(
            ok, [("input.userId", "queryUserId")]).count()
        out["decorate.meta_hit_ratio"] = _meta_hit_ratio(decorated)
        out["delta.state_rows"] = count_lines(f"{self.state}/*.json")
        out["delta.state_files"] = disk_usage(self.state)[1]
        with cap.span("delta") as s:
            state = read_last_sync_state(spark, self.state)
            delta = delta_check(decorated, state).cache()
            delivered = delta.count()
        out["delta"] = s
        out["delta.delivered_ratio"] = delivered / out["sources.rows"]
        with cap.span("jsonl") as s:
            connector = self.config.connectors[0]
            stamped = add_job_and_sync_info(delta, self.config.job_name, RUN_DT, connector)
            write_connector_output(stamped, f"{root}/output", connector.name, RUN_DT)
            decorated.write.mode("overwrite").json(self.state)
        out["jsonl"] = s
        out["jsonl.bytes_written"], out["jsonl.files_written"] = disk_usage(f"{root}/output")
        for df in (raw, metadata, ok, decorated, delta):
            df.unpersist()
        return out


class BrazeDelivery(Workload):
    """Payload shaping and HTTP delivery of a connector's output."""

    nominal_s = 2.3
    # the driver JVM's CPU per delivery pass still halves over the first
    # three passes after the cold one
    warmup_ops = 2
    connector = ConnectorConfig(
        "subset", item_metadata_fields=SUBSET_FIELDS, other_attributes=gen.OTHER_ATTRIBUTES
    )

    def __init__(self, spark, manifest, work, url: str):
        super().__init__(spark, manifest, work)
        self.url = url
        self.dlq = f"{work}/dlq"
        block = gen.SIZES["braze_delivery"]["block"]
        poison = set(manifest.poison_ids)
        accepted, checksum, dlq = 0, 0, []
        for chunk in expect.braze_blocks(self.root, block):
            if any(user in poison for user, _ in chunk):
                dlq.extend(user for user, _ in chunk)
            else:
                accepted += len(chunk)
                for user, items in chunk:
                    checksum = (checksum + record_digest(user, items)) & MASK64
        self.expected = {"accepted": accepted, "checksum": checksum, "dlq": sorted(dlq)}

    def _control(self, path: str, method: str = "GET") -> dict:
        req = urllib.request.Request(self.url.replace("/users/track", path), method=method,
                                     data=b"" if method == "POST" else None)
        with urllib.request.urlopen(req, timeout=10) as resp:
            return json.loads(resp.read())

    def before_op(self, k):
        _rmtree(self.dlq)
        self._control("/reset", "POST")

    def _payloads(self):
        decorated = self.spark.read.json(f"{self.root}/connector_output")
        return build_user_track_payloads(decorated, self.connector)

    def _deliver(self, payloads) -> int:
        url = self.url
        return deliver_and_collect_failures(
            payloads,
            lambda: HttpUserTrackTransport(url, api_key="perfbench", backoff_s=0.01),
            dlq_path=self.dlq,
        )

    def op(self, k):
        return self._deliver(self._payloads().payloads)

    def check(self, k, failed_records):
        problems: list[str] = []
        stats = self._control("/stats")
        _expect_equal(problems, "DLQ records", failed_records, len(self.expected["dlq"]))
        _expect_equal(problems, "accepted records", stats["accepted"], self.expected["accepted"])
        _expect_equal(problems, "accepted checksum", stats["checksum"], self.expected["checksum"])
        _expect_equal(problems, "malformed requests", stats["shape_rejects"], 0)
        if stats["max_open_connections"] > self.spark.sparkContext.defaultParallelism:
            problems.append(f"{stats['max_open_connections']} concurrent connections")
        con = expect.connect()
        _expect_equal(problems, "DLQ ids", sorted(expect.dlq_ids(con, f"{self.dlq}/*.json")),
                      self.expected["dlq"])
        con.close()
        return problems

    def written(self, k):
        return disk_usage(self.dlq)[0]

    def dlq_records(self, failed_records):
        return failed_records

    def traced(self, cap) -> dict:
        self.before_op(0)
        out = {}
        with cap.span("sources") as s:
            decorated = self.spark.read.json(f"{self.root}/connector_output").cache()
            out["sources.rows"] = decorated.count()
        out["sources"] = s
        with cap.span("payload") as s:
            split = build_user_track_payloads(decorated, self.connector)
            payloads = split.payloads.cache()
            payloads.count()
            out["payload.rejected_rows"] = split.rejected.count()
        out["payload"] = s
        with cap.span("transport") as s:
            failed = self._deliver(payloads)
        out["transport"] = s
        stats = self._control("/stats")
        chunks = self.m.chunks
        out.update({
            "transport.posts": stats["posts"],
            "transport.posts_per_chunk": stats["posts"] / chunks,
            "transport.connections": stats["connections"],
            "transport.dlq_records": failed,
            "transport.post_p50_ms": stats["post_p50_ms"],
        })
        decorated.unpersist()
        payloads.unpersist()
        return out


LANDING_SCHEMA = T.StructType(
    [f for f in BATCH_INFERENCE_USERPERS_SCHEMA.fields if f.name in ("input", "output")]
)


class LandingDrain(Workload):
    """AvailableNow drain through the digest-store delta, from an empty
    checkpoint and state, with a decorate-and-write deliver callable."""

    nominal_s = 11.5

    def __init__(self, spark, manifest, work):
        super().__init__(spark, manifest, work)
        size = gen.SIZES["landing_drain"]
        self.per_trigger = size["per_trigger"]
        self.files = [gen.landed_file(k) for k in range(size["files"])]
        # The untimed warm-up (k == 0) drains only the first trigger's
        # files: it compiles the same plans at half the cost of a drain.
        self.warmup_files = self.files[: self.per_trigger]
        self.expected = expect.landing_drain(self.root, self.files, ALL_FIELDS)
        self.expected_warmup = expect.landing_drain(self.root, self.warmup_files, ALL_FIELDS)
        self.decorate_s = self.write_s = 0.0

    def _dir(self, k):
        return f"{self.work}/drain-{k}"

    def before_op(self, k):
        _rmtree(self._dir(k - 1))
        self.decorate_s = self.write_s = 0.0

    def _drain(self, k, staged: bool = False):
        """One drain. ``staged`` materializes the decorated micro-batch
        before writing it, so decorate and write are timed apart."""
        spark, d = self.spark, self._dir(k)
        metadata = read_item_metadata(spark, f"{self.root}/item_metadata")
        stream = incremental_file_source(
            spark, f"{self.root}/landing", LANDING_SCHEMA,
            path_glob_filter="{" + ",".join(self.warmup_files) + "}" if k == 0 else None,
            max_files_per_trigger=self.per_trigger,
        )

        def deliver(fresh, batch_id):
            t0 = time.perf_counter()
            decorated = decorate_items(
                fresh, metadata, key_cols=[("input.userId", "queryUserId")]
            )
            if staged:
                decorated = decorated.cache()
                decorated.count()
            t1 = time.perf_counter()
            write_connector_output(decorated, f"{d}/out", f"batch-{batch_id:04d}", RUN_DT)
            if staged:
                decorated.unpersist()
            self.decorate_s += t1 - t0
            self.write_s += time.perf_counter() - t1

        query = incremental_content_ingest(stream, f"{d}/state", f"{d}/checkpoint", deliver)
        if query.isActive:
            query.stop()
            raise TimeoutError("AvailableNow drain still active after its timeout")
        return query

    def op(self, k):
        return self._drain(k)

    def check(self, k, query):
        problems: list[str] = []
        if query.exception() is not None:
            problems.append(f"query failed: {query.exception()}")
        files = self.warmup_files if k == 0 else self.files
        _expect_equal(problems, "triggers", len(query.recentProgress),
                      math.ceil(len(files) / self.per_trigger))
        expected = self.expected_warmup if k == 0 else self.expected
        con = expect.connect()
        _expect_equal(problems, "delivered", expect.output_digest(
            con, f"{self._dir(k)}/out/**/*.json.gz", ("queryUserId",), ALL_FIELDS
        ), expected["delivered"])
        con.close()
        return problems

    def written(self, k):
        return disk_usage(self._dir(k))[0]

    def traced(self, cap) -> dict:
        k = -1
        self.before_op(k)
        with cap.span("incremental") as s:
            query = self._drain(k, staged=True)
        progress = query.recentProgress
        deliver_s = self.decorate_s + self.write_s
        d = self._dir(k)
        con = expect.connect()
        delivered = expect.output_digest(
            con, f"{d}/out/**/*.json.gz", ("queryUserId",), ALL_FIELDS).rows
        con.close()
        durations = {key: sum(p["durationMs"].get(key, 0) for p in progress)
                     for key in PROGRESS_KEYS}
        out = {
            "incremental": s,
            "incremental.triggers": len(progress),
            "incremental.trigger_overhead_s": (s.wall_s - deliver_s) / len(progress),
            "incremental.fresh_ratio": delivered / self.expected["input_rows"],
            # the deliver callable is the decorate-and-write step; the rest
            # of each addBatch is the digest delta and the digest append
            "delta.s": durations["addBatch"] / 1000.0 - deliver_s,
            "delta.state_rows": self.spark.read.parquet(f"{d}/state").count(),
            "delta.state_files": sum(
                1 for _, _, names in os.walk(f"{d}/state") for n in names
                if n.endswith(".parquet")
            ),
            "delta.delivered_ratio": delivered / self.expected["input_rows"],
            "decorate.s": self.decorate_s,
            "jsonl.s": self.write_s,
        }
        for key, ms in durations.items():
            out[f"incremental.{key}_ms"] = ms
        out["jsonl.bytes_written"], out["jsonl.files_written"] = disk_usage(f"{d}/out")
        return out


def make(name: str, spark, manifest, work: str, url: str | None = None) -> Workload:
    if name == "braze_delivery":
        return BrazeDelivery(spark, manifest, work, url)
    return {"full_sync": FullSync, "delta_resync": DeltaResync,
            "landing_drain": LandingDrain}[name](spark, manifest, work)
