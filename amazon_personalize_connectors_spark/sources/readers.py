"""Source operators S1-S6 (SURVEY.md §2.1) as plain PySpark readers.

The reference reads everything through Glue DynamicFrames with inferred,
per-record "choice" schemas. We supply explicit StructTypes for the two
batch-inference shapes (avoids a whole inference pass over the data —
at 100 TB that pass *is* the job) and PERMISSIVE corrupt-record capture
to replace DynamicFrame schema drift (SURVEY.md §7.4).

Reference locations: S1 ri:99-107/up:97-105, S2 ri:141-155, S3
ri:176-189, S4 ri:251-258, S6 ri:40-53.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Personalize batch-inference job type -> the input field that keys its
# records: itemId for related items (ri:159), userId for user
# personalization (up:167).
JOB_INPUT_KEYS = {"related_items": "itemId", "user_personalization": "userId"}


def input_key(job_type: str) -> str:
    """The input key field of ``job_type``; unknown job types raise."""
    if job_type not in JOB_INPUT_KEYS:
        raise ValueError(
            f"unknown job type: {job_type!r} (expected one of {sorted(JOB_INPUT_KEYS)})"
        )
    return JOB_INPUT_KEYS[job_type]


def _batch_inference_schema(key_field: str) -> T.StructType:
    """S1 — batch inference output keyed on ``input.<key_field>``
    (README.md:169-173; the `error` column is implied by the split at
    ri:111,116)."""
    return T.StructType(
        [
            T.StructField(
                "input", T.StructType([T.StructField(key_field, T.StringType())])
            ),
            T.StructField(
                "output",
                T.StructType(
                    [T.StructField("recommendedItems", T.ArrayType(T.StringType()))]
                ),
            ),
            T.StructField("error", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )


BATCH_INFERENCE_RELATED_SCHEMA = _batch_inference_schema("itemId")
BATCH_INFERENCE_USERPERS_SCHEMA = _batch_inference_schema("userId")


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, qualified Path)`` for ``path`` on any
    Hadoop-supported scheme: ``/x`` and ``file:/x`` qualify alike."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def path_exists(spark: SparkSession, path: str) -> bool:
    """S6 — existence probe, Hadoop-FS flavored (replaces the boto3
    list-objects probe at ri:40-53; works on any Hadoop-supported FS)."""
    fs, p = hadoop_path(spark, path)
    if fs.exists(p):
        return True
    # prefix probe: any object under the path (ri:47-53 list_objects_v2)
    statuses = fs.globStatus(spark._jvm.org.apache.hadoop.fs.Path(p, "*"))
    return statuses is not None and len(statuses) > 0


def read_batch_inference(
    spark: SparkSession, path: str, job_type: str = "related_items"
) -> DataFrame:
    """S1 — JSONL scan of Personalize batch-inference output (ri:99-107).

    A folder read is an implicit UNION ALL of part files. PERMISSIVE mode
    + ``_corrupt_record`` replaces DynamicFrame per-record drift: bad
    lines land in one inspectable column instead of failing the scan.
    """
    schema = _batch_inference_schema(input_key(job_type))
    return (
        spark.read.schema(schema)
        .options(mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record")
        .json(path)
    )


def split_corrupt(df: DataFrame, cache: bool = True) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE-parsed frame into (clean, corrupt) rows.

    Spark disallows queries that reference *only* the internal corrupt
    record column over raw JSON (UNSUPPORTED_FEATURE.QUERY_ONLY_
    CORRUPT_RECORD_COLUMN) — the parsed frame must be materialized
    first, so this caches by default. Clean rows drop the marker
    column; corrupt rows keep the raw line for quarantine sinks.
    """
    if cache:
        df = df.cache()
    clean = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    corrupt = df.where(F.col("_corrupt_record").isNotNull())
    return clean, corrupt


def read_user_item_mapping(spark: SparkSession, path: str) -> DataFrame:
    """S2 — CSV scan of the USER_ID,ITEM_ID bridge table (ri:141-155).

    Same read options as the reference: header, quote '"', sep ',',
    recursive listing; all columns untyped strings (no inference).
    Spark's native CSV reader is vectorized — the Glue
    ``optimizePerformance`` SIMD flag (ri:146) has no equivalent knob
    and needs none.
    """
    schema = T.StructType(
        [
            T.StructField("USER_ID", T.StringType()),
            T.StructField("ITEM_ID", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .options(header=True, quote='"', sep=",", recursiveFileLookup=True)
        .csv(path)
    )


def read_item_metadata(spark: SparkSession, path: str) -> DataFrame | None:
    """S3 — optional JSONL dimension load, gated on existence (ri:176-189).

    The schema is user-defined and open (README.md:192-194), so it is
    inferred. Returns None when the path has no data, which the
    pipeline treats as "decorate with bare itemId structs".
    """
    return spark.read.json(path) if path_exists(spark, path) else None


def read_last_sync_state(spark: SparkSession, path: str) -> DataFrame | None:
    """S4 — prior decorated-output snapshot for the delta check
    (ri:251-258). None when no prior sync exists."""
    return read_item_metadata(spark, path)


# per-field variant schemas that do NOT count as drift: the canonical
# type, JSON null (VOID), and for the rec list an empty array
_DRIFT_OK = {
    "id": ("STRING", "VOID"),
    "recs": ("ARRAY<STRING>", "ARRAY<VOID>", "VOID"),
    "error": ("STRING", "VOID"),
}


def parse_batch_inference_drift(
    lines: DataFrame, job_type: str = "related_items", value_col: str = "value"
) -> DataFrame:
    """S1-drift — schema-drift-tolerant parse of batch-inference JSONL
    lines via Spark 4 VARIANT, closing the gap to Glue DynamicFrame
    choice types (ri:99-107): a record whose ``itemId`` arrives as a
    NUMBER (or whose rec list holds numbers) is ABSORBED — typed
    ``try_variant_get`` casts it into the declared string schema —
    instead of being dumped whole into ``_corrupt_record`` as the
    PERMISSIVE path does. Emits the same fixed schema as
    ``read_batch_inference`` plus a ``_drift`` flag marking records
    whose variant type differed from the canonical one (the rows Glue
    would have given a choice struct), so downstream can audit drift
    without losing the data.

    Only genuinely unparseable lines land in ``_corrupt_record``
    (``try_parse_json`` NULL with a non-null raw line); ``_drift`` is
    NULL for them. Pure column transform — usable on a stream or a
    batch text scan; JVM-side end to end (variant parse + typed get
    are codegen expressions, no Python in the path)."""
    id_field = input_key(job_type)
    id_path = f"$.input.{id_field}"
    # parse ONCE into a variant column; every extraction below reads
    # the parsed binary, not the raw JSON text again
    parsed = lines.withColumn("_v", F.expr(f"try_parse_json({value_col})"))
    raw = {
        "id": F.expr(f"variant_get(_v, '{id_path}')"),
        "recs": F.expr("variant_get(_v, '$.output.recommendedItems')"),
        "error": F.expr("variant_get(_v, '$.error')"),
    }
    drift = F.lit(False)
    for name, col in raw.items():
        sch = F.schema_of_variant(col)
        drift = drift | (
            col.isNotNull() & ~sch.isin(*_DRIFT_OK[name])
        )
    typed_id = F.expr(f"try_variant_get(_v, '{id_path}', 'string')")
    typed_recs = F.expr(
        "try_variant_get(_v, '$.output.recommendedItems', 'array<string>')"
    )
    typed_err = F.expr("try_variant_get(_v, '$.error', 'string')")
    corrupt = F.col("_v").isNull() & F.col(value_col).isNotNull()
    return parsed.select(
        F.when(
            ~corrupt, F.struct(typed_id.alias(id_field)).alias("input")
        ).alias("input"),
        F.when(
            ~corrupt & typed_recs.isNotNull(),
            F.struct(typed_recs.alias("recommendedItems")),
        ).alias("output"),
        F.when(~corrupt, typed_err).alias("error"),
        F.when(corrupt, F.col(value_col)).alias("_corrupt_record"),
        F.when(~corrupt, drift).alias("_drift"),
    )


def read_batch_inference_drift(
    spark: SparkSession, path: str, job_type: str = "related_items"
) -> DataFrame:
    """S1-drift over a path: text scan (a folder read is an implicit
    UNION ALL, same as the PERMISSIVE reader) + variant parse. On
    clean input this is row-identical to ``read_batch_inference``
    modulo the extra ``_drift=false`` column (test-pinned)."""
    return parse_batch_inference_drift(
        spark.read.text(path), job_type=job_type
    )
