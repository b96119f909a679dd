"""Drift and provenance operators.

Glue DynamicFrames tolerate per-record schema drift by carrying
self-describing rows (SURVEY.md §7.4). Spark fixes one schema per
scan, so scan-level drift is handled by explicit schemas + PERMISSIVE
mode, which put non-conforming lines in ``_corrupt_record``
(sources/readers.py). This module holds the F8 source-file gate and
the embedding-distribution drift statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_by_source_file(df: DataFrame, key_regex: str) -> DataFrame:
    """F8 — admit only rows whose source file path matches the key
    regex (the enqueue Lambda's KEY_MATCH gate,
    braze_enqueue_function/main.py:19,30-32). Prefer passing the right
    glob to the reader (partition pruning); this is the post-hoc form
    for mixed prefixes."""
    return df.where(F.input_file_name().rlike(key_regex))


def embedding_centroid_drift(
    snap_a: DataFrame,
    snap_b: DataFrame,
    label_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label embedding-distribution drift between two corpus
    snapshots: the L1 distance between label centroids, computed
    ENTIRELY in associative integer arithmetic so the statistic is
    bit-identical under any partitioning (the ks_two_sample rule
    applied to vectors). Built on the same micro-unit sums as
    ``recsys.profile_vector_sums``.

    Math: with per-(label, dim) scaled sums S and counts n,
    |mean_a - mean_b| = |S_a·n_b - S_b·n_a| / (n_a·n_b·scale) — the
    numerator is exact bigint per dim and SUMS exactly across dims,
    so the only float op is one division at the end. Returns one row
    per label: (label, n_a, n_b, drift_num, l1_drift).

    Scale shape: two map-side-combinable (label, dim) aggregates
    (shuffle carries labels x dims partial sums, not vectors), one
    equi-join of two tiny centroid tables, one final label aggregate.
    Labels absent from either snapshot are dropped (drift against
    nothing is undefined) — inner join, documented."""
    from amazon_personalize_connectors_spark.operators.recsys import (
        profile_vector_sums,
    )

    a = profile_vector_sums(snap_a, label_col, vec_col, scale).select(
        F.col(label_col).alias("_l"),
        F.col("dim").alias("_d"),
        F.col("vsum_micro").alias("_sa"),
        F.col("n_vecs").alias("_na"),
    )
    b = profile_vector_sums(snap_b, label_col, vec_col, scale).select(
        F.col(label_col).alias("_l"),
        F.col("dim").alias("_d"),
        F.col("vsum_micro").alias("_sb"),
        F.col("n_vecs").alias("_nb"),
    )
    per_dim = a.join(b, ["_l", "_d"]).select(
        "_l",
        "_na",
        "_nb",
        F.abs(
            F.col("_sa") * F.col("_nb") - F.col("_sb") * F.col("_na")
        ).alias("_num"),
    )
    return per_dim.groupBy(F.col("_l").alias(label_col)).agg(
        F.first("_na").cast("bigint").alias("n_a"),
        F.first("_nb").cast("bigint").alias("n_b"),
        F.sum("_num").cast("bigint").alias("drift_num"),
        (
            F.sum("_num").cast("double")
            / (F.first("_na") * F.first("_nb") * F.lit(scale)).cast("double")
        ).alias("l1_drift"),
    )
