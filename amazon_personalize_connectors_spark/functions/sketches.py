"""Mergeable-summary operators: exact bitmap distinct rollups, HLL
sketch rollups, and Bloom-pruned joins — the pre-aggregation layer a
100 TB warehouse runs so repeated "distinct users per X" and "does
this key exist" questions never re-shuffle raw facts.

Everything here is built from Spark 4 built-ins (bitmap_construct_agg,
hll_sketch_agg, xxhash64, bit ops) — JVM-side, codegen-friendly, no
Python in the data path.

Why three shapes:

* ``bitmap_*`` — EXACT distinct counts over integer ids, mergeable
  with bit_or. Costs memory ∝ id-space density per group; ideal for
  bounded surrogate keys (the engine's ids.py produces exactly
  those). Exactness makes it oracle-checkable against COUNT(DISTINCT).
* ``hll_*`` — approximate, fixed ~1.5 KB per group at lgk=12, for
  unbounded/high-cardinality ids. Mergeability (union-agg) is the
  scale property: daily sketches roll up to monthly without touching
  the raw events again.
* Bloom pruning — a semi/anti join against a key set that is too big
  to broadcast raw but fits as a bit array. The bloom pass removes
  the bulk of the big side BEFORE the shuffle; a final exact join
  over the survivors removes false positives, so results stay exact.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import types as T
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact bitmap distinct rollup
# ---------------------------------------------------------------------------


def bitmap_partials(
    df: DataFrame, group_cols: Sequence[str], id_col: str
) -> DataFrame:
    """Per-(group, id-bucket) exact bitmap — the materializable
    partial. Spark's bitmap covers one 32768-id bucket, so the bucket
    number MUST be a grouping key (``bitmap_bit_position`` is only
    unique within a bucket); together (bucket, position) round-trips
    any long id exactly. Each partial is ≤4 KiB regardless of count."""
    return df.groupBy(
        *group_cols, F.bitmap_bucket_number(F.col(id_col)).alias("id_bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position(F.col(id_col))).alias("bm"))


def bitmap_distinct_merge(
    partials: DataFrame,
    group_cols: Sequence[str],
    bitmap_col: str = "bm",
    bucket_col: str = "id_bucket",
    out_col: str = "n_distinct",
) -> DataFrame:
    """Merge finer-grain partials (from ``bitmap_partials``) up to
    coarser groups EXACTLY: ``bitmap_or_agg`` unions bitmaps within
    each id-bucket, so a daily materialization answers monthly
    distincts without rescanning facts."""
    return (
        partials.groupBy(*group_cols, bucket_col)
        .agg(F.bitmap_or_agg(F.col(bitmap_col)).alias("_bm"))
        .groupBy(*group_cols)
        .agg(F.sum(F.bitmap_count("_bm")).cast("bigint").alias(out_col))
    )


# ---------------------------------------------------------------------------
# HLL sketch rollup (approximate, unbounded id domains)
# ---------------------------------------------------------------------------


def hll_partials(
    df: DataFrame, group_cols: Sequence[str], id_col: str, lgk: int = 12
) -> DataFrame:
    """Per-group HLL sketch (Datasketches binary) — the materializable
    partial. ~2^lgk bytes per group regardless of cardinality."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(id_col), F.lit(lgk)).alias("hll")
    )


def hll_rollup(
    partials: DataFrame,
    group_cols: Sequence[str],
    hll_col: str = "hll",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Union per-group sketches up to coarser groups and estimate.
    The estimate after merging equals the estimate of sketching the
    union directly (HLL union is lossless over same-lgk sketches) —
    pinned by tests/test_sketches.py."""
    return partials.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(hll_col))).alias(out_col)
    )


# ---------------------------------------------------------------------------
# Bloom-pruned semi/anti join
# ---------------------------------------------------------------------------

_WORD_BITS = 64


def _positions(key, n_words: int, k: int):
    """k (word_idx, bit_mask) probes per key. Independent hashes from
    xxhash64 with distinct seeds; modulo across the whole bit space."""
    probes = []
    for seed in range(k):
        h = F.xxhash64(key, F.lit(seed))
        bit = F.pmod(h, F.lit(n_words * _WORD_BITS))
        probes.append(
            F.struct(
                (bit / _WORD_BITS).cast("int").alias("word_idx"),
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (bit % _WORD_BITS).cast("int")
                ).alias("mask"),
            )
        )
    return F.array(*probes)


def bloom_build(
    keys: DataFrame, key_col: str, n_words: int = 1 << 14, k: int = 3
) -> DataFrame:
    """Aggregate a key set into a Bloom bit array stored as rows
    (word_idx → or-ed 64-bit word): ``n_words * 8`` bytes total,
    default 128 KiB ≈ 1M keys at ~3% FPR. Row form (not one giant
    array) keeps the build a plain groupBy and the probe a plain
    equi-join — both shapes Spark already scales."""
    return (
        keys.select(F.explode(_positions(F.col(key_col), n_words, k)).alias("p"))
        .groupBy(F.col("p.word_idx").alias("word_idx"))
        .agg(F.bit_or("p.mask").alias("word"))
    )


def bloom_prune_semi_join(
    big: DataFrame,
    keys: DataFrame,
    big_key: str,
    keys_key: str,
    n_words: int = 1 << 14,
    k: int = 3,
) -> DataFrame:
    """EXACT semi-join of ``big`` against ``keys`` for key sets too
    large to broadcast raw: fold the key set into a Bloom bit array,
    ship it to every task as a broadcast 1-row scalar, filter the big
    side with a pure Catalyst expression, then run the exact semi-join
    over the survivors only.

    At 100 TB the win is shuffle volume: the exact semi-join's big
    side shrinks by (1 - selectivity - FPR) BEFORE its exchange, and
    the bloom pass itself costs the big side NOTHING but a codegen'd
    filter — no explode, no shuffle. The word array rides a broadcast
    1-row crossJoin (the repo's scalar pattern) rather than a literal:
    a literal bloom would be copied into codegen's constant pool once
    per probe and caps out around the JVM's 64 KB method limit, while
    a broadcast row scales to multi-MB blooms and is shipped once per
    executor. The driver-side collect is bounded by ``n_words`` longs
    (128 KiB at the default) — ∝ the filter size we CHOSE, never ∝
    data (same budget class as the IVF centroid pull).

    False positives are removed by the final semi-join; false
    negatives are impossible (bit_or never loses a set bit), so the
    result is exactly the plain semi-join — that identity is the
    oracle (__spark_entry__.bloom_prune_semi).
    """
    word_rows = bloom_build(keys, keys_key, n_words=n_words, k=k).collect()
    dense = [0] * n_words
    for r in word_rows:
        dense[r["word_idx"]] = r["word"]
    words_df = keys.sparkSession.createDataFrame(
        [(dense,)], T.StructType([T.StructField("_bloom_words", T.ArrayType(T.LongType()))])
    )

    key = F.col(big_key)
    cond = F.lit(True)
    for seed in range(k):
        bit = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(n_words * _WORD_BITS))
        # F.shiftleft only takes a Python-int shift; call the SQL
        # function directly to shift by a column
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (bit % _WORD_BITS).cast("int")
        )
        word = F.element_at(F.col("_bloom_words"), (bit / _WORD_BITS).cast("int") + 1)
        cond = cond & (word.bitwiseAND(mask) == mask)
    survivors = (
        big.crossJoin(F.broadcast(words_df)).where(cond).drop("_bloom_words")
    )
    return survivors.join(
        keys.select(F.col(keys_key).alias(big_key)).distinct(),
        big_key,
        "left_semi",
    )


# ---------------------------------------------------------------------------
# mergeable binned-histogram quantiles
# ---------------------------------------------------------------------------


def histogram_partials(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    bin_width: float,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-(group, bin) row counts — the materializable quantile
    partial. Unlike approx_percentile state, these partials are plain
    rows: they parquet-persist, merge with a sum, and roll up across
    any grouping level. Resolution is ``bin_width`` (quantiles land on
    bin lower bounds); state per group is bounded by the value range /
    bin_width, independent of row count.

    ``weight_col`` makes the histogram weighted (bin mass = sum of
    weights); pass an INTEGER or decimal weight so downstream
    cumulative sums stay exact — double weights reintroduce
    accumulation-order noise into the quantile boundary."""
    bin_col = F.floor(F.col(value_col) / F.lit(bin_width)).cast("bigint")
    mass = (
        F.count(F.lit(1)) if weight_col is None else F.sum(F.col(weight_col))
    )
    return df.groupBy(*group_cols, bin_col.alias("bin")).agg(
        mass.alias("bin_n")
    )


def histogram_quantiles(
    partials: DataFrame,
    group_cols: Sequence[str],
    quantiles: Sequence[float],
    bin_width: float,
) -> DataFrame:
    """Merge histogram partials (possibly from a finer grouping) up to
    ``group_cols`` and emit discrete quantiles: for each q, the lower
    bound of the first bin whose cumulative count reaches
    ceil(q * total). Deterministic and engine-portable (no
    interpolation, integer arithmetic) — the same definition is
    expressible in ANSI SQL, which is the oracle.

    One window pass per group over ALREADY-AGGREGATED bins (rows ∝
    groups × active bins), never over raw values.
    """
    merged = partials.groupBy(*group_cols, "bin").agg(
        F.sum("bin_n").cast("bigint").alias("bin_n")
    )
    w = Window.partitionBy(*group_cols).orderBy("bin")
    wtot = Window.partitionBy(*group_cols)
    cum = merged.withColumn("cum_n", F.sum("bin_n").over(w)).withColumn(
        "total", F.sum("bin_n").over(wtot)
    )
    # all quantiles in ONE aggregate over the windowed bins (a
    # per-quantile union would re-run the window pass per q), then a
    # trivial unpivot to long form
    aggs = [
        F.min(
            F.when(
                F.col("cum_n") >= F.ceil(F.lit(q) * F.col("total")).cast("bigint"),
                F.col("bin"),
            )
        ).alias(f"_qbin_{i}")
        for i, q in enumerate(quantiles)
    ]
    g = cum.groupBy(*group_cols).agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                (F.col(f"_qbin_{i}") * F.lit(bin_width)).alias("value"),
            )
            for i, q in enumerate(quantiles)
        ]
    )
    return g.select(*group_cols, F.explode(rows).alias("_p")).select(
        *group_cols, "_p.q", "_p.value"
    )


# ---------------------------------------------------------------------------
# exact heavy hitters (two-pass: local candidates -> exact recount)
# ---------------------------------------------------------------------------


def frequent_values_exact(
    df: DataFrame,
    value_col: str,
    min_share: float,
) -> DataFrame:
    """EXACT heavy hitters: every value of ``value_col`` whose global
    frequency strictly exceeds ``min_share`` of the non-null rows,
    with its exact count — without ever shuffling the long tail.

    Plain ``groupBy(col).count()`` + HAVING is the right plan while
    the distinct-value set fits the aggregate hash maps; on a
    Zipf-tailed 100 TB token stream the tail (billions of near-unique
    values) spills the map and dominates the shuffle even though none
    of it can possibly be a heavy hitter. The classic two-pass fix:

    1. **Candidates** (Arrow-batched ``mapInPandas``, the sanctioned
       Python boundary): within each Arrow batch, keep values whose
       batch-local share exceeds ``min_share``. Pigeonhole guarantee:
       batches partition the rows, so a value with global share > s
       must have share > s in at least one batch — the union of
       batch-local survivors is a SUPERSET of the true heavy hitters
       (≤ 1/s values per batch), and the tail never leaves the map
       task.
    2. **Exact recount**: broadcast-semi-join the raw rows against
       the deduplicated candidates, count exactly, and apply the
       strict global threshold — the threshold total rides in as a
       1-row broadcast aggregate, so the plan stays fully lazy.

    False positives from pass 1 die in pass 2; false negatives are
    impossible, so the result is exact. NULLs are excluded (a null
    key is not a value). Output: (value, n, share) sorted nowhere —
    order downstream if needed."""
    import pandas as pd  # local import: only the candidate pass needs it

    src = df.select(value_col).where(F.col(value_col).isNotNull())
    out_schema = T.StructType([src.schema[value_col]])

    def _batch_candidates(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf[value_col].value_counts()
            keep = vc[vc > len(pdf) * min_share]
            if len(keep):
                yield pd.DataFrame({value_col: keep.index})

    candidates = src.mapInPandas(_batch_candidates, out_schema).distinct()
    survivors = src.join(F.broadcast(candidates), value_col, "left_semi")
    counts = survivors.groupBy(value_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    total = src.agg(F.count(F.lit(1)).cast("bigint").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n") > F.col("_total") * F.lit(min_share))
        .select(
            value_col,
            "n",
            (F.col("n") / F.col("_total")).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable heavy-hitter frequency summary
# ---------------------------------------------------------------------------


def _cms_cell(d_col, key_col, hex_chars: int):
    """Row d's bucket for a key: the first ``hex_chars`` hex digits of
    md5("<d>:<key>"). md5 emits identical lowercase hex on every
    engine, so the oracle computes the SAME cells with the same SQL —
    an engine-portable hash family (xxhash64 would be faster but is
    Spark-specific, which would make the sketch unverifiable)."""
    return F.substring(
        F.md5(
            F.concat(d_col.cast("string"), F.lit(":"), key_col.cast("string"))
        ),
        1,
        hex_chars,
    )


def cms_sketch(
    df: DataFrame, key_col: str, depth: int = 4, hex_chars: int = 2
) -> DataFrame:
    """Build a Count-Min sketch of a key column: ``depth`` hash rows ×
    16^hex_chars buckets of exact bigint counts — the bounded-size,
    MERGEABLE frequency summary that answers "roughly how often does
    key k occur" over a 100 TB stream without keeping per-key state.
    Estimates only ever OVERCOUNT (min over rows of colliding-bucket
    sums), never undercount.

    Mergeability is the scale property: sketches of two partitions /
    days / sources combine by summing matching (d, cell) counts —
    exactly what the map-side-combinable groupBy here already does,
    so building over a union IS merging. Output (d, cell, cnt),
    ≤ depth·16^hex_chars rows regardless of input size."""
    rows = df.select(F.col(key_col).alias("_k"))
    cells = rows.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(depth)])
        ).alias("d"),
        "_k",
    ).select(
        "d", _cms_cell(F.col("d"), F.col("_k"), hex_chars).alias("cell")
    )
    return cells.groupBy("d", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """Point-estimate frequencies for ``keys`` from a ``cms_sketch``
    output: each key probes its ``depth`` cells and takes the MIN of
    the bucket counts (absent bucket = 0 for never-seen keys).

    Scale shape: the sketch is bounded (≤ depth·16^hex_chars rows) so
    it BROADCASTS to the probe side — estimating frequencies for a
    billion keys is a broadcast join plus a map-side-combinable min,
    no shuffle of the sketch and one of the keys. Output
    (key_col, est)."""
    probes = keys.select(F.col(key_col)).distinct().select(
        key_col,
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d"),
    ).select(
        key_col,
        "d",
        _cms_cell(F.col("d"), F.col(key_col), hex_chars).alias("cell"),
    )
    joined = probes.join(F.broadcast(sketch), ["d", "cell"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias("est")
    )


def _ams_sign(j_lit: int, key_col: Column) -> Column:
    """Row's ±1 for estimator j: +1 when the first hex digit of
    md5("<j>:<key>") is 0-7, else -1 — the same engine-portable md5
    family as ``_cms_cell`` (identical lowercase hex everywhere), an
    unbiased 4-wise-enough stand-in for the AMS sign hash."""
    return F.when(
        F.substring(
            F.md5(F.concat(F.lit(str(j_lit)), F.lit(":"), key_col.cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit(1),
    ).otherwise(F.lit(-1))


def ams_f2_sketch(df: DataFrame, key_col: str, reps: int = 17) -> DataFrame:
    """AMS "tug-of-war" sketch of a key column (Alon, Matias &
    Szegedy, STOC'96): ``reps`` independent signed sums
    S_j = Σ_rows sign_j(key). Each S_j² is an unbiased estimate of
    F2 = Σ_k c_k² — the SELF-JOIN SIZE, the statistic a cost
    optimizer needs to size a join on this key and a skew detector
    needs to spot a heavy hitter, in O(reps) integers instead of a
    per-key frequency table.

    Scale shape: ONE aggregate computes all ``reps`` sums in a single
    pass (map-side combinable — the sketch of a union IS the merged
    sketch, so partitions/days/sources combine by adding matching
    S_j), then a ``stack`` unpivots the 1-row result into the
    (j, s) long form. No fan-out of the data, no shuffle beyond the
    1-row final aggregate. Output: ``reps`` rows (j int, s bigint)."""
    key = F.col(key_col)
    sums = df.agg(
        *[
            F.sum(_ams_sign(j, key)).cast("bigint").alias(f"_s{j}")
            for j in range(reps)
        ]
    )
    pairs = ", ".join(f"{j}, _s{j}" for j in range(reps))
    return sums.select(
        F.expr(f"stack({reps}, {pairs})").alias("j", "s")
    ).select(F.col("j").cast("int").alias("j"), F.col("s").cast("bigint").alias("s"))


def ams_f2_estimate(sketch: DataFrame, reps: int = 17) -> DataFrame:
    """Collapse an ``ams_f2_sketch`` long form to the classic
    median-of-squares F2 estimate. ``reps`` must be ODD so the median
    is an ELEMENT of the squares (exact integer, engine-portable) —
    an even count would average the middle pair and leave integer
    arithmetic. S_j² is exact bigint up to |S_j| ≤ 3e9 (past that,
    pre-aggregate or widen to decimal); the sketch side is ``reps``
    rows, so the rank window runs on a literally-bounded grid.
    Output: 1 row (f2_est bigint)."""
    if reps % 2 == 0:
        raise ValueError(f"reps must be odd for an exact median element: {reps}")
    from pyspark.sql import Window

    from amazon_personalize_connectors_spark.operators.guards import (
        enforce_bounded_grid,
    )

    sq = sketch.select(
        "j", (F.col("s") * F.col("s")).cast("bigint").alias("_s2")
    )
    sq = enforce_bounded_grid(sq, reps, "ams_f2_estimate", keep_count_col=True)
    w = Window.partitionBy("_grid_n").orderBy(F.col("_s2").asc(), F.col("j").asc())
    ranked = sq.select("_s2", F.row_number().over(w).alias("_rn"))
    return ranked.filter(F.col("_rn") == (reps + 1) // 2).select(
        F.col("_s2").alias("f2_est")
    )
