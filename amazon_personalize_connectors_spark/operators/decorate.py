"""G1/F4/F5/J2/E1/E2 + the W1/A1 ordered re-nest — item decoration.

Reference ``decorate_items`` (related_items_etl.py:191-232,
user_personalization_etl.py:153-194):

1. project ``input.itemId → queryItemId`` (F4) + ``posexplode_outer``
   the rec array (G1) — ``pos`` is the recommendation rank,
2. left-join item metadata on ``recItemId = id`` (J2),
3. null-guarded re-nest of the selected metadata fields plus ``itemId``
   into one struct per rec (E1/E2),
4. rebuild the ordered ``recommendations`` array per query entity.

Step 4 in the reference is a running ``collect_list`` window ordered by
``pos`` followed by ``groupBy().agg(max(...))`` over the growing prefix
arrays (W1+A1, ri:202-214) — two shuffles, and correct only because a
prefix compares less than its extension. The idiomatic replacement here
is one hash aggregate: ``array_sort(collect_list(struct(pos, rec)))``
then strip ``pos`` — one shuffle, deterministic, same result (proven by
the `renest_window_legacy` parity query). ``collect_list`` drops nulls
in both forms, so empty/null rec lists produce ``[]`` — matching W1
semantics (SURVEY.md §7.4).

Scale notes: metadata is a catalog-sized dimension, always broadcast. The
single aggregate keys on the query entity — the natural partitioning of
the downstream sink — so no further shuffle is needed to write.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def explode_recommendations(
    recs: DataFrame, key_cols: Sequence[tuple[str, str]]
) -> DataFrame:
    """F4 + G1 + F5: project query keys and posexplode_outer the recs.

    ``key_cols`` maps source paths to output names, e.g.
    ``[("input.itemId", "queryItemId"), ("userId", "userId")]``.
    ``_outer`` keeps parents whose rec array is null/empty (null
    pos/recItemId) — exactly ri:205-206.
    """
    return recs.select(
        *[F.col(src).alias(dst) for src, dst in key_cols],
        F.posexplode_outer("output.recommendedItems").alias("pos", "recItemId"),
    )


def _rec_struct(metadata_fields: Sequence[str]) -> Column:
    """E1+E2: null-guarded struct of selected metadata fields + itemId
    (ri:208-211). No phantom struct for parents with no recs."""
    fields = [F.col(f"meta.{f}").alias(f) for f in metadata_fields]
    return F.when(F.col("recItemId").isNull(), F.lit(None)).otherwise(
        F.struct(*fields, F.col("recItemId").alias("itemId"))
    )


def renest_ordered(
    exploded: DataFrame,
    group_cols: Sequence[str],
    rec_col: Column,
    out_col: str = "recommendations",
) -> DataFrame:
    """Idiomatic A1 replacement: one aggregate builds the rank-ordered
    array. Nulls (no-rec parents) are dropped pre-aggregation so groups
    with no recs yield ``[]`` like ``collect_list`` does (W1)."""
    pair = F.when(
        F.col("pos").isNotNull() & rec_col.isNotNull(),
        F.struct(F.col("pos").alias("pos"), rec_col.alias("rec")),
    )
    return exploded.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(pair)), lambda s: s["rec"]
        ).alias(out_col)
    )


def renest_window_legacy(
    exploded: DataFrame,
    group_cols: Sequence[str],
    rec_col: Column,
    out_col: str = "recommendations",
) -> DataFrame:
    """Literal W1+A1 form (window prefix collect + groupBy/max,
    ri:202-214) kept as a compatibility/parity mode — the equivalence
    test pins the idiomatic form to the reference semantics."""
    w = Window.partitionBy(*group_cols).orderBy("pos")
    with_prefix = exploded.withColumn(out_col, F.collect_list(rec_col).over(w))
    return with_prefix.groupBy(*group_cols).agg(F.max(out_col).alias(out_col))


def decorate_items(
    recs: DataFrame,
    metadata: DataFrame | None,
    key_cols: Sequence[tuple[str, str]],
    metadata_fields: Sequence[str] | None = None,
    legacy_window_mode: bool = False,
    max_recommendations: int | None = None,
) -> DataFrame:
    """Full decoration: explode → (optional) metadata left-join →
    null-guarded struct → ordered re-nest (ri:191-232).

    ``metadata_fields=None`` selects all metadata fields except the join
    key — the reference's "default all" (ri:195-200 / README.md:120).
    ``metadata=None`` (metadata path absent) decorates with bare
    ``itemId`` structs — reference behavior when the optional dimension
    is missing (ri:176-189; and fixes the up:180 crash path by keying
    the re-nest on the caller's own query keys).

    ``max_recommendations`` keeps only ranks < N. The cap filters the
    EXPLODED rows (``pos`` is the rank), before the metadata join and
    the re-nest aggregate — with a 500-slot inference capped to 10
    delivery slots, the join probes and the re-nest shuffle shrink 50x;
    slicing the finished array would pay full price first. No-rec
    parents (null pos from posexplode_outer) are kept.
    """
    exploded = explode_recommendations(recs, key_cols)
    if max_recommendations is not None:
        exploded = exploded.where(
            F.col("pos").isNull() | (F.col("pos") < max_recommendations)
        )
    group_cols = [dst for _, dst in key_cols]
    if metadata is not None:
        if metadata_fields is None:
            metadata_fields = [c for c in metadata.columns if c != "id"]
        exploded = exploded.join(
            F.broadcast(metadata).alias("meta"),
            exploded["recItemId"] == F.col("meta.id"),
            "left_outer",
        )
        rec = _rec_struct(metadata_fields)
    else:
        rec = F.when(
            F.col("recItemId").isNull(), F.lit(None)
        ).otherwise(F.struct(F.col("recItemId").alias("itemId")))
    renest = renest_window_legacy if legacy_window_mode else renest_ordered
    return renest(exploded, group_cols, rec)
