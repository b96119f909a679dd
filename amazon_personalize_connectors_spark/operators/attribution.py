"""J1 — attribution join: related-items recs ⋈ user-item mapping.

Reference: Glue ``Join.apply(recs, mapping, 'input.itemId', 'ITEM_ID')``
followed by ``DropFields('ITEM_ID')`` (related_items_etl.py:159-172).
Fan-out semantics: one recommendation row becomes one row per mapped
user (many-to-many bridge, README.md:179-187).

Scale notes: the user-item mapping grows with the interaction data
(many-to-many bridge), NOT with the catalog — so it is usually *not*
broadcastable, and forcing a broadcast makes every task rebuild a
multi-hundred-thousand-entry hash map. AQE picks the strategy from
runtime sizes (it broadcasts genuinely small mappings on its own, and
skew-splits large ones). At 100 TB, pre-bucketing both sides on the
item key makes this a co-located join with no shuffle of the fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribute_users(
    recs: DataFrame, mapping: DataFrame, recs_item_col: str = "input.itemId"
) -> DataFrame:
    """Inner-join recs to the USER_ID,ITEM_ID bridge on
    ``<recs_item_col> = ITEM_ID`` and stamp each row with the mapped
    ``userId`` (ri:159-172)."""
    mapping = mapping.select(
        F.col("USER_ID").alias("userId"), F.col("ITEM_ID").alias("__join_item_id")
    )
    return recs.join(
        mapping, recs[recs_item_col] == mapping["__join_item_id"], "inner"
    ).drop("__join_item_id")


def shapley_attribution(
    events: DataFrame,
    channels: "Sequence[str]",
    user_col: str = "user_id",
    type_col: str = "event_type",
    conversion: str = "purchase",
) -> DataFrame:
    """EXACT Shapley-value channel attribution — the order-independent
    credit split that last-touch / linear attribution approximate:
    each channel's value is its average marginal contribution over
    every coalition of the other channels,

        φ_i = Σ_{S ⊄ i} |S|!·(c−1−|S|)!/c! · (v(S∪{i}) − v(S))

    with the coalition value v(S) = conversions among users whose
    whole exposure set fits inside S (monotone, well-defined from
    observed data alone — no model).

    Exactness at any scale: the data collapses to the 2^c exposure-
    MASK grid in ONE aggregate (c = |channels| ≤ a handful — the
    grid is 16–64 rows, never data-sized; masks are bit-ors of fixed
    per-channel literals); subset sums, marginals, and the factorial
    weights all live on that grid as pure bigint arithmetic — φ is
    emitted as an exact integer numerator over the constant
    denominator c!, plus the one fixed-tree double. Efficiency law
    (Σφ_i = v(all) − v(∅)) is test-pinned.

    Reference context: credits the reference's interaction types the
    way its users actually debate attribution (README.md:169-194
    delivers the recommendations; this grades which engagement
    channel earns the conversions). Output per channel: (channel,
    phi_num, phi_den, phi)."""
    import math

    c = len(channels)
    if not 1 <= c <= 10:
        raise ValueError("channels must have 1..10 entries")
    bit = F.lit(0).cast("bigint")
    for i, ch in enumerate(channels):
        bit = bit + F.when(
            F.col(type_col) == ch, F.lit(1 << i)
        ).otherwise(0).cast("bigint")
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.bit_or(bit).cast("bigint").alias("mask"),
        F.max((F.col(type_col) == conversion).cast("int")).alias("conv"),
    )
    grid = per_user.groupBy("mask").agg(
        F.sum("conv").cast("bigint").alias("n_conv")
    )
    # v(S) = sum of n_conv over observed masks T with T subset of S;
    # S ranges over ALL 2^c masks (a literal grid)
    all_masks = F.array(*[F.lit(m) for m in range(1 << c)])
    s_grid = events.sparkSession.range(1).select(
        F.explode(all_masks).alias("s")
    )
    v = (
        s_grid.join(
            grid,
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("bigint").alias("v"))
    )
    # marginals per channel over coalitions not containing it
    chan = events.sparkSession.createDataFrame(
        [(i, ch) for i, ch in enumerate(channels)], "i int, channel string"
    )
    # the Python shiftleft API takes a literal bit count; the SQL
    # function accepts a column — go through expr for the per-row bit
    bit_i = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), i) AS BIGINT)")
    pairs = chan.crossJoin(
        v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    ).where(F.col("s0").bitwiseAND(bit_i) == 0)
    with_union = pairs.join(
        v.select(F.col("s").alias("s1"), F.col("v").alias("v1")),
        F.col("s1") == F.col("s0") + bit_i,
    )
    # weight numerator |S|!*(c-1-|S|)! over denominator c!
    size_s = F.bit_count(F.col("s0"))
    wnum = F.lit(0).cast("bigint")
    for s in range(c):
        wnum = F.when(size_s == s, F.lit(
            math.factorial(s) * math.factorial(c - 1 - s)
        ).cast("bigint")).otherwise(wnum)
    den = math.factorial(c)
    out = (
        with_union.groupBy("channel")
        .agg(
            F.sum(wnum * (F.col("v1") - F.col("v0")))
            .cast("bigint")
            .alias("phi_num")
        )
        .select(
            "channel",
            "phi_num",
            F.lit(den).cast("bigint").alias("phi_den"),
            (F.col("phi_num").cast("double") / F.lit(float(den))).alias(
                "phi"
            ),
        )
    )
    return out
