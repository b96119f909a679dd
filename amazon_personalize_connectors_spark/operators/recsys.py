"""Recommendation-system precompute and offline-evaluation operators —
the analytics a team running the reference's connectors (related-items
/ user-personalization delivery, README.md:169-194) runs AROUND the
model: a co-visitation fallback model, catalog-coverage monitoring of
the delivered payloads, and offline hit-rate evaluation of
recommendations against observed co-interactions.

Scale shapes:

* Co-visitation pairs fan out per user as (items/user)^2 — the
  classic blow-up. ``covisitation_topk`` caps each user's
  contribution FIRST (deterministic hash-priority truncation, one
  window over the user partition), so pair generation is bounded by
  cap^2 per user regardless of power users — and is ROW-LOCAL: the
  capped items collect into one bounded array per user and nested
  generators emit the pairs, no self-join. Pair counting is one
  shuffle on (item_a, item_b); per-item top-k is one window over the
  already-aggregated pair table.
* Coverage/eval are explode + join + aggregate over the delivered
  payloads — rows ∝ recommendations, never catalog x catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cap_items_per_user(
    compact: DataFrame,
    cap: int,
    user_col: str = "u",
    item_col: str = "i",
) -> DataFrame:
    """Deterministically truncate each user's item set to ``cap`` rows
    by hash priority (xxhash64 of (user, item), item id as tie-break)
    — one window over the user partition. This is THE guard that keeps
    every self-join over per-user item lists bounded: downstream
    pairing costs cap^2 per user, never history^2, so a bot with 10^5
    interactions contributes the same as a heavy user. Shared by the
    co-visitation model and the offline-eval ground-truth builds."""
    w = Window.partitionBy(user_col).orderBy(
        F.xxhash64(user_col, item_col), F.col(item_col)
    )
    return (
        compact.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def _half_pairs(per_user: DataFrame, out_a: str, out_b: str) -> DataFrame:
    """Row-local unordered-pair stream from per-user bounded
    ``_items`` arrays: two nested posexplode generators with an index
    filter (j > i) — each unordered pair emitted once,
    least/greatest-canonicalized. No self-join (zero join
    shuffle/sort) and no per-position ``slice()`` (the slice form
    copies O(cap^2) array elements per user; measured 30-50% slower
    at sf0.1 — the index filter is pure codegen on the generated
    rows, and the filter runs BEFORE any shuffle so shuffle volume is
    identical). Memory stays bounded because the per-user cap ran
    before the collect."""
    return (
        per_user.select(
            F.col("_items"), F.posexplode("_items").alias("_pi", "_a")
        )
        .select("_a", "_pi", F.posexplode("_items").alias("_qi", "_b"))
        .where(F.col("_qi") > F.col("_pi"))
        .select(
            F.least("_a", "_b").alias(out_a),
            F.greatest("_a", "_b").alias(out_b),
        )
    )


def covisitation_topk(
    interactions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    k: int = 10,
    max_items_per_user: int = 50,
    min_common: int = 1,
    assume_distinct: bool = False,
) -> DataFrame:
    """Item-to-item co-visitation model: for each item, the top-k
    other items sharing the most users, ranked by pair count then
    item id (deterministic). Returns (item, rec_item, n_common, rank).

    Power users are truncated to ``max_items_per_user`` interactions
    by a deterministic hash priority BEFORE pairing — an unbounded
    user contributes cap^2 pairs, not history^2 (and a bot with a
    million interactions contributes the same as a heavy user).

    ``min_common`` prunes low-support pairs BEFORE the per-item
    ranking window: co-occurrence is sparse, so count-1 pairs
    typically dominate the aggregated pair table (noise for a
    recommender anyway) — dropping them ahead of the window removes
    most of its sort input.
    """
    # ``assume_distinct``: callers whose input is already unique per
    # (user, item) — e.g. the output of a groupBy on exactly that key —
    # skip the dedup shuffle entirely (a distinct() over an
    # already-unique frame is a full extra exchange for nothing).
    compact = interactions.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    )
    if not assume_distinct:
        compact = compact.distinct()
    capped = cap_items_per_user(compact, max_items_per_user)
    # Pair generation is row-local (_half_pairs): the capped items
    # collect into one BOUNDED array per user (the groupBy rides the
    # window's existing hash partitioning on u, so no new exchange).
    per_user = capped.groupBy("u").agg(F.collect_list("i").alias("_items"))
    half = (
        _half_pairs(per_user, "item", "rec_item")
        .groupBy("item", "rec_item")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if min_common > 1:
        half = half.where(F.col("n_common") >= min_common)
    pairs = half.unionByName(
        half.select(
            F.col("rec_item").alias("item"),
            F.col("item").alias("rec_item"),
            "n_common",
        )
    )
    rank_w = Window.partitionBy("item").orderBy(
        F.col("n_common").desc(), F.col("rec_item")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
    )


def covisitation_increments(
    state_items: DataFrame,
    delta_items: DataFrame,
    user_col: str = "u",
    item_col: str = "i",
) -> DataFrame:
    """Incremental co-visitation maintenance: the pair-count
    INCREMENTS contributed by a batch of new interactions, given the
    per-user item state accumulated so far — so the co-visitation
    model refreshes from a day's delta without re-pairing the full
    history (the incremental_rollup_merge pattern applied to the
    recsys model).

    For each user, writing O = existing items and N = genuinely new
    items (delta is deduped internally and anti-joined against
    state), the new unordered pairs are exactly
    ``half_pairs(N) ∪ (N x O)`` — row-local on both sides: N and O
    collect into bounded per-user arrays and nested generators emit
    the pairs, no self-join. Merging ``pair_counts ⊎ increments``
    (one unionByName + sum groupBy) then equals a full recompute over
    ``state ∪ delta`` — the law the oracle checks. Caps: apply the
    per-user cap to the SERVED recompute, not the maintained state —
    hash-priority truncation does not commute with unions.

    Returns (item, rec_item, n_common_delta) with item < rec_item
    (canonical half; mirror when serving).

    Shape (r12): everything is keyed on the user. The old form ran a
    (u, i)-keyed ``distinct`` plus a (u, i)-keyed anti-join against
    state before two u-keyed groupBys — two extra exchanges and a
    second full pass over state. Instead, both sides aggregate to
    per-user arrays in ONE u-keyed exchange each and
    ``array_except(delta_set, olds)`` computes N row-locally: the
    dedup (collect_set) and the anti-join (array_except) are
    absorbed into work the groupBys were doing anyway. State must be
    unique per (u, i) — every caller maintains it that way (the
    stores keep items distinct; the batch query groups on exactly
    that key) — and N is then a proper set, so pair counts are
    unchanged."""
    state = state_items.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    )
    delta = delta_items.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    )
    delta_sets = delta.groupBy("u").agg(F.collect_set("i").alias("_delta"))
    olds = state.groupBy("u").agg(F.collect_list("i").alias("_olds"))
    # left join: users absent from state keep their whole delta set;
    # users absent from delta contribute nothing (as before)
    # an empty array of the item type, whatever it is: slice of the
    # delta set (length 0) — keeps the operator type-generic
    empty = F.slice(F.col("_delta"), 1, 0)
    joined = delta_sets.join(olds, "u", "left").select(
        F.array_except(
            F.col("_delta"), F.coalesce(F.col("_olds"), empty)
        ).alias("_items"),
        F.coalesce(F.col("_olds"), empty).alias("_olds"),
    )
    nn = _half_pairs(joined.select("_items"), "item", "rec_item")
    no = (
        joined.select(F.explode("_items").alias("_a"), F.col("_olds"))
        .select("_a", F.explode("_olds").alias("_b"))
        .select(
            F.least("_a", "_b").alias("item"),
            F.greatest("_a", "_b").alias("rec_item"),
        )
    )
    return (
        nn.unionByName(no)
        .groupBy("item", "rec_item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common_delta"))
    )


def rec_catalog_coverage(
    recs_exploded: DataFrame,
    catalog: DataFrame,
    rec_item_col: str = "rec_item",
    catalog_item_col: str = "item_id",
) -> DataFrame:
    """Catalog-coverage monitor for a delivered recommendation set:
    how many catalog items ever get recommended, how many distinct
    items appear in recs at all, and how many recommendation rows
    point at dead (non-catalog) items. One aggregate over the exploded
    recs left-joined to the catalog keys; the catalog size rides in as
    a single bounded count."""
    cat = catalog.select(F.col(catalog_item_col).alias("_cat_item")).distinct()
    joined = recs_exploded.select(
        F.col(rec_item_col).alias("_rec_item")
    ).join(cat, F.col("_rec_item") == F.col("_cat_item"), "left")
    per_item = joined.groupBy("_rec_item").agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.max(F.col("_cat_item").isNotNull().cast("int")).alias("in_catalog"),
    )
    # catalog size rides in as a broadcast 1-row aggregate — the plan
    # stays fully lazy (no eager count() job before the caller's
    # action) and the scalar never touches the driver
    n_row = cat.agg(F.count(F.lit(1)).cast("bigint").alias("catalog_size"))
    return (
        per_item.agg(
            F.sum("in_catalog").cast("bigint").alias("items_covered"),
            F.count(F.lit(1)).cast("bigint").alias("items_recommended"),
            F.sum(
                F.when(F.col("in_catalog") == 0, F.col("n_recs")).otherwise(0)
            )
            .cast("bigint")
            .alias("dead_rec_rows"),
            F.sum("n_recs").cast("bigint").alias("total_rec_rows"),
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "catalog_size",
            "items_covered",
            "items_recommended",
            "dead_rec_rows",
            "total_rec_rows",
        )
    )


def rec_hitrate_by_cooccurrence(
    recs_exploded: DataFrame,
    interactions: DataFrame,
    query_item_col: str = "query_item_id",
    rec_item_col: str = "rec_item",
    user_col: str = "user_id",
    item_col: str = "item_id",
    max_items_per_user: int = 50,
) -> DataFrame:
    """Offline eval: a recommended pair (query_item -> rec_item)
    "hits" when at least one user interacted with BOTH items. Returns
    per query item: n_recs, n_hits, and the exact hit rate as
    (n_hits, n_recs) integers (ratio left to the reader — integer
    outputs stay engine-portable).

    Ground truth is the co-interaction pair set, built once with the
    same capped row-local pair shape as covisitation: each user's item
    set is truncated to ``max_items_per_user`` by hash priority
    (cap_items_per_user) BEFORE pairing, the capped items collect into
    one bounded array per user, and nested generators emit each
    unordered pair once (cap^2 per user — never history^2, no
    self-join). The distinct runs on the halved unordered stream and
    mirrors afterwards; recs semi-join against that truth set, never
    recs x interactions.
    """
    compact = interactions.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    ).distinct()
    capped = cap_items_per_user(compact, max_items_per_user)
    per_user = capped.groupBy("u").agg(F.collect_list("i").alias("_items"))
    # no distinct(): the truth stream feeds a semi-join probe, where
    # duplicate pairs are harmless — dedup'ing millions of pair rows
    # first would add a full shuffle for nothing
    half = _half_pairs(per_user, "qi", "ri")
    truth = half.unionByName(
        half.select(F.col("ri").alias("qi"), F.col("qi").alias("ri"))
    )
    pairs = recs_exploded.select(
        F.col(query_item_col).alias("qi"), F.col(rec_item_col).alias("ri")
    )
    hits = pairs.join(truth, ["qi", "ri"], "left_semi").groupBy("qi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    totals = pairs.groupBy("qi").agg(F.count(F.lit(1)).alias("n_recs"))
    return (
        totals.join(hits, "qi", "left")
        .select(
            F.col("qi").alias(query_item_col),
            "n_recs",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        )
    )


def negative_sampling(
    interactions: DataFrame,
    catalog: DataFrame,
    k: int = 5,
    oversample: int = 3,
    user_col: str = "user_id",
    item_col: str = "item_id",
    catalog_item_col: str = "item_id",
    tag: str = "neg-v1",
) -> DataFrame:
    """Deterministic negative sampling for training pairs: up to ``k``
    catalog items per user that the user has NOT interacted with,
    reproducible across engines, partition layouts, and reruns.

    The classic trap is user x catalog ("all items the user didn't
    touch") — a cross join. Instead each user proposes k*oversample
    candidates by a portable salted-md5 hash of (user, j, tag) modulo
    the catalog size, history hits are anti-joined away, hash
    collisions dedup to the smallest j, and the first k surviving
    candidates (by j) win. Cost per user is k*oversample rows —
    O(users * k), never O(users * catalog). Oversampling covers both
    history hits and collisions; a user can return fewer than k only
    if most proposals hit their history, which sizing oversample
    against max history/catalog density prevents.

    ``catalog`` must carry contiguous 0-based ids in
    ``catalog_item_col`` (the engine's ids.py produces exactly that);
    the modulus is its max+1, read via a broadcast 1-row aggregate —
    no driver-side collect in the data path.

    The md5-substring hash (not xxhash64) is deliberate: it is the
    repo's engine-portable recipe (same expression exists in ANSI
    SQL), so the sampler itself is oracle-checkable.
    """
    n_row = catalog.agg(
        (F.max(F.col(catalog_item_col)) + F.lit(1)).alias("_n")
    )
    users = interactions.select(F.col(user_col).alias("u")).distinct()
    cand = (
        users.crossJoin(F.broadcast(n_row))
        .select(
            "u",
            "_n",
            F.explode(F.sequence(F.lit(1), F.lit(k * oversample))).alias("j"),
        )
        .withColumn(
            "neg_item",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.col("u").cast("string"),
                                F.col("j").cast("string"),
                                F.lit(tag),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.col("_n"),
            ),
        )
        .select("u", "j", "neg_item")
    )
    hist = interactions.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("neg_item")
    ).distinct()
    survivors = cand.join(hist, ["u", "neg_item"], "left_anti")
    dedup = survivors.groupBy("u", "neg_item").agg(F.min("j").alias("j"))
    w = Window.partitionBy("u").orderBy("j")
    return (
        dedup.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("u").alias(user_col),
            F.col("neg_item"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def profile_vector_sums(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact, engine-portable profile-vector aggregate: per (key, dim),
    the bigint sum of each element rounded to ``1/scale`` units plus
    the member count — ``(key, dim, vsum_micro, n_vecs)``. The mean is
    ``vsum_micro / (scale * n_vecs)``, recoverable by any consumer.

    Why integers instead of a mean: integer addition is associative,
    so the result is bit-identical under ANY partitioning, merge
    order, or engine — the property a cross-engine correctness gate
    (and an incremental/streaming merge) needs. A double ``avg()``
    drifts in the last ulp with accumulation order; rounding the mean
    does not fix a value sitting on the rounding boundary. Per-value
    scaling (``round(v * scale)``) is a deterministic IEEE multiply +
    half-away-from-zero round, identical across engines.

    Shape: posexplode + map-side-combinable groupBy — the exchange
    carries profile-sized partial sums, not interactions x dims rows."""
    exploded = df.select(
        F.col(key_col), F.posexplode(F.col(vec_col)).alias("dim", "_v")
    )
    scaled = F.round(F.col("_v").cast("double") * F.lit(float(scale))).cast(
        "bigint"
    )
    return exploded.groupBy(key_col, "dim").agg(
        F.sum(scaled).alias("vsum_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
    )


# 1/log2(p+1) position gains and their prefix sums, as FIXED 9-dp
# decimal literals: summing decimals is exact and associative, so DCG
# is engine-portable bit-for-bit — a float log2 differs in the last
# ulp across libm implementations and a float sum with accumulation
# order, either of which flips a value-hash compare.
_NDCG_GAINS = [
    "1.000000000",
    "0.630929754",
    "0.500000000",
    "0.430676558",
    "0.386852807",
]
_NDCG_PREFIX = [
    "1.000000000",
    "1.630929754",
    "2.130929754",
    "2.561606312",
    "2.948459119",
]


def rec_ndcg_at_k(
    recs: DataFrame,
    truth_pairs: DataFrame,
    k: int = 5,
    item_col: str = "item",
    rec_col: str = "rec_item",
    rank_col: str = "rank",
    truth_item_col: str = "item",
    truth_partner_col: str = "partner",
) -> DataFrame:
    """NDCG@k of a ranked recommendation table against a (possibly
    huge, possibly duplicated) ground-truth pair set — the standard
    ranking-quality metric alongside MRR/hit-rate. Per ranked item:
    DCG = sum of the 9-dp decimal gain literals at each CONFIRMED
    rank, IDCG = the prefix-gain literal at min(k, n_relevant), NDCG
    = one double division at the end. Everything before that division
    is exact decimal/integer arithmetic (see _NDCG_GAINS).

    Scale shape (the covisitation_mrr lesson): the truth stream is
    never deduped wholesale — it streams past a BROADCAST hash of the
    small rec table and only matched (item, rank) survivors dedup
    (at most items x k rows). The per-item relevant-count does one
    exact count-distinct keyed on the item — the only truth-sized
    shuffle, and the one a per-user cap on the truth build bounds.

    Returns (item, n_rel, n_hits, dcg, idcg, ndcg); items with no
    test-window relevance have idcg/ndcg NULL."""
    if k > len(_NDCG_GAINS):
        raise ValueError(f"k={k} beyond precomputed gain table")
    rec_slim = recs.select(
        F.col(item_col).alias("_it"),
        F.col(rec_col).alias("_rec"),
        F.col(rank_col).alias("_rk"),
    ).where(F.col(rank_col) <= k)
    truth = truth_pairs.select(
        F.col(truth_item_col).alias("_ti"),
        F.col(truth_partner_col).alias("_tp"),
    )
    hits = (
        truth.join(
            F.broadcast(rec_slim),
            (F.col("_ti") == F.col("_it")) & (F.col("_tp") == F.col("_rec")),
        )
        .select("_it", "_rk")
        .distinct()
    )
    gain = F.lit(None).cast("decimal(12,9)")
    for p, g in enumerate(_NDCG_GAINS[:k], start=1):
        gain = F.when(F.col("_rk") == p, F.lit(g).cast("decimal(12,9)")).otherwise(gain)
    dcg = hits.groupBy("_it").agg(
        F.sum(gain).alias("_dcg"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
    )
    n_rel = truth.groupBy("_ti").agg(
        F.countDistinct("_tp").cast("bigint").alias("n_rel")
    )
    # coalesce BEFORE least: Spark's least() IGNORES nulls, so a
    # missing n_rel (item with zero test relevance) would silently
    # become least(NULL, k) = k and fabricate a full IDCG
    n_eff = F.least(F.coalesce(F.col("n_rel"), F.lit(0)), F.lit(k))
    idcg = F.lit(None).cast("decimal(12,9)")
    for n, pre in enumerate(_NDCG_PREFIX[:k], start=1):
        idcg = F.when(n_eff == n, F.lit(pre).cast("decimal(12,9)")).otherwise(
            idcg
        )
    base = rec_slim.select(F.col("_it")).distinct()
    out = (
        base.join(dcg, "_it", "left")
        .join(n_rel, F.col("_it") == F.col("_ti"), "left")
        .select(
            F.col("_it").alias(item_col),
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint").alias("n_rel"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.coalesce(F.col("_dcg"), F.lit(0).cast("decimal(12,9)")).alias("_dcg2"),
            idcg.alias("_idcg"),
        )
    )
    return out.select(
        item_col,
        "n_rel",
        "n_hits",
        F.col("_dcg2").cast("double").alias("dcg"),
        F.col("_idcg").cast("double").alias("idcg"),
        (F.col("_dcg2").cast("double") / F.col("_idcg").cast("double")).alias("ndcg"),
    )


def rec_intra_list_similarity(
    recs: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    item_col: str = "item",
    rec_col: str = "rec_item",
    rank_col: str = "rank",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Recommendation diversity: per ranked list, the mean pairwise
    cosine similarity of the recommended items' embeddings (ILS —
    high means the list is redundant). Completes the offline-eval
    suite next to coverage / hit-rate / MRR / NDCG.

    Exactness discipline: embeddings are scaled to micro-unit bigints
    so every dot product and squared norm is EXACT integer
    arithmetic; the only float ops per pair are one divide and one
    sqrt (both IEEE correctly-rounded, hence engine-identical), and
    the per-list mean sums 6-dp-rounded DECIMALS (associative) with
    one final division — no float accumulation anywhere.

    Scale shape: the rec table is items x k rows (tiny next to the
    corpus); the vector join is an equi-join on the item id, and the
    pairwise step self-joins the DECORATED rec table per list —
    fan-out bounded by k^2 per item, never corpus-sized. Returns
    (item, n_pairs, ils)."""
    iv = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast(
            "bigint"
        ),
    )
    rv = (
        recs.where(F.col(rank_col) <= k)
        .join(vectors, F.col(rec_col) == F.col(id_col))
        .select(
            F.col(item_col).alias("_it"),
            F.col(rank_col).alias("_rk"),
            iv.alias("_v"),
        )
        .withColumn(
            "_n2",
            F.aggregate(
                F.zip_with("_v", "_v", lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
    )
    a = rv.select(
        F.col("_it"), F.col("_rk").alias("_ri"),
        F.col("_v").alias("_va"), F.col("_n2").alias("_n2a"),
    )
    b = rv.select(
        F.col("_it"), F.col("_rk").alias("_rj"),
        F.col("_v").alias("_vb"), F.col("_n2").alias("_n2b"),
    )
    pairs = (
        a.join(b, "_it")
        .where(F.col("_ri") < F.col("_rj"))
        .select(
            "_it",
            F.aggregate(
                F.zip_with("_va", "_vb", lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("_dot"),
            "_n2a",
            "_n2b",
        )
    )
    # sqrt(a)*sqrt(b), NOT sqrt(a*b): the bigint product of two
    # squared norms overflows long (each ~1e14); per-factor sqrt is
    # IEEE correctly-rounded so the form is engine-identical as long
    # as the oracle mirrors it
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_n2a").cast("double"))
        * F.sqrt(F.col("_n2b").cast("double"))
    )
    return (
        pairs.select(
            "_it", F.round(cos, 6).cast("decimal(8,6)").alias("_c")
        )
        .groupBy(F.col("_it").alias(item_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            (F.sum("_c").cast("double") / F.count(F.lit(1))).alias("ils"),
        )
    )


def user_jaccard_topk(
    interactions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    k: int = 10,
    max_users_per_item: int = 50,
    min_common: int = 1,
    assume_distinct: bool = False,
) -> DataFrame:
    """User-to-user Jaccard similarity: for each user, the top-k other
    users by |items_a ∩ items_b| / |items_a ∪ items_b| — the
    neighborhood model behind user-based collaborative filtering and
    the audience-expansion ("users like these") export.

    The transpose of ``covisitation_topk``, riding the same bounded
    machinery: HOT ITEMS are the blow-up here (an item bought by m
    users generates m² pairs), so each item's user list is truncated
    to ``max_users_per_item`` by deterministic hash priority
    (``cap_items_per_user`` with the roles swapped) BEFORE the
    row-local pair generation (``_half_pairs`` — no self-join). Set
    sizes are counted on the SAME capped mapping so n_common ≤
    n_user/n_neighbor always holds internally; at cap-inert scales
    this equals the exact Jaccard (the capless oracle pins it, the cap
    semantics are pytest-pinned).

    Exactness: intersection/union are bigint; jaccard is ONE
    bigint/bigint division per pair, so ranking on it compares
    identical doubles in every engine (ties broken by neighbor id).

    Output: (user, neighbor, n_common, n_user, n_neighbor, jaccard,
    rank)."""
    compact = interactions.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    )
    if not assume_distinct:
        compact = compact.distinct()
    # cap USERS per ITEM: partition the hash-priority window by item
    capped = cap_items_per_user(
        compact, max_users_per_item, user_col="i", item_col="u"
    )
    sizes = capped.groupBy("u").agg(F.count(F.lit(1)).alias("_n"))
    per_item = capped.groupBy("i").agg(F.collect_list("u").alias("_items"))
    half = (
        _half_pairs(per_item, "user_a", "user_b")
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if min_common > 1:
        half = half.where(F.col("n_common") >= min_common)
    pairs = half.unionByName(
        half.select(
            F.col("user_b").alias("user_a"),
            F.col("user_a").alias("user_b"),
            "n_common",
        )
    )
    joined = (
        pairs.join(
            sizes.select(F.col("u").alias("user_a"), F.col("_n").alias("n_user")),
            "user_a",
        )
        .join(
            sizes.select(
                F.col("u").alias("user_b"), F.col("_n").alias("n_neighbor")
            ),
            "user_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_user") + F.col("n_neighbor") - F.col("n_common")).cast(
                "double"
            ),
        )
    )
    rank_w = Window.partitionBy("user_a").orderBy(
        F.col("jaccard").desc(), F.col("user_b")
    )
    return (
        joined.withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .select(
            F.col("user_a").alias("user"),
            F.col("user_b").alias("neighbor"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_user").cast("bigint").alias("n_user"),
            F.col("n_neighbor").cast("bigint").alias("n_neighbor"),
            "jaccard",
            "rank",
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    user_col: str = "q_id",
    item_col: str = "n_id",
    rel_col: str = "rel_q",
    sim_col: str = "sim_q",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank: per user, greedily select
    ``k`` items trading relevance against redundancy —

        pick argmax over remaining of
            λ·rel − (1−λ)·max_sim(item, already-selected)

    — the standard diversification pass over a top-N candidate list
    (and the dedup-aware selection step of a RAG/training-data
    sampler). ``candidates`` = (user, item, rel_q), ``sims`` =
    unordered (item_a, item_b, sim_q) pairs among candidate items;
    missing pairs mean similarity 0.

    Determinism: relevance and similarity arrive QUANTIZED (exact
    bigints, the ann_quantized rule) and λ as the rational
    lam_num/lam_den, so the greedy objective is the exact integer
        S = lam_num·rel_q − (lam_den − lam_num)·max_sim_q
    with ties broken by smallest item id — textbook MMR's float
    argmax is engine- and order-dependent; this one is reproducible
    anywhere, and a plain (non-recursive) SQL oracle can replay the
    same k steps.

    Scale shape: a BOUNDED driver loop of k rounds (k is a product
    knob, 5–20), each round fully distributed: anti-join to drop
    selected items, equi-join selected×sims to score redundancy
    (map-side-combinable max), and a struct-max argmax per user — no
    Python touches rows, no per-user state on the driver. Selections
    are localCheckpoint'ed per round (the neardup_components
    pattern) so lineage stays flat. Output (user, item, step)."""
    if not 0 < lam_num <= lam_den:
        raise ValueError("need 0 < lam_num <= lam_den")
    # both inputs re-enter the loop every round (cand k times, sym
    # k-1 times) and their caller-side lineage is typically the
    # expensive part (top-n scoring, pairwise sims) — materialize the
    # two BOUNDED tables once (users·n and users·n² rows; the same
    # once-not-per-round rule as graph_random_walks' adjacency)
    cand = candidates.select(
        F.col(user_col).alias("u"),
        F.col(item_col).alias("i"),
        F.col(rel_col).cast("bigint").alias("rel"),
    ).localCheckpoint(eager=True)
    sym = (
        sims.select(
            F.col("item_a").alias("x"),
            F.col("item_b").alias("y"),
            F.col(sim_col).cast("bigint").alias("s"),
        )
        .union(
            sims.select(
                F.col("item_b").alias("x"),
                F.col("item_a").alias("y"),
                F.col(sim_col).cast("bigint").alias("s"),
            )
        )
        .localCheckpoint(eager=True)
    )
    mu = F.lit(lam_den - lam_num).cast("bigint")
    lam = F.lit(lam_num).cast("bigint")
    selected = None
    for step in range(1, k + 1):
        if selected is None:
            rem = cand
            scored = rem.select(
                "u", "i", (lam * F.col("rel")).alias("score")
            )
        else:
            rem = cand.join(selected.select("u", "i"), ["u", "i"], "left_anti")
            red = (
                selected.select("u", F.col("i").alias("x"))
                .join(sym, "x")
                .select("u", F.col("y").alias("i"), "s")
            )
            ms = red.groupBy("u", "i").agg(F.max("s").alias("ms"))
            scored = rem.join(ms, ["u", "i"], "left").select(
                "u",
                "i",
                (
                    lam * F.col("rel")
                    - mu * F.coalesce(F.col("ms"), F.lit(0).cast("bigint"))
                ).alias("score"),
            )
        pick = (
            scored.groupBy("u")
            .agg(F.max(F.struct(F.col("score"), (-F.col("i")).alias("ni"))).alias("b"))
            .select(
                "u",
                (-F.col("b.ni")).alias("i"),
                F.lit(step).cast("bigint").alias("step"),
            )
        )
        selected = (
            pick if selected is None else selected.unionByName(pick)
        ).localCheckpoint(eager=True)
    return selected.select(
        F.col("u").alias(user_col),
        F.col("i").alias(item_col),
        "step",
    )


# frontier rows are three bigints (~24 B); 1M walkers ~ a few tens of
# MB broadcast — comfortably inside the session's 64 MB dial. Above
# this, rounds fall back to the shuffle join.
_WALK_BROADCAST_MAX_FRONTIER = 1_000_000


def graph_random_walks(
    edges: DataFrame,
    starts: DataFrame,
    walk_len: int = 4,
    seed: str = "w",
    src_col: str = "src",
    dst_col: str = "dst",
    start_col: str = "id",
) -> DataFrame:
    """Deterministic random walks over a directed item graph — the
    corpus generator for DeepWalk/node2vec-style embedding training
    ("sentences" of graph nodes) and for session-simulation negatives.

    "Random" is a HASH, not an RNG: at step t, walker w at node cur
    moves to the out-neighbor minimizing
        md5("<seed>|<w>|<t>|<cur>|<dst>")
    — uniform-ish over neighbors, yet bit-reproducible on any engine
    (md5 emits identical lowercase hex everywhere — the CMS/MinHash
    rule), so a SQL oracle replays the exact same walks. Two walkers
    at the same node diverge (the hash keys on the walk id), which is
    what a corpus wants. Dead-end nodes simply end their walk early.

    Scale shape: a BOUNDED driver loop of ``walk_len`` rounds (a
    product knob, 4–80), each one equi-join frontier×adjacency on the
    current node plus a map-side-combinable struct-min argmin per
    walker; the frontier is localCheckpoint'ed per round (the
    neardup_components pattern) so lineage stays flat. No Python
    touches rows. Output (walk, step, node), step 0 = the start."""
    # the adjacency joins once per round, and the caller's edge list
    # is often an expensive lineage (a co-occurrence self-join +
    # distinct) — persist it for the loop's duration instead of
    # re-deriving it walk_len times (the PageRank iterative-graph
    # pattern; each frontier is already eagerly checkpointed, so the
    # cache is released the moment the loop ends)
    adj = edges.select(
        F.col(src_col).alias("cur"), F.col(dst_col).alias("nxt")
    ).persist()
    frontier = starts.select(
        F.col(start_col).alias("walk"),
        F.col(start_col).alias("node"),
        F.lit(0).cast("bigint").alias("step"),
    ).localCheckpoint(eager=True)
    # r12 (guide §3.1): the per-round frontier is a checkpointed RDD
    # with NO stats, so Spark sort-merge-joined it against the full
    # adjacency — shuffling + sorting the corpus-sized edge list every
    # round (measured ~7 s/round at sf0.1's 2.4M edges). The frontier
    # is bounded by |starts| and only SHRINKS (dead ends end walks
    # early), so ONE bounded count up front gates an explicit
    # broadcast for every round: the adjacency then never shuffles —
    # each round is a map-side hash join over the persisted cache plus
    # a frontier-sized argmin shuffle. Past the gate (huge walker
    # sets) the shuffle join remains the fallback.
    n_walkers = frontier.count()
    maybe_bcast = (
        F.broadcast
        if n_walkers <= _WALK_BROADCAST_MAX_FRONTIER
        else (lambda df: df)
    )
    out = frontier
    for t in range(1, walk_len + 1):
        h = F.md5(
            F.concat(
                F.lit(f"{seed}|"),
                F.col("walk").cast("string"),
                F.lit(f"|{t}|"),
                F.col("node").cast("string"),
                F.lit("|"),
                F.col("nxt").cast("string"),
            )
        )
        frontier = (
            maybe_bcast(frontier).join(adj, frontier["node"] == adj["cur"])
            .select("walk", "nxt", h.alias("h"))
            .groupBy("walk")
            .agg(F.min(F.struct(F.col("h"), F.col("nxt"))).alias("b"))
            .select(
                "walk",
                F.col("b.nxt").alias("node"),
                F.lit(t).cast("bigint").alias("step"),
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(frontier)
    adj.unpersist()
    return out


def als_half_step(
    ratings: DataFrame,
    item_factors: DataFrame,
    reg_num: int = 1,
    reg_den: int = 10,
    factor_scale: int = 1_000_000,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
) -> DataFrame:
    """One exact ALS half-step for rank-2 matrix factorization: given
    fixed item factors, solve every user's ridge normal equations

        (FᵀF + λI) u = Fᵀ r

    in closed form (2×2 Cramer inverse) — the alternating-least-
    squares sweep a recommender retrains with, restricted to k=2
    where the solve is a fixed expression instead of an iterative
    kernel. ``item_factors`` = (item, f1_q, f2_q) QUANTIZED to
    floor(f·factor_scale) bigints (the similarity.py rule); ratings
    are integers; λ = reg_num/reg_den rational.

    Exactness: the five normal-equation sums (S11 S12 S22 b1 b2) are
    exact decimal(38,0) products summed per user (map-side
    combinable, layout-independent); λ enters scaled to the same
    quantization (λ·scale² exactly when reg divides cleanly) so the
    regularized diagonal is still exact; only the final Cramer
    division is IEEE, one fixed tree per user that the oracle spells
    identically.

    Scale shape: ONE broadcast join (item factor table is
    items×2 — model-sized) and ONE groupBy(user) aggregate; no
    iteration, no shuffle of the factor table. Output per user:
    (user, n_items, u1, u2)."""
    d38 = "decimal(38,0)"
    f = F.broadcast(
        item_factors.select(
            F.col(item_col).alias("_i"),
            F.col("f1_q").cast(d38).alias("_f1"),
            F.col("f2_q").cast(d38).alias("_f2"),
        )
    )
    r = ratings.select(
        F.col(user_col).alias("_u"),
        F.col(item_col).alias("_i"),
        F.col(rating_col).cast(d38).alias("_r"),
    )
    j = r.join(f, "_i")
    agg = j.groupBy("_u").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum((F.col("_f1") * F.col("_f1")).cast(d38)).cast(d38).alias("s11"),
        F.sum((F.col("_f1") * F.col("_f2")).cast(d38)).cast(d38).alias("s12"),
        F.sum((F.col("_f2") * F.col("_f2")).cast(d38)).cast(d38).alias("s22"),
        F.sum((F.col("_f1") * F.col("_r")).cast(d38)).cast(d38).alias("b1"),
        F.sum((F.col("_f2") * F.col("_r")).cast(d38)).cast(d38).alias("b2"),
    )
    # λ·scale²·n? No — standard ridge adds λ·n_u or plain λ; use plain
    # λ on the FACTOR scale: factors carry scale, so FᵀF carries
    # scale² and λ must too: lam_q = λ·scale² (exact when reg_den
    # divides scale² — it does for decimal reg on a 1e6 scale).
    lam_sq = reg_num * factor_scale * factor_scale
    if lam_sq % reg_den != 0:
        raise ValueError("reg_den must divide reg_num * factor_scale^2")
    lam = F.lit(lam_sq // reg_den).cast(d38)
    a11 = (F.col("s11") + lam).cast(d38)
    a22 = (F.col("s22") + lam).cast(d38)
    det = (a11 * a22 - (F.col("s12") * F.col("s12")).cast(d38)).cast(d38)
    dd = lambda c: c.cast("double")  # noqa: E731 — fixed IEEE tree below
    # u solves on the rating scale: u_k = scale * (adj row · b) / det
    # keeps u in natural units (factors were scaled by `scale`)
    sc = F.lit(float(factor_scale))
    u1 = sc * (
        dd((a22 * F.col("b1") - F.col("s12") * F.col("b2")).cast(d38))
        / dd(det)
    )
    u2 = sc * (
        dd((a11 * F.col("b2") - F.col("s12") * F.col("b1")).cast(d38))
        / dd(det)
    )
    return agg.select(
        F.col("_u").alias(user_col),
        "n_items",
        u1.alias("u1"),
        u2.alias("u2"),
    )
