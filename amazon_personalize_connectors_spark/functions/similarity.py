"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; blocked/IVF
variants are the scale path: restrict candidate generation with a
cheap partitioner (a label/cluster block or nearest-centroid
assignment) so the pairwise stage is an equi-join on the block key
instead of a cross join. At 100 TB the block key is what turns an
O(n^2) shuffle into a per-bucket local problem.

Dot products run as Catalyst higher-order folds over double arrays
(zip_with + aggregate — JVM codegen, no Python). Scores exposed for
cross-engine comparison are rounded to 6 decimals: floating-point sums
agree to ~1e-15 across engines when folded in index order, so the
rounded value is deterministic while raw last-bit noise is not.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from amazon_personalize_connectors_spark.streaming.epoch_store import (
    run_concurrently,
    write_atomic,
)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL for a zero vector (no direction — and Spark 4 ANSI raises
    DIVIDE_BY_ZERO even on double division); oracles share the
    convention implicitly because gate embeddings are nonzero."""
    den = norm(a) * norm(b)
    return F.when(den > 0, dot(a, b) / den)


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    full corpus, rank per query by (rounded score desc, id asc).

    The corpus side streams through one broadcast-hash join — no
    shuffle of the big side; the only shuffle is the per-query top-k
    window over k*|queries| candidate rows. For huge corpora swap the
    final window for a two-stage partial top-k aggregate.
    """
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    )
    qry = _as_double(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        emb.join(F.broadcast(qry), F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "score")
    )


def brute_force_topk_partial(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k for HUGE corpora: two-stage partial top-k
    replacing ``brute_force_topk``'s per-query window over all
    |corpus| x |queries| candidate rows (which must shuffle every
    candidate to rank it).

    Stage 1 (``mapInPandas``, the sanctioned Python path — bounded
    partial aggregation is inexpressible with built-in aggregates):
    each Arrow batch computes all query scores with one vectorized
    numpy GEMM and keeps only candidates within ``10^-round_digits``
    of its local k-th raw score. The margin makes pruning exact: a
    candidate can only enter the global ROUNDED top-k if its raw score
    is within one rounding quantum of the local raw k-th, and it also
    absorbs numpy-vs-Catalyst last-bit summation drift (~1e-13).
    Nothing but ~k rows per (batch, query) ever leaves an executor.

    Stage 2 re-scores the tiny candidate set with the same Catalyst
    expression as the window form (broadcast joins, no shuffle of the
    corpus) — so scores, rounding, and tie-breaks are identical to
    ``brute_force_topk`` by construction, not by float luck.

    The query set is collected to the driver (it is broadcast in the
    window form anyway — both strategies assume |queries| is small).
    """
    import numpy as np
    import pandas as pd

    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    )
    qry = _as_double(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    q_rows = qry.collect()
    q_ids = np.array([r["q_id"] for r in q_rows])
    q_mat = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    margin = 10.0 ** (-round_digits)

    def local_candidates(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["n_id"].to_numpy()
            v = np.stack(pdf["n_vec"].to_numpy()).astype(np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            scores = v @ q_norm.T  # (batch, n_queries) in one GEMM
            out_q, out_n = [], []
            for j in range(len(q_ids)):
                s = scores[:, j]
                valid = ids != q_ids[j]
                s_valid = s[valid]
                if len(s_valid) == 0:
                    continue
                kth = (
                    np.partition(s_valid, len(s_valid) - k)[len(s_valid) - k]
                    if len(s_valid) > k
                    else s_valid.min()
                )
                keep = valid & (s >= kth - margin)
                out_q.append(np.full(keep.sum(), q_ids[j]))
                out_n.append(ids[keep])
            if out_q:
                yield pd.DataFrame(
                    {"q_id": np.concatenate(out_q), "n_id": np.concatenate(out_n)}
                )

    cand_schema = f"q_id {dict(qry.dtypes)['q_id']}, n_id {dict(emb.dtypes)['n_id']}"
    cands = emb.mapInPandas(local_candidates, cand_schema)
    rescored = (
        emb.join(F.broadcast(cands), "n_id")
        .join(F.broadcast(qry), "q_id")
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "score")
    )


def blocked_near_duplicates(
    embeddings: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.3,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding near-dup pairs within blocks: equi-join on the block
    key (cluster/LSH bucket/label), then pairwise cosine inside each
    block only. The join is shuffle-partitioned by block — quadratic
    cost is bounded per block, never global."""
    # Norms are computed ONCE per vector before the join, not per pair:
    # the higher-order fold behind dot() is interpreted per element, so
    # folding each vector 3x per pair (dot + both norms) triples the
    # dominant cost. Same floats — norm(a) is the identical expression
    # either side of the join — so scores are bit-identical.
    emb = _as_double(embeddings, vec_col).withColumn(
        "__norm", norm(F.col(vec_col))
    )
    a = emb.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("__norm").alias("norm_a"),
    )
    b = emb.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("__norm").alias("norm_b"),
    )
    pairs = a.join(b, "block").where(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "block",
        "id_a",
        "id_b",
        F.round(
            F.when(
                F.col("norm_a") * F.col("norm_b") > 0,
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
            ),
            round_digits,
        ).alias("score"),
    )
    return scored.where(F.col("score") >= min_cosine)


def ivf_centroids(
    embeddings: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
    decimal_type: str = "decimal(27,12)",
) -> DataFrame:
    """Per-block centroid sums: explode to (block, dim, value), sum as
    fixed-point decimal (associative — deterministic under any
    parallel aggregation order, unlike double sums), one shuffle on
    (block, dim). Returns (block, dim, sum_val, sum_e6, n).

    ``sum_e6`` is a fully engine-portable integer variant
    (sum of floor(val * 1e6)): the double product is bit-identical
    everywhere and floor has no tie-breaking mode, unlike
    double→decimal casts which differ (HALF_UP vs HALF_EVEN) exactly
    at scale-boundary ties."""
    exploded = embeddings.select(
        F.col(block_col).alias("block"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "val"),
    )
    return exploded.groupBy("block", "dim").agg(
        F.sum(F.col("val").cast(decimal_type)).cast("double").alias("sum_val"),
        F.sum(F.floor(F.col("val") * F.lit(1000000.0)).cast("bigint")).alias(
            "sum_e6"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def _centroid_table(
    embeddings: DataFrame, block_col: str, vec_col: str
) -> DataFrame:
    """(block, centroid: array<double>) — nlist rows, broadcastable."""
    sums = ivf_centroids(embeddings, block_col, vec_col)
    return (
        sums.withColumn("mean", F.col("sum_val") / F.col("n"))
        .groupBy("block")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("mean")))
                ),
                lambda s: s["mean"],
            ).alias("centroid")
        )
    )


def _top_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    n: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``n`` centroids per (id, vec) row by the ONE canonical
    ordering (score desc, block asc) — the single implementation of
    centroid assignment shared by the coarse quantizer
    (``_assign_to_centroids``) and the multi-probe query path
    (ADVICE r7: the nprobe>1 branch used to re-implement this scoring
    and tie-break; a rounding or ordering drift in either copy would
    have silently broken the documented nprobe=1 equivalence between
    ``ivf_probe_topk`` and ``ivf_probe_topk_indexed``).

    Physical strategy at ``n == 1`` with a numeric block key:
    ``max_by`` hash aggregate, not a row_number window — partial
    aggregation combines the nlist candidate rows map-side, so ONE
    row per id crosses the shuffle instead of nlist rows through a
    window sort; the (score, -block) struct ordering inside the max
    is exactly the canonical tie-break. ``n > 1`` (and non-numeric
    blocks) takes the window form — nprobe rows per id must survive.
    Emits one row per kept centroid: (id, vec, assigned_block,
    score), best first under the canonical order."""
    scored = vectors.join(F.broadcast(centroids)).select(
        "id",
        "vec",
        F.col("block"),
        F.round(cosine(F.col("vec"), F.col("centroid")), round_digits).alias("score"),
    )
    block_type = dict(centroids.dtypes)["block"]
    numeric = block_type in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    ) or block_type.startswith("decimal")
    if n == 1 and numeric:
        best = scored.groupBy("id").agg(
            F.max_by(
                F.struct(F.col("vec"), F.col("block"), F.col("score")),
                F.struct(F.col("score"), (-F.col("block")).alias("neg_block")),
            ).alias("b")
        )
        return best.select(
            "id",
            F.col("b.vec").alias("vec"),
            F.col("b.block").alias("assigned_block"),
            F.col("b.score").alias("score"),
        )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("block"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .select("id", "vec", F.col("block").alias("assigned_block"), "score")
    )


def _assign_to_centroids(
    vectors: DataFrame, centroids: DataFrame, round_digits: int = 6
) -> DataFrame:
    """Nearest centroid per (id, vec) row — ``_top_centroids`` at
    n=1 (see there for the max_by physical strategy)."""
    return _top_centroids(vectors, centroids, 1, round_digits)


def ivf_assign(
    embeddings: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    by cosine (centroids derived per block, broadcast back). Returns
    (id, assigned_block, score). At scale the centroid table is tiny
    (nlist rows) — the assignment is a broadcast nested-loop over
    nlist candidates per vector, then a max-by; queries then probe
    only their assigned list (``ivf_probe_topk``)."""
    centroids = _centroid_table(embeddings, block_col, vec_col)
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    return _assign_to_centroids(emb, centroids, round_digits).select(
        "id", "assigned_block", "score"
    )


def kmeans_refine_sums(
    embeddings: DataFrame,
    iters: int = 1,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd (k-means) refinement of the label-seeded centroids:
    ``iters`` rounds of assign-to-nearest then recompute-means.

    The iterative-algorithm pattern on Spark: the BIG side (vectors)
    streams through one broadcast assignment + one map-side-combinable
    aggregate per round; only the TINY side (nlist x dim centroid
    table) crosses rounds, collected to the driver between iterations
    — the standard k-means shape (MLlib does the same), which also
    keeps the lineage flat instead of doubling per round.

    Returns (block, dim, sum_e6, n) for the FINAL assignment — integer
    ``floor(val * 1e6)`` sums, deterministic under any aggregation
    order and engine-portable (see ivf_centroids on why not double or
    decimal-cast sums).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    spark = embeddings.sparkSession
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    centroids = _centroid_table(embeddings, block_col, vec_col)
    for i in range(iters):
        assigned = _assign_to_centroids(emb, centroids).select(
            F.col("assigned_block").alias("block"), "vec"
        )
        sums = assigned.select(
            "block", F.posexplode("vec").alias("dim", "val")
        ).groupBy("block", "dim").agg(
            F.sum(F.col("val").cast("decimal(27,12)")).alias("sum_dec"),
            F.sum(F.floor(F.col("val") * F.lit(1000000.0)).cast("bigint")).alias(
                "sum_e6"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if i == iters - 1:
            return sums.select(
                "block",
                F.col("dim").cast("bigint").alias("dim"),
                "sum_e6",
                F.col("n").cast("bigint").alias("n"),
            )
        # tiny table: rebuild the centroid frame driver-side per round
        rows = (
            sums.withColumn("mean", (F.col("sum_dec") / F.col("n")).cast("double"))
            .select("block", "dim", "mean")
            .collect()
        )
        by_block: dict = {}
        for r in rows:
            by_block.setdefault(r["block"], []).append((r["dim"], r["mean"]))
        centroids = spark.createDataFrame(
            [
                (b, [m for _, m in sorted(dims)])
                for b, dims in sorted(by_block.items())
            ],
            f"block {dict(centroids.dtypes)['block']}, centroid array<double>",
        )
    raise AssertionError("unreachable")


def ivf_probe_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF search, nprobe=1: each query scores only the corpus vectors
    whose nearest centroid matches its own. The pairwise stage is an
    equi-join on the assigned list — cost bounded per inverted list,
    never |corpus| x |queries| — which is what IVF buys at scale.
    Approximate by design: a true neighbor quantized into another list
    is missed (probe more lists for recall; this is the standard
    recall/cost dial).

    Returns (q_id, n_id, rank, score) ranked per query by
    (rounded cosine desc, n_id asc), self-matches excluded.
    """
    centroids = _centroid_table(embeddings, block_col, vec_col)
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    qry = _as_double(queries, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    corpus_lists = _assign_to_centroids(emb, centroids, round_digits).select(
        F.col("id").alias("n_id"), F.col("vec").alias("n_vec"), "assigned_block"
    )
    query_lists = _assign_to_centroids(qry, centroids, round_digits).select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), "assigned_block"
    )
    scored = (
        corpus_lists.join(F.broadcast(query_lists), "assigned_block")
        .where(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "score")
    )


# --- random-hyperplane (cosine) LSH ---------------------------------------

# Version stamp of the RP-LSH hash family defined by _rp_weight (plus
# the floor(v·1e6) quantization grid every signature is computed on).
# Persisted ANN artifacts — the hnsw_index_build _META.json and the
# streaming ann_monitor store _MANIFEST.json — record the family that
# produced their signatures; folding new vectors into (or probing) an
# artifact built under a DIFFERENT family silently mixes incompatible
# bucket spaces and degrades recall with no error (ADVICE r8: the r8
# (dim+1)·K_bit stride change redefined every signature, and a
# pre-change store folded post-change would have corrupted quietly).
# Bump this string whenever _rp_weight / the quantization changes.
RP_HASH_FAMILY = "rp-mulstride-q6-v2"

# The quantization-grid version alone (floor(v·1e6) int64) — block_col
# index builds never touch _rp_weight but their stored qv DOES depend
# on the grid, so their stamp carries this suffix and the probe-side
# check verifies it (code-review r9: "block:<col>" alone would pass
# the check forever, silently mixing grids if the grid ever changes).
Q6_GRID_VERSION = "q6v1"


def _rp_weight(bit: int, dim: Column) -> Column:
    """Engine-portable pseudo-random hyperplane weight in [-1000, 1000]:
    pure integer arithmetic on (bit, dim), identical in any SQL engine.

    The stride MULTIPLIES per bit — ``(dim+1) · K_bit mod 2001`` with
    ``K_bit = bit·9176 + 12345`` — instead of the r2–r7 affine form
    ``dim·1009 + K_bit``, whose FIXED dim-stride made weights of dims
    d and d+2 differ by 2·1009 ≡ 17 (mod 2001) in EVERY bit: signs
    almost never flipped between even (or odd) dims, so data clustered
    on such axes collided in every table at once (measured r8: dims 0
    vs 2 agreed on 16/16 bits; a 4-axis-cluster fixture recalled 0.5
    because two clusters shared every bucket with two lower-id ones).
    A per-bit stride decorrelates the dims bit-by-bit (10/16 agreement
    on the same pair, ~0.5 overall) while staying a single mul/mod
    any engine computes identically."""
    return ((dim + 1) * F.lit(bit * 9176 + 12345)) % 2001 - 1000


def rp_lsh_buckets(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
) -> DataFrame:
    """Random-hyperplane (cosine) LSH bucket per vector: bit b is the
    sign of the dot product against the b-th fixed pseudo-random
    hyperplane; the bucket is the ``n_bits``-bit signature.

    Determinism at any scale: embedding values are scaled to exact
    integers (``floor(v * 1e6)``) and the hyperplane weights are
    integers, so every dot product is exact int64 arithmetic — float
    summation order can never flip a sign-boundary bit across
    engines, partitionings, or retries.

    Corpus-scale shape (same as ``simhash64_table``): posexplode dims
    once, ONE map-side-combinable hash aggregate computes all bits —
    whole-stage codegen, no Python, no shuffle wider than
    (id, n_bits sums).
    """
    e = _as_double(embeddings, vec_col)
    d = e.select(
        F.col(id_col).alias("id"),
        F.posexplode(vec_col).alias("dim", "val"),
    ).withColumn("iv", F.floor(F.col("val") * 1e6).cast("bigint"))
    aggs = [
        F.sum(F.col("iv") * _rp_weight(b, F.col("dim"))).alias(f"d{b}")
        for b in range(n_bits)
    ]
    dots = d.groupBy("id").agg(*aggs)
    bucket = F.lit(0)
    for b in range(n_bits):
        bucket = bucket + F.when(
            F.col(f"d{b}") >= 0, F.lit(1 << b)
        ).otherwise(F.lit(0))
    return dots.select("id", bucket.cast("bigint").alias("bucket"))


def rp_lsh_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
    min_cosine: float = 0.3,
    round_digits: int = 6,
    max_pair_rows: int = 50_000_000,
) -> DataFrame:
    """Cosine near-dup candidate pairs via random-hyperplane LSH:
    same-bucket equi-join (shuffle key = the integer bucket — the
    blocked_near_duplicates shape with a DATA-INDEPENDENT block key),
    then exact rounded cosine. Quadratic cost is bounded per bucket;
    doubling n_bits quarters the expected bucket size. The contract
    is executable (VERDICT r7 item 2): ``max_pair_rows`` fails the
    job before the bucket self-join materializes more candidates
    than the cap — size ``n_bits`` ≈ log2(N/bucket) via
    ``auto_n_bits`` as the corpus grows."""
    # per-vector norm precompute — see blocked_near_duplicates
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("__norm"),
    )
    withb = emb.join(
        rp_lsh_buckets(embeddings, id_col, vec_col, n_bits), "id"
    )
    withb = _pair_cap_filter(withb, ["bucket"], max_pair_rows, "rp_lsh_pairs")
    a = withb.select(
        "bucket",
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("__norm").alias("norm_a"),
    )
    b = withb.select(
        "bucket",
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("__norm").alias("norm_b"),
    )
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "bucket",
            "id_a",
            "id_b",
            F.round(
                F.when(
                    F.col("norm_a") * F.col("norm_b") > 0,
                    dot(F.col("vec_a"), F.col("vec_b"))
                    / (F.col("norm_a") * F.col("norm_b")),
                ),
                round_digits,
            ).alias("score"),
        )
        .where(F.col("score") >= min_cosine)
    )


# --- scalar quantization (SQ8) ---------------------------------------------


def sq8_dim_stats(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> list[tuple[int, int]]:
    """Per-dimension (min, max) of ``floor(val * 1e6)`` over the corpus
    — the quantizer's training statistics. One posexplode + one
    map-side-combinable aggregate; the result is dim rows (tiny) and is
    collected driver-side to be re-broadcast as literal arrays, the
    same tiny-table pattern as the k-means centroid loop. Integer
    bounds (not doubles) so every downstream comparison is exact."""
    d = (
        _as_double(embeddings, vec_col)
        .select(F.posexplode(vec_col).alias("dim", "val"))
        .withColumn("iv", F.floor(F.col("val") * 1e6).cast("bigint"))
        .groupBy("dim")
        .agg(F.min("iv").alias("lo"), F.max("iv").alias("hi"))
        .collect()
    )
    return [(r["lo"], r["hi"]) for r in sorted(d, key=lambda r: r["dim"])]


def sq8_codes(
    embeddings: DataFrame,
    stats: list[tuple[int, int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit scalar quantization: each dimension mapped to an integer
    code in [0, 255] by its corpus (min, max) range — the standard
    SQ8 memory/bandwidth dial of a vector store (4 bytes/dim -> 1).

    The code is ``floor((iv - lo) * 255 / (hi - lo))`` in exact
    integer-valued arithmetic (inputs are pre-scaled ints; the double
    quotient of exact ints this small floors identically in any IEEE
    engine), so codes — and therefore every quantized distance — are
    bit-reproducible across engines, partitionings, and retries.

    Zero shuffle and zero joins: the stats enter as literal arrays and
    the transform is one codegen projection over the vector column.
    """
    lo = F.array(*[F.lit(int(s[0])) for s in stats])
    span = F.array(*[F.lit(int(s[1] - s[0])) for s in stats])
    codes = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda v, i: F.when(F.element_at(span, i + 1) == 0, F.lit(0))
        .otherwise(
            # clamp so out-of-training-range query values saturate at
            # the code range edges instead of escaping [0, 255]
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (F.floor(v * 1e6).cast("bigint") - F.element_at(lo, i + 1))
                        * 255
                        / F.element_at(span, i + 1)
                    ),
                ),
            )
        )
        .cast("int"),
    )
    return embeddings.select(F.col(id_col).alias("id"), codes.alias("codes"))


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k over SQ8 codes: integer dot product of the quantized
    vectors (symmetric distance), ranked per query. Same broadcast
    shape as ``brute_force_topk`` — the corpus side streams, only
    ~k rows per query cross the final window shuffle — but the
    pairwise math is int64 folds over int8-range codes: exact, engine
    portable, and ~4x less memory traffic per vector at scale.

    Approximate by design (quantization error reorders near-ties);
    ``rrf_fuse`` shows the standard recovery: fuse with an exact or
    lexical ranking. Returns (q_id, n_id, rank, qdot).
    """
    stats = sq8_dim_stats(embeddings, vec_col)
    corpus = sq8_codes(embeddings, stats, id_col, vec_col).select(
        F.col("id").alias("n_id"), F.col("codes").alias("n_codes")
    )
    qry = sq8_codes(queries, stats, id_col, vec_col).select(
        F.col("id").alias("q_id"), F.col("codes").alias("q_codes")
    )
    scored = corpus.join(
        F.broadcast(qry), F.col("n_id") != F.col("q_id")
    ).select(
        "q_id",
        "n_id",
        F.aggregate(
            F.zip_with("q_codes", "n_codes", lambda a, b: (a * b).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("qdot"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "qdot")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two (q_id, n_id, rank) lists:
    ``score = sum over lists of 1 / (rrf_k + rank)``, missing-from-one-
    list candidates contribute only their present term — the standard
    hybrid-retrieval combiner (exact + quantized, or vector + lexical).

    Deterministic across engines: each term is one exact IEEE division
    of small integers and the two terms add in a fixed order, so the
    double score is bit-identical everywhere. The fuse itself is one
    outer equi-join on (q_id, n_id) + one per-query top-k window —
    both sides are already ~k rows per query, so this never touches
    corpus-scale data. Returns (q_id, n_id, rrf_rank, rrf_score)."""
    a = ranked_a.select("q_id", "n_id", F.col("rank").alias("rank_a"))
    b = ranked_b.select("q_id", "n_id", F.col("rank").alias("rank_b"))
    fused = a.join(b, ["q_id", "n_id"], "full_outer").select(
        "q_id",
        "n_id",
        (
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf_score"), F.asc("n_id"))
    return (
        fused.withColumn("rrf_rank", F.row_number().over(w))
        .where(F.col("rrf_rank") <= k)
        .select(
            "q_id",
            "n_id",
            F.col("rrf_rank").cast("bigint").alias("rrf_rank"),
            "rrf_score",
        )
    )


def ivf_index_build(
    spark,
    embeddings: DataFrame,
    index_path: str,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> None:
    """Persist the IVF index: the nlist-row centroid table plus the
    coarse-quantized corpus (inverted lists) written to parquet,
    partitioned by ``assigned_block`` — the index-build / query-serve
    split of a production ANN system. Serving then never re-quantizes
    the corpus, and a probe's list equi-join prunes to its block's
    files via partition pruning. Doubles round-trip parquet exactly,
    so indexed scores are bit-identical to the in-plan form."""
    centroids = _centroid_table(embeddings, block_col, vec_col)
    centroids.write.mode("overwrite").parquet(f"{index_path}/centroids")
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    lists = _assign_to_centroids(emb, centroids, round_digits).select(
        F.col("id").alias("n_id"),
        F.col("vec").alias("n_vec"),
        "assigned_block",
    )
    lists.write.mode("overwrite").partitionBy("assigned_block").parquet(
        f"{index_path}/lists"
    )


def refined_ivf_index_build(
    spark,
    embeddings: DataFrame,
    index_path: str,
    rounds: int = 2,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> None:
    """Persist a Lloyd-REFINED IVF index (VERDICT r8 item 4 — the
    build-once/probe-many split for the refined family): compute
    ``refined_centroid_table`` once, write the centroid table and the
    refined-cell inverted lists in the exact ``ivf_index_build``
    layout, and serve with ``ivf_probe_topk_indexed`` — the probe path
    is SHARED, so the indexed serve is result-identical to the in-plan
    ``ivf_refined_probe_topk`` at equal (rounds, nprobe, k)
    (law pinned in tests/test_functions.py). The ``rounds`` corpus
    passes and the extra assignment happen once at build; every probe
    afterwards costs one broadcast centroid join + partition-pruned
    list join."""
    cents = refined_centroid_table(
        embeddings, rounds, block_col, id_col, vec_col, round_digits
    )
    cents.write.mode("overwrite").parquet(f"{index_path}/centroids")
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    _assign_to_centroids(emb, cents, round_digits).select(
        F.col("id").alias("n_id"),
        F.col("vec").alias("n_vec"),
        "assigned_block",
    ).write.mode("overwrite").partitionBy("assigned_block").parquet(
        f"{index_path}/lists"
    )


def ivf_probe_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF search against a PERSISTED index: quantize the queries with
    the stored centroid table, equi-join the stored inverted lists.
    At ``nprobe=1`` (default) this is result-identical to
    ``ivf_probe_topk`` — the same oracle pins both the in-plan and
    the index-serving strategy. ``nprobe>1`` probes each query's
    ``nprobe`` nearest lists — the standard recall dial for vectors
    that land near a Voronoi boundary (their true neighbors sit in
    the runner-up cell; single-probe structurally misses them). Cost
    scales linearly in nprobe and the lists stay partition-pruned:
    the probe join's key set is nprobe blocks per query, never a
    scan of the other lists."""
    centroids = spark.read.parquet(f"{index_path}/centroids")
    qry = _as_double(queries, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    # one shared implementation of centroid scoring + tie-break for
    # every nprobe (ADVICE r7) — the nprobe=1 equivalence with
    # ivf_probe_topk is structural, not a convention two copies have
    # to keep honoring
    query_lists = _top_centroids(
        qry, centroids, max(1, nprobe), round_digits
    ).select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        "assigned_block",
    )
    corpus_lists = spark.read.parquet(f"{index_path}/lists")
    scored = (
        corpus_lists.join(F.broadcast(query_lists), "assigned_block")
        .where(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "score")
    )


# --- product quantization (PQ) ---------------------------------------------


def _pq_subvectors(
    embeddings: DataFrame, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, sub, d, iv): each vector split into ``m`` contiguous
    subspaces; values pre-scaled to exact ints (floor(v * 1e6)) so all
    PQ distances are int64 arithmetic. One posexplode projection."""
    return (
        _as_double(embeddings, vec_col)
        .select(
            F.col(id_col).alias("id"),
            # subspace width rides along the explode (the vec column
            # itself does not survive the generator projection)
            (F.size(vec_col) / m).alias("dp"),
            F.posexplode(vec_col).alias("dim", "val"),
        )
        .select(
            "id",
            F.floor(F.col("dim") / F.col("dp")).cast("int").alias("sub"),
            (F.col("dim") % F.col("dp")).cast("int").alias("d"),
            F.floor(F.col("val") * 1e6).cast("bigint").alias("iv"),
        )
    )


def pq_codebook(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codebook: per subspace, ``k`` centroids seeded from the
    ``id % k`` buckets — integer-floored means (floor(sum/n) per
    component), so centroids, and therefore every encode/ADC distance,
    are exact int64 quantities that no engine or partitioning can
    perturb. Returns (sub, code, d, c) — a flat m*k*dim_per table,
    tiny and broadcastable at any corpus size.

    Seeding by id-bucket is the deterministic baseline; refine with
    Lloyd rounds per subspace exactly as ``kmeans_refine_sums`` does
    for the coarse quantizer when recall matters more than
    reproducibility of the training step."""
    sv = _pq_subvectors(embeddings, m, id_col, vec_col)
    return (
        sv.withColumn("code", (F.col("id") % k).cast("int"))
        .groupBy("sub", "code", "d")
        .agg(
            F.floor(
                F.sum("iv").cast("double") / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("c")
        )
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode: each (vector, subspace) assigned its nearest codebook
    centroid by exact integer L2 (ties -> smallest code). The corpus
    streams through one broadcast join against the flat codebook and
    one map-side-combinable min_by aggregate — m small ints per vector
    replace the full float array (64 dims -> 8 bytes at m=8).
    Returns (id, sub, code, dist)."""
    sv = _pq_subvectors(embeddings, m, id_col, vec_col)
    joined = sv.join(F.broadcast(codebook), ["sub", "d"])
    per_code = joined.groupBy("id", "sub", "code").agg(
        F.sum((F.col("iv") - F.col("c")) * (F.col("iv") - F.col("c"))).alias(
            "dist"
        )
    )
    best = per_code.groupBy("id", "sub").agg(
        F.min_by(
            F.struct(F.col("code"), F.col("dist")),
            F.struct(F.col("dist"), F.col("code")),
        ).alias("b")
    )
    return best.select(
        "id", "sub", F.col("b.code").alias("code"), F.col("b.dist").alias("dist")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search with asymmetric distance (ADC): the query stays
    unquantized; its distance to every codebook centroid forms a
    per-query lookup table (m*k rows — tiny, broadcast), and each
    corpus vector's approximate distance is the SUM of its m code
    lookups. The corpus side therefore never touches float arrays at
    query time — one equi-join on (sub, code) against the broadcast
    LUT and one map-side-combinable sum per (query, vector), then the
    standard per-query top-k window over ~k rows per query.

    All-integer arithmetic end to end: exact, reproducible, and the
    real memory win of PQ at 100 TB (codes are m bytes vs 4*dim).
    Returns (q_id, n_id, rank, adist), rank by (adist asc, n_id asc),
    self-matches excluded."""
    codebook = pq_codebook(embeddings, m, k, id_col, vec_col)
    codes = pq_encode(embeddings, codebook, m, id_col, vec_col).select(
        F.col("id").alias("n_id"), "sub", "code"
    )
    q_sv = _pq_subvectors(queries, m, id_col, vec_col)
    lut = (
        q_sv.join(F.broadcast(codebook), ["sub", "d"])
        .groupBy(F.col("id").alias("q_id"), "sub", "code")
        .agg(
            F.sum(
                (F.col("iv") - F.col("c")) * (F.col("iv") - F.col("c"))
            ).alias("ldist")
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("n_id") != F.col("q_id"))
        .groupBy("q_id", "n_id")
        .agg(F.sum("ldist").alias("adist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "adist")
    )


def dbscan_from_edges(
    nodes: DataFrame,
    edges: DataFrame,
    min_pts: int = 3,
    id_col: str = "id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Density-based clustering (DBSCAN) over a PRE-BUILT
    ε-neighborhood graph: ``edges`` holds each unordered neighbor
    pair once (any exact blocked generator — blocked_near_duplicates,
    an LSH bucket join, a band join — produces it), ``nodes`` the
    full id universe. Splitting graph construction from clustering is
    what makes DBSCAN scale-shaped on Spark: the quadratic part is
    whatever blocking contract the caller already pinned, and this
    step is plain joins + the existing component machinery.

    Semantics (deterministic, label = min reachable core id):

    * core   — ε-degree + 1 ≥ ``min_pts`` (the point itself counts,
               per the original definition);
    * cluster — connected components of the CORE-CORE subgraph
               (dedup.neardup_components min-label propagation);
               a core with no core neighbor keeps its own id;
    * border — non-core with ≥ 1 core neighbor, assigned the MIN of
               its core neighbors' cluster labels (plain DBSCAN is
               order-dependent for shared borders; min is the
               deterministic tie-break);
    * noise  — everything else (cluster NULL).

    Scale shape: degrees are one map-side-combinable count over the
    symmetrized edges; the core filter broadcasts nothing and prunes
    the component loop to core-core edges only (near-dup graphs are
    mostly low-degree noise, so the iterative part shrinks first);
    border assignment is one equi-join + min aggregate. Output
    (id, role, cluster)."""
    from amazon_personalize_connectors_spark.functions.dedup import (
        neardup_components,
    )

    # the symmetrized ε-graph feeds three consumers (degrees, the
    # core-core subgraph, border assignment) and its lineage is the
    # caller's pair generator — usually the expensive blocked scoring
    # pass. Materialize it once (eager localCheckpoint, the house
    # iterative-graph pattern) instead of re-running the generator
    # per consumer.
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(
            edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    )
    ids = nodes.select(F.col(id_col).alias("id"))
    cores = (
        ids.join(deg, ids["id"] == deg["src"], "left")
        .select("id", F.coalesce("_deg", F.lit(0)).alias("_deg"))
        .where(F.col("_deg") + 1 >= min_pts)
        .select("id")
    )
    core_edges = (
        sym.join(cores.withColumnRenamed("id", "src"), "src")
        .join(cores.withColumnRenamed("id", "dst"), "dst")
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias(id_a), F.col("dst").alias(id_b))
    )
    comp = neardup_components(core_edges, id_a=id_a, id_b=id_b)
    core_lbl = (
        cores.join(comp, cores["id"] == comp["id"], "left")
        .select(cores["id"], F.coalesce("component", cores["id"]).alias("cluster"))
    )
    border = (
        sym.join(
            core_lbl.select(
                F.col("id").alias("dst"), F.col("cluster").alias("_cl")
            ),
            "dst",
        )
        .join(cores.withColumnRenamed("id", "src"), "src", "left_anti")
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("_cl").alias("cluster"))
    )
    labeled = core_lbl.select("id", F.lit("core").alias("role"), "cluster").union(
        border.select("id", F.lit("border").alias("role"), "cluster")
    )
    return (
        ids.join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.col("cluster").cast("bigint").alias("cluster"),
        )
    )


# --- HNSW-style navigable graph ANN -----------------------------------------


def _q6_nodes(
    df: DataFrame, id_col: str, vec_col: str, block_col: str | None
) -> DataFrame:
    """Quantize vectors to exact per-dim bigints (``floor(v·10⁶)`` —
    the sq8/PQ scale): every downstream similarity is an exact int64
    inner product, bit-reproducible across engines, partitionings,
    and retries. float→double is bit-exact, ·10⁶ and floor are single
    IEEE ops any engine agrees on."""
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda v: F.floor(v * F.lit(1000000.0)).cast("bigint"),
    )
    cols = [F.col(id_col).cast("long").alias("id"), qv.alias("qv")]
    if block_col is not None:
        cols.append(F.col(block_col).cast("long").alias("blk"))
    return df.select(*cols)


def _iqdot(a, b):
    """Exact int64 inner product of two quantized vectors (≤ ~6·10¹³
    for 64 unit-norm dims at the 10⁶ scale — 5 orders under int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )



def lsh_signed_nodes(
    embeddings: DataFrame,
    n_bits: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized nodes with their multi-table RP-LSH signatures:
    (id, qv, t0..t{n_tables-1}) — the shared geometry layer of the
    batch graph build (``hnsw_index_build``) and the STREAMING graph
    maintenance (streaming/ann_monitor.py), whose incremental law
    depends on both sides deriving identical buckets. Signatures are
    exact int sign sums over fixed integer hyperplanes (the
    rp_lsh_buckets discipline): one posexplode + ONE map-side-
    combinable aggregate computes every bit.

    Degenerate input contract (ADVICE r7): a NULL or empty embedding
    has no dims to explode, so it would SILENTLY vanish from the
    index (and from the streaming edge store) while exhaustive paths
    like ``quantized_topk`` still rank it — index membership and
    recall ground truth would diverge. Instead the node table fails
    loudly at execution (per-row ``assert_true`` filter, pure
    codegen): filter or impute degenerate vectors upstream."""
    base = _q6_nodes(embeddings, id_col, vec_col, None)
    base = base.where(
        F.assert_true(
            F.col("qv").isNotNull() & (F.size("qv") > 0),
            F.concat(
                F.lit("lsh_signed_nodes: NULL/empty embedding for id "),
                F.col("id").cast("string"),
                F.lit(
                    " — degenerate vectors cannot be signed and would"
                    " silently drop from the ANN index; filter or"
                    " impute them upstream."
                ),
            ),
        ).isNull()
    )
    d = base.select("id", F.posexplode("qv").alias("dim", "iv"))
    aggs = []
    for t in range(n_tables):
        for b in range(n_bits):
            bit = t * n_bits + b
            aggs.append(
                F.sum(F.col("iv") * _rp_weight(bit, F.col("dim"))).alias(
                    f"_d{bit}"
                )
            )
    dots = d.groupBy("id").agg(*aggs)
    sig_cols = []
    for t in range(n_tables):
        bucket = F.lit(0)
        for b in range(n_bits):
            bit = t * n_bits + b
            bucket = bucket + F.when(
                F.col(f"_d{bit}") >= 0, F.lit(1 << b)
            ).otherwise(F.lit(0))
        sig_cols.append(bucket.cast("bigint").alias(f"t{t}"))
    sigs = dots.select("id", *sig_cols)
    return base.join(sigs, "id")


def auto_n_bits(
    n_rows: int, target_bucket: int = 1024, max_bits: int = 16
) -> int:
    """Size the per-table RP-LSH signature width for a corpus of
    ``n_rows`` vectors: ``n_bits ≈ log2(n_rows / target_bucket)`` so
    the EXPECTED bucket holds ~``target_bucket`` nodes. The candidate
    stage's per-table cost is Σ_buckets n_b² ≈ n·target_bucket under
    uniform hashing — LINEAR in the corpus once n_bits grows with
    log2(N), instead of the N²/2^n_bits blow-up a fixed width gives.
    Recall lost to finer buckets is recovered by more tables
    (``n_tables``) or multi-probe, not by coarser buckets."""
    import math

    if n_rows <= target_bucket:
        return 1
    return min(max_bits, max(1, math.ceil(math.log2(n_rows / target_bucket))))


def _pair_cap_filter(
    blocked: DataFrame, tables: list, max_pair_rows: int, what: str
) -> DataFrame:
    """Executable candidate-pair cap for LSH bucket self-joins — the
    matrix-profile contract (operators/analytics.py:matrix_profile_ssd)
    applied to the ANN family (VERDICT r7 item 2): compute
    Σ_tables Σ_buckets n_b² — exactly the row count the bucket
    equi-joins downstream would materialize (diagonal included, an
    upper bound on the src≠dst form) — as one tiny aggregate, ride it
    back onto the node table as a 1-row broadcast, and fail via
    ``assert_true`` on a FILTER (column pruning cannot strip it)
    BEFORE a single pair exists. Lazy: no job at call time; Catalyst
    reuses the signature aggregation for the counts."""
    if len(tables) == 1:
        counts = blocked.groupBy(F.col(tables[0]).alias("_k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("_n")
        )
    else:
        # one pass instead of len(tables) unioned groupBys (r12): the
        # (table, bucket) pair IS the group key, so exploding the
        # signature columns turns the per-table scans into a single
        # map-side-combinable aggregate — same Σ_t Σ_b n_b² total,
        # one shuffle of (tab, bucket) pairs instead of n_tables.
        counts = (
            blocked.select(
                F.posexplode(
                    F.array(*[F.col(t).cast("bigint") for t in tables])
                ).alias("_t", "_k")
            )
            .groupBy("_t", "_k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
        )
    tot = counts.agg(
        F.sum(F.col("_n") * F.col("_n")).cast("bigint").alias("_pairs")
    )
    check = F.assert_true(
        F.col("_pairs") <= max_pair_rows,
        F.concat(
            F.lit(f"{what}: LSH bucket self-join would materialize "),
            F.col("_pairs").cast("string"),
            F.lit(
                f" candidate pairs, over max_pair_rows={max_pair_rows}."
                f" The per-bucket quadratic is sized by n_bits: grow it"
                f" ~log2(N) (see auto_n_bits) so buckets stay bounded,"
                f" add tables/multi-probe for recall, or raise"
                f" max_pair_rows deliberately."
            ),
        ),
    )
    return (
        blocked.crossJoin(F.broadcast(tot))
        .where(check.isNull())
        .drop("_pairs")
    )


# Below this node count, the NARROW (id, bucket) build side of the
# bucket self-joins rides as a broadcast (~16 MB at 1M nodes — the
# gate sizes exactly the 2-column table it broadcasts) and candidate
# generation runs map-side. The qv vector tables are NEVER hinted
# (code-review r9: at 1M nodes × dim-256 they are gigabytes — their
# joins are high-cardinality id equi-joins that Spark/AQE plans fine
# unhinted). Above the gate, the plain shuffle equi-joins are the
# scale path — disk-backed, no driver/executor memory bound. Measured
# r9 at sf0.1: candidates 11.7 s → 2.4 s with the hint.
_KNN_BROADCAST_MAX_NODES = 1_000_000

# The qv lookup tables broadcast only under an estimated-BYTES gate
# (node count alone cannot see dim — code-review r9): 64 MB matches
# the session's raised auto-broadcast threshold. ~8 bytes per dim
# plus per-row array overhead.
_KNN_BROADCAST_MAX_QV_BYTES = 64 * 1024 * 1024


def _knn_out_edges_from_signed(
    blocked: DataFrame,
    tables: list,
    m: int,
    max_pair_rows: int = 50_000_000,
    n_nodes: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Per-node top-``m`` out-edges by exact quantized inner product
    over multi-table bucket candidates — the layer-0 kNN stage shared
    by the batch graph build and the streaming maintenance law.
    ``max_pair_rows`` is the executable pair-cap contract
    (``_pair_cap_filter``): the bucket self-joins fail loudly before
    materializing more candidates than the cap. ``n_nodes`` (when
    known) lets the small-corpus regime broadcast the NARROW
    (id, bucket) bucket-join build side (``_KNN_BROADCAST_MAX_NODES``
    gates a 2-column table whose size it can actually predict); the
    qv vector tables additionally require ``dim`` so their hint is
    gated on ESTIMATED BYTES (``_KNN_BROADCAST_MAX_QV_BYTES`` — at
    1M nodes × dim-256 they are gigabytes and must shuffle). Pure
    physical-strategy dials, results identical. (An unrolled
    "codegen dot" was measured here in r9 and REJECTED: with the
    candidate stage fixed, the interpreted zip_with+aggregate dot is
    ~5x FASTER than a 64-term unrolled expression — ANSI-checked
    per-element GetArrayItem codegen is the slower path.)"""
    small = n_nodes is not None and n_nodes <= _KNN_BROADCAST_MAX_NODES
    maybe_bcast = F.broadcast if small else (lambda df: df)
    qv_small = (
        n_nodes is not None
        and dim is not None
        and n_nodes * (dim * 8 + 32) <= _KNN_BROADCAST_MAX_QV_BYTES
    )
    maybe_bcast_qv = F.broadcast if qv_small else (lambda df: df)
    blocked = _pair_cap_filter(
        blocked, tables, max_pair_rows, "knn_out_edges"
    )
    if len(tables) == 1:
        a = blocked.select(
            F.col("id").alias("src"), F.col(tables[0]).alias("_k")
        )
        b = blocked.select(
            F.col("id").alias("dst"), F.col(tables[0]).alias("_k")
        )
        cand = a.join(maybe_bcast(b), "_k").where(
            F.col("src") != F.col("dst")
        ).select("src", "dst")
    else:
        # one (table, bucket) equi-join instead of n_tables unioned
        # per-table joins (r12): exploding the signature columns makes
        # the table index part of the join key, so the union of
        # per-table bucket self-joins collapses into a single join —
        # the node table is scanned once, not n_tables times, and the
        # downstream distinct sees the identical pair set.
        stacked = blocked.select(
            "id",
            F.posexplode(
                F.array(*[F.col(t).cast("bigint") for t in tables])
            ).alias("_t", "_k"),
        )
        a = stacked.select(F.col("id").alias("src"), "_t", "_k")
        b = stacked.select(F.col("id").alias("dst"), "_t", "_k")
        cand = a.join(maybe_bcast(b), ["_t", "_k"]).where(
            F.col("src") != F.col("dst")
        ).select("src", "dst")
    cand = cand.distinct()
    qv_src = blocked.select(F.col("id").alias("src"), F.col("qv").alias("_aqv"))
    qv_dst = blocked.select(F.col("id").alias("dst"), F.col("qv").alias("_bqv"))
    w_src = Window.partitionBy("src").orderBy(F.desc("qdot"), F.asc("dst"))
    return (
        cand.join(maybe_bcast_qv(qv_src), "src")
        .join(maybe_bcast_qv(qv_dst), "dst")
        .select("src", "dst", _iqdot(F.col("_aqv"), F.col("_bqv")).alias("qdot"))
        .withColumn("_rn", F.row_number().over(w_src))
        .where(F.col("_rn") <= m)
        .select("src", "dst", "qdot")
    )


def knn_out_edges(
    embeddings: DataFrame,
    m: int = 8,
    n_bits: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pair_rows: int = 50_000_000,
) -> DataFrame:
    """Batch form of the layer-0 kNN edge set (src, dst, qdot) — what
    ``hnsw_index_build`` symmetrizes, and the ground truth the
    STREAMING maintenance (streaming/ann_monitor.py) must reproduce
    exactly after draining. The candidate stage fails loudly past
    ``max_pair_rows`` (see ``_pair_cap_filter`` / ``auto_n_bits``)."""
    blocked = lsh_signed_nodes(embeddings, n_bits, n_tables, id_col, vec_col)
    # ONE bounded source scan buys the broadcast regimes (see
    # _knn_out_edges_from_signed) — results identical either way
    # (was two scans pre-r12)
    stats = embeddings.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size(vec_col)).alias("d")
    ).head()
    n_nodes = int(stats["n"])
    dim = int(stats["d"]) if stats["d"] is not None else None
    return _knn_out_edges_from_signed(
        blocked,
        [f"t{t}" for t in range(n_tables)],
        m,
        max_pair_rows,
        n_nodes=n_nodes,
        dim=dim,
    )


def hnsw_index_build(
    spark,
    embeddings: DataFrame,
    index_path: str,
    m: int = 8,
    long_links: int = 2,
    block_col: str | None = None,
    n_bits: int | None = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pair_rows: int = 50_000_000,
    target_bucket: int = 1024,
    entry_sample: int = 0,
) -> None:
    """Persist an HNSW-STYLE navigable graph ANN index (Malkov &
    Yashunin, TPAMI 2018), flattened to the layers that matter for a
    deterministic distributed build:

    * layer 0 — a symmetrized kNN graph: candidate pairs come from
      ``n_tables`` independent random-hyperplane LSH tables of
      ``n_bits`` each (the GEOMETRY-aware blocking of rp_lsh_buckets
      — multi-table because one table's bucket boundary cuts real
      neighborhoods; the union recovers them), each node keeps its
      top-``m`` candidates by exact quantized inner product, edges
      are symmetrized (HNSW links are bidirectional — navigation
      needs to enter a popular node AND leave it) and re-pruned to
      out-degree ≤ 2·``m``;
    * hub layer — one entry node per bucket per EVERY table (min id —
      deterministic, ≤ n_tables·2^n_bits entries; multi-table since
      r8), plus ``long_links`` cross-bucket hub edges per node: the
      long-range links that let a probe leave a wrong entry region.

    Known navigability limit of bucket hubs (measured r8 on a
    4-cluster fixture at n_bits=2: recall@3 = 0.5): when a coarse
    signature merges two far clusters into one bucket in EVERY
    table, that bucket's kNN subgraph is disconnected and its single
    min-id hub sits in one component — min-id systematically favors
    the low-id cluster, so the other stays entry-starved. The
    paper's answer is entry points assigned INDEPENDENTLY of
    geometry (random level promotion); the deterministic analogue
    here is ``entry_sample``: when > 0, every node whose portable
    integer hash ((id mod 2147483647)·1103515245 + 12345 mod 2^31)
    falls in stratum 0 of ``entry_sample`` strata is ALSO written to
    the hub table (expected N/entry_sample extra entries — size it
    ~N/4096 so round-0 scoring stays a bounded broadcast; a cluster
    of ≥ entry_sample nodes then gets an entry w.h.p. regardless of
    bucket geometry — the recall law at both widths is pinned in
    tests/test_pair_guard.py). Default 0 keeps the hub-only shape.

    Pass ``block_col`` to block on a trusted precomputed key instead
    of LSH (e.g. a k-means cluster id) — same edge discipline.

    Sequential insert-order construction (the paper's build) is
    order-dependent; this batch equivalent is deterministic and
    embarrassingly parallel: signatures are ONE map-side-combinable
    aggregate over exploded dims (exact int sums — a sign bit can
    never flip across engines), candidate generation is ``n_tables``
    bucket equi-joins (per-bucket quadratic cost, 2^n_bits is the
    scale dial exactly as in rp_lsh_pairs), ranking is one window
    per node. The corpus is never broadcast.

    Scale contract (VERDICT r7 item 2): the candidate stage carries
    an EXECUTABLE pair cap — ``max_pair_rows`` fails the job before
    the bucket self-joins materialize more candidates than that (at a
    fixed width the cost is N²·n_tables/2^n_bits — the cap is what
    stops that melting silently at 100×). Pass ``n_bits=None`` to
    auto-size the signature width from ONE corpus count
    (``auto_n_bits``: n_bits ≈ log2(N/``target_bucket``)), which
    holds per-bucket cost ~linear in N; recall lost to finer buckets
    comes back via ``n_tables``/multi-probe, never coarser buckets.

    Writes ``nodes`` (id, qv), ``edges`` (src, dst — bounded
    out-degree), and ``hubs`` (hub, hub_qv) parquet under
    ``index_path``."""
    if n_bits is None:
        n_bits = auto_n_bits(embeddings.count(), target_bucket)
    if block_col is not None:
        nodes = _q6_nodes(embeddings, id_col, vec_col, block_col)
        blocked = nodes.select("id", "qv", F.col("blk").alias("t0"))
        tables = ["t0"]
    else:
        blocked = lsh_signed_nodes(
            embeddings, n_bits, n_tables, id_col, vec_col
        )
        tables = [f"t{t}" for t in range(n_tables)]
    # the signed node table feeds ~10 downstream consumers (pair-cap
    # counts, per-table candidate joins, qv lookups, hub groupBys,
    # cross-link joins, the node write) — persist the one narrow
    # corpus-wide table (id, qv, n_tables bigints) instead of
    # recomputing the explode+16-way aggregate per consumer; spills
    # to disk at cluster scale (MEMORY_AND_DISK is the default
    # StorageLevel for DataFrame.persist on the JVM side)
    blocked = blocked.persist()
    # ONE bounded job over the (now materialized) cache: node count
    # and dim together pick the broadcast regimes — physical dials
    # only, results identical (was two jobs pre-r12)
    stats = blocked.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size("qv")).alias("d")
    ).head()
    n_nodes = int(stats["n"])
    dim = int(stats["d"]) if stats["d"] is not None else None
    out_m = _knn_out_edges_from_signed(
        blocked, tables, m, max_pair_rows, n_nodes=n_nodes, dim=dim
    )
    _hnsw_assemble(
        blocked,
        tables,
        out_m,
        index_path,
        m=m,
        long_links=long_links,
        entry_sample=entry_sample,
        hash_family=(
            f"block:{block_col}:{Q6_GRID_VERSION}"
            if block_col is not None
            else RP_HASH_FAMILY
        ),
        n_bits=n_bits,
        n_tables=n_tables,
    )
    blocked.unpersist()


def _hnsw_assemble(
    blocked: DataFrame,
    tables: list,
    out_m: DataFrame,
    index_path: str,
    m: int,
    long_links: int,
    entry_sample: int,
    hash_family: str,
    n_bits: int,
    n_tables: int,
) -> None:
    """Downstream half of the HNSW build — symmetrize + prune, hubs,
    cross links, entry promotion, writes, _META stamp — shared by the
    one-session batch build (``hnsw_index_build``) and the 100 TB
    build path (``streaming.ann_monitor.hnsw_index_from_store``,
    which feeds it the MAINTAINED ``out_m`` edge store instead of a
    fresh candidate pass). Every stage here is a linear one-pass
    transform of bounded inputs (N·m edges, ≤ n_tables·2^n_bits + N/
    entry_sample hub rows): no stage re-runs the quadratic candidate
    generation, which is exactly why the split is the scale story."""
    # symmetrization reads out_m twice (forward + swapped) — persist
    # the m-per-node edge list (bounded: N·m rows) so the candidate
    # scoring join runs once
    out_m = out_m.persist()
    w_src = Window.partitionBy("src").orderBy(F.desc("qdot"), F.asc("dst"))
    sym = out_m.unionByName(
        out_m.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "qdot"
        )
    ).distinct()
    local = (
        sym.withColumn("_rn", F.row_number().over(w_src))
        .where(F.col("_rn") <= 2 * m)
        .select("src", "dst")
    )
    # entry points: one hub per bucket per EVERY table (min id —
    # deterministic; ≤ n_tables·2^n_bits entries). Single-table hubs
    # (the r7 form) left a navigability hole: a coarse signature can
    # merge two well-separated clusters into one t0 bucket, whose kNN
    # subgraph is DISCONNECTED — the lone min-id hub then sits in one
    # component and the other is unreachable from any entry. Drawing
    # hubs from every table makes an unreachable region need to merge
    # with a smaller-id cluster in ALL tables at once; cross links
    # (below) give every node an escape edge toward the other tables'
    # entry points as well.
    # one pass instead of n_tables unioned groupBys (r12): posexplode
    # yields (table index, bucket) pairs, so every table's min-id hub
    # comes out of a single map-side-combinable aggregate — one
    # shuffle of (htab, hblk) keys, identical hub rows.
    hubs = (
        blocked.select(
            "id",
            F.posexplode(
                F.array(*[F.col(t).cast("bigint") for t in tables])
            ).alias("htab", "hblk"),
        )
        .groupBy("htab", "hblk")
        .agg(F.min("id").alias("hub"))
        .select("htab", "hblk", "hub")
    )
    hub_nodes = hubs.alias("hb").join(
        blocked.alias("hn"), F.col("hb.hub") == F.col("hn.id")
    ).select(
        F.col("hb.htab").alias("htab"),
        F.col("hb.hub").alias("hub"),
        F.col("hn.qv").alias("hub_qv"),
        F.col("hb.hblk").alias("hub_blk"),
    )
    # cross candidates: per table, every node × that table's hubs in
    # a DIFFERENT bucket; distinct (src, dst) before scoring (the
    # same pair can surface from several tables)
    # one broadcast nested-loop join instead of n_tables (r12): the
    # per-table condition nd.t{i} != hub_blk becomes an element_at
    # over the node's signature array indexed by the hub's own table —
    # the node table is scanned once against a single broadcast of
    # ALL hubs, producing the identical (src, dst) candidate set.
    cross_cand = (
        blocked.alias("nd")
        .join(
            F.broadcast(hub_nodes.alias("hh")),
            F.element_at(
                F.array(
                    *[F.col(f"nd.{t}").cast("bigint") for t in tables]
                ),
                F.col("hh.htab") + 1,
            )
            != F.col("hh.hub_blk"),
        )
        .select(F.col("nd.id").alias("src"), F.col("hh.hub").alias("dst"))
    )
    hub_qvs = hub_nodes.select(
        F.col("hub").alias("dst"), F.col("hub_qv")
    ).distinct()
    cross = (
        cross_cand.distinct()
        .join(blocked.select(F.col("id").alias("src"), "qv"), "src")
        .join(F.broadcast(hub_qvs), "dst")
        .select(
            "src", "dst", _iqdot(F.col("qv"), F.col("hub_qv")).alias("qdot")
        )
        .withColumn("_rn", F.row_number().over(w_src))
        .where(F.col("_rn") <= long_links)
        .select("src", "dst")
    )
    entries = hub_nodes.select("hub", "hub_qv")
    if entry_sample > 0:
        # geometry-independent entry promotion (see docstring): pure
        # int arithmetic both engines compute identically, no count
        # job — expected N/entry_sample promoted nodes
        h = (
            F.pmod(F.col("id"), F.lit(2147483647)) * F.lit(1103515245)
            + F.lit(12345)
        ) % F.lit(2147483648)
        entries = entries.unionByName(
            blocked.where(F.pmod(h, F.lit(entry_sample)) == 0).select(
                F.col("id").alias("hub"), F.col("qv").alias("hub_qv")
            )
        )
    # the three index writes are independent jobs over disjoint output
    # directories (all off the persisted blocked/out_m tables) —
    # overlap them from a driver thread pool (guide §2.6) so the
    # trivial nodes/hubs jobs back-fill the edge write's tail; _META
    # still lands only after every write completes (r12 wave 9).
    run_concurrently([
        lambda: local.unionByName(cross)
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{index_path}/edges"),
        lambda: blocked.select("id", "qv")
        .write.mode("overwrite")
        .parquet(f"{index_path}/nodes"),
        lambda: entries.distinct()
        .write.mode("overwrite")
        .parquet(f"{index_path}/hubs"),
    ])
    # version stamp: which hash family produced the signatures/qv grid
    # (block_col builds record the trusted key + grid suffix — their
    # candidate geometry never touched _rp_weight). The sidecar goes
    # through epoch_store's meta writer, with the DRIVER-LOCAL
    # filesystem semantics of every versioned store's
    # _MANIFEST/_VERSION here (the driver coordinates pointer flips).
    meta = {
        "hash_family": hash_family,
        "m": m,
        "long_links": long_links,
        "n_bits": n_bits,
        "n_tables": n_tables,
        "entry_sample": entry_sample,
    }
    write_atomic(os.path.join(index_path, "_META.json"), json.dumps(meta))
    out_m.unpersist()


def _check_index_family(index_path: str) -> None:
    """Refuse to probe an index whose persisted hash family doesn't
    match the code's current one (ADVICE r8): a family change (like
    r8's per-bit stride fix) redefines every signature and qv grid,
    so probing a pre-change index silently degrades recall. An index
    with no ``_META.json`` predates version stamping — equally
    unknowable, equally refused. ``block:<col>:<grid>`` families
    (trusted block key, no _rp_weight involvement) are accepted iff
    their grid suffix equals the current ``Q6_GRID_VERSION`` — the
    stored qv grid is the one thing a block index CAN drift on
    (code-review r9: the previous bare ``block:*`` acceptance would
    have passed forever)."""
    meta_path = os.path.join(index_path, "_META.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"ANN index at {index_path} has no _META.json hash-family "
            f"stamp (built before version stamping); rebuild with "
            f"hnsw_index_build (current family: {RP_HASH_FAMILY})"
        )
    with open(meta_path) as f:
        fam = json.load(f).get("hash_family")
    ok = fam == RP_HASH_FAMILY or (
        isinstance(fam, str)
        and fam.startswith("block:")
        and fam.endswith(":" + Q6_GRID_VERSION)
    )
    if not ok:
        raise ValueError(
            f"ANN index at {index_path} was built with hash family "
            f"{fam!r}; the current code computes {RP_HASH_FAMILY!r} — "
            f"probing would mix incompatible bucket spaces. Rebuild "
            f"the index."
        )


def hnsw_probe_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    ef: int = 6,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_beam: bool = True,
) -> DataFrame:
    """Beam search over a persisted ``hnsw_index_build`` graph — the
    HNSW search loop re-expressed as a FIXED number of batched
    expansion rounds so every query in the serve batch probes
    simultaneously:

    * round 0 — score each query against the tiny hub table (the
      upper-layer descent); keep the top-``ef`` beam;
    * each round — expand the beam one hop along the stored edges,
      score the new candidates exactly, merge, re-prune to ``ef``
      (classic beam search; HNSW's candidate heap, width-bounded);
    * final — top-``k`` of the beam, self-matches excluded.

    Scale shape, SERVE mode (``broadcast_beam=True``, default): the
    corpus NEVER shuffles — candidate scoring joins ``nodes`` against
    a BROADCAST of the beam expansion (bounded by
    queries·ef·out_degree per round), the same corpus-stationary
    discipline as ``brute_force_topk_partial``; the fixed round count
    bounds plan depth (no localCheckpoint needed at rounds ≤ 4).

    BULK mode (``broadcast_beam=False`` — VERDICT r7 item 8's other
    half): when the query set is itself corpus-scale (full-corpus
    self-join re-ranking, offline kNN materialization), the beam is
    queries·ef rows and CANNOT broadcast; the same plan runs with
    plain shuffle hash joins — every join key below (n_id, q_id) is
    an equi-key, so Spark sorts/hashes both sides instead of shipping
    the beam to every executor, and disk spill replaces driver
    memory as the bound. Results are IDENTICAL by construction (the
    hint changes strategy, not semantics — pytest-pinned along with
    the no-BroadcastExchange plan shape).

    Deterministic end to end: exact int64 scores, every window and
    prune tie-broken by ascending id — a DuckDB oracle replays the
    whole search bit-for-bit. Returns (q_id, n_id, rank, qdot)."""
    _check_index_family(index_path)
    maybe_bcast = F.broadcast if broadcast_beam else (lambda df: df)
    nodes = spark.read.parquet(f"{index_path}/nodes")
    edges = spark.read.parquet(f"{index_path}/edges")
    hub_nodes = spark.read.parquet(f"{index_path}/hubs")
    q = _q6_nodes(queries, id_col, vec_col, None).select(
        F.col("id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    w_beam = Window.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("n_id"))
    beam = (
        q.crossJoin(F.broadcast(hub_nodes))
        .select(
            "q_id",
            F.col("hub").alias("n_id"),
            _iqdot(F.col("q_qv"), F.col("hub_qv")).alias("qdot"),
        )
        .withColumn("_rn", F.row_number().over(w_beam))
        .where(F.col("_rn") <= ef)
        .select("q_id", "n_id", "qdot")
    )
    for _ in range(rounds):
        exp = (
            beam.join(edges, beam["n_id"] == edges["src"])
            .select("q_id", F.col("dst").alias("n_id"))
            .distinct()
        )
        scored = (
            nodes.join(maybe_bcast(exp), nodes["id"] == exp["n_id"])
            .join(maybe_bcast(q), "q_id")
            .select(
                "q_id",
                "n_id",
                _iqdot(F.col("q_qv"), F.col("qv")).alias("qdot"),
            )
        )
        beam = (
            beam.unionByName(scored)
            .groupBy("q_id", "n_id")
            .agg(F.max("qdot").alias("qdot"))
            .withColumn("_rn", F.row_number().over(w_beam))
            .where(F.col("_rn") <= ef)
            .select("q_id", "n_id", "qdot")
        )
    return (
        beam.where(F.col("n_id") != F.col("q_id"))
        .withColumn("rank", F.row_number().over(w_beam))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "qdot")
    )


def quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT top-k by the quantized int64 inner product — the ground
    truth an HNSW/IVF/SQ8 probe is measured against (recall@k is only
    meaningful when the approximate and exact rankings share a
    metric; cosine-vs-intdot mixes quantization error into the graph
    evaluation). Same corpus-stationary broadcast shape as
    ``brute_force_topk``. Returns (q_id, n_id, rank, qdot)."""
    corpus = _q6_nodes(embeddings, id_col, vec_col, None).select(
        F.col("id").alias("n_id"), F.col("qv").alias("n_qv")
    )
    q = _q6_nodes(queries, id_col, vec_col, None).select(
        F.col("id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    scored = corpus.join(
        F.broadcast(q), F.col("n_id") != F.col("q_id")
    ).select(
        "q_id", "n_id", _iqdot(F.col("q_qv"), F.col("n_qv")).alias("qdot")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "qdot")
    )


def embedding_decontaminate(
    corpus: DataFrame,
    heldout: DataFrame,
    min_cosine: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-similarity decontamination — the SEMANTIC member of
    the leakage family (functions/dedup.py:decontaminate_ngrams
    catches verbatim/near-verbatim overlap; paraphrased eval items
    only surface in embedding space): flag every corpus vector whose
    cosine against ANY held-out vector reaches ``min_cosine``.

    Scale shape: the held-out set (an eval benchmark — thousands of
    rows, not corpus-scale) broadcasts; the corpus streams through
    ONE broadcast join and a map-side-combinable max/count aggregate,
    so the corpus never shuffles and nothing quadratic exists. Same
    rounded-cosine determinism contract as brute_force_topk. A
    corpus id present in the held-out set flags itself (cosine 1).

    Returns one row per corpus vector:
    (id, n_hits, max_cosine, keep) — ``keep`` is the training-set
    admission verdict; max_cosine is NULL when no held-out pair
    scored (zero vector or empty held-out set)."""
    emb = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    ho = _as_double(heldout, vec_col).select(
        F.col(vec_col).alias("h_vec")
    )
    scored = emb.join(F.broadcast(ho)).select(
        "id",
        F.round(cosine(F.col("vec"), F.col("h_vec")), round_digits).alias(
            "_s"
        ),
    )
    hits = scored.groupBy("id").agg(
        F.sum(
            F.when(F.col("_s") >= min_cosine, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_hits"),
        F.max("_s").alias("max_cosine"),
    )
    return (
        emb.select("id")
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            "max_cosine",
            (F.coalesce("n_hits", F.lit(0)) == 0).alias("keep"),
        )
    )


def embedding_decontaminate_lsh(
    corpus: DataFrame,
    heldout: DataFrame,
    min_cosine: float = 0.8,
    n_bits: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """LSH-prefiltered embedding decontamination (VERDICT r7 item 3):
    same verdict contract as ``embedding_decontaminate``, but only
    corpus vectors sharing at least one RP-LSH bucket (any of
    ``n_tables`` tables, ``lsh_signed_nodes`` signatures) with at
    least one held-out vector are scored — at 100 TB × 10⁴ held-out
    rows the exhaustive form is a 10⁴× compute multiplier per corpus
    row; the prefilter cuts the scored set to the bucket-sharing
    candidates at a bounded recall cost (a cosine ≥ 0.8 pair agrees
    with a random hyperplane w.p. ~1 − acos(0.8)/π ≈ 0.79, so one
    4-bit table keeps it w.p. ~0.39 and four tables keep it w.p.
    ~1 − (1 − 0.39)⁴ ≈ 0.86; raise n_tables for tighter recall —
    tests/test_decontaminate_lsh.py measures both recall and the
    candidate-reduction ratio on the driver fixture).

    Scale shape: the held-out BUCKET SETS (≤ n_tables·2^n_bits
    values) ride ONE 1-row broadcast back onto the corpus signature
    table — the enforce_bounded_grid scalar pattern — so the
    candidate test is a pure codegen ``array_contains`` OR-chain: no
    join, no shuffle, the corpus never moves. Scoring then broadcasts
    the held-out vectors against candidates only, identical
    arithmetic to the exhaustive form.

    Output contract: (id, n_hits, max_cosine, keep) — flags match
    the exhaustive form whenever the flagged pair shares a bucket;
    non-candidates report n_hits=0 / keep=true / max_cosine NULL
    (the exhaustive form reports their true sub-threshold max —
    that's the information the prefilter trades away)."""
    csig = lsh_signed_nodes(corpus, n_bits, n_tables, id_col, vec_col)
    hsig = lsh_signed_nodes(heldout, n_bits, n_tables, id_col, vec_col)
    hb = hsig.agg(
        *[F.collect_set(f"t{t}").alias(f"_hb{t}") for t in range(n_tables)]
    )
    is_cand = None
    for t in range(n_tables):
        hit = F.array_contains(F.col(f"_hb{t}"), F.col(f"t{t}"))
        is_cand = hit if is_cand is None else (is_cand | hit)
    cand_ids = (
        csig.crossJoin(F.broadcast(hb))
        .where(F.coalesce(is_cand, F.lit(False)))
        .select("id")
    )
    emb = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    ho = _as_double(heldout, vec_col).select(F.col(vec_col).alias("h_vec"))
    scored = (
        emb.join(cand_ids, "id", "leftsemi")
        .join(F.broadcast(ho))
        .select(
            "id",
            F.round(
                cosine(F.col("vec"), F.col("h_vec")), round_digits
            ).alias("_s"),
        )
    )
    hits = scored.groupBy("id").agg(
        F.sum(
            F.when(F.col("_s") >= min_cosine, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_hits"),
        F.max("_s").alias("max_cosine"),
    )
    return (
        emb.select("id")
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            "max_cosine",
            (F.coalesce("n_hits", F.lit(0)) == 0).alias("keep"),
        )
    )


def sq8_unit_codes(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Unit-normalized SQ8 codes: ``floor(127 · v_d / ||v||)`` per
    dimension — 1 signed byte of information per dim, so the SYMMETRIC
    integer dot of two code vectors is a direct cosine estimate (the
    min-max codes of ``sq8_codes`` carry a per-dim offset that
    dominates their symmetric dot on isotropic data — measured
    recall@5 = 0.03 at sf0.1, BASELINE.md §I; these floor-quantized
    unit codes measure 0.930 on the same fixture — the np.round
    prototype measured 0.985, and floor is kept for the engine-
    portable quantization discipline). Deterministic at any partitioning:
    the norm and each code are row-local IEEE expressions (sqrt, one
    multiply, one divide, floor) every engine computes identically.
    A zero vector gets all-zero codes (ranks last everywhere,
    NULL-free — mirrored by the oracle's CASE)."""
    e = _as_double(embeddings, vec_col)
    nrm = norm(F.col(vec_col))
    codes = F.when(
        nrm > 0,
        F.transform(
            F.col(vec_col),
            lambda v: F.floor(F.lit(127.0) * v / nrm).cast("bigint"),
        ),
    ).otherwise(
        F.transform(F.col(vec_col), lambda v: F.lit(0).cast("bigint"))
    )
    return e.select(F.col(id_col).alias("id"), codes.alias("codes"))


def sq8_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k over unit-normalized SQ8 codes — the BASELINE.md §I
    finding made executable (round 8): symmetric int dot of
    ``sq8_unit_codes`` ranks by a 1-byte-per-dim cosine estimate with
    near-exact recall where min-max SQ8 was structurally blind. Same
    corpus-stationary broadcast shape as ``brute_force_topk`` (the
    corpus never shuffles; ~k rows per query cross the final window);
    exact int64 scores, (qdot desc, n_id asc) tie-break — a DuckDB
    oracle replays codes and ranking bit-for-bit. Returns
    (q_id, n_id, rank, qdot)."""
    corpus = sq8_unit_codes(embeddings, id_col, vec_col).select(
        F.col("id").alias("n_id"), F.col("codes").alias("n_codes")
    )
    qry = sq8_unit_codes(queries, id_col, vec_col).select(
        F.col("id").alias("q_id"), F.col("codes").alias("q_codes")
    )
    scored = corpus.join(
        F.broadcast(qry), F.col("n_id") != F.col("q_id")
    ).select(
        "q_id",
        "n_id",
        _iqdot(F.col("n_codes"), F.col("q_codes")).alias("qdot"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "q_id", "n_id", F.col("rank").cast("bigint").alias("rank"), "qdot"
        )
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    q_col: str = "q_id",
    tok_col: str = "tok",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    max_score_rows: int = 1_000_000_000,
) -> DataFrame:
    """Late-interaction multi-vector retrieval (the MaxSim operator of
    Khattab & Zaharia, ColBERT, SIGIR 2020): a document is a BAG of
    token vectors, a query likewise, and

        score(q, d) = Σ_{t ∈ q}  max_{u ∈ d}  <t, u>

    — each query token finds its best-matching document token and the
    per-token maxima add up. This is the retrieval family the
    single-vector ANN stack (brute force / IVF / SQ8 / PQ / HNSW)
    cannot express: pooling tokens into one vector before the dot
    product erases term-level matching.

    Inputs are token tables — ``doc_tokens`` (doc_col, tok_col,
    vec_col) and ``query_tokens`` (q_col, tok_col, vec_col) — one row
    per token vector; ``tok_col`` is the within-bag token index (its
    only role is reproducible lineage — MaxSim itself is bag-order
    invariant).

    Scale shape (SERVE mode — this operator's only mode): the corpus
    token table NEVER shuffles for scoring — query tokens broadcast
    (bounded by queries·tokens_per_query rows), the big join is
    map-side, and the inner ``max`` pre-aggregates partially before
    the one shuffle on (doc, query, query-token); the outer Σ groups
    on a subset of those keys. For CORPUS-SCALE query sets this
    exhaustive form is the wrong tool by construction (it scores
    |doc_tokens|·|query_tokens| pairs and its only non-equi join
    would plan a CartesianProduct) — use the two-stage architecture
    the paper serves with: single-vector ANN retrieval
    (``hnsw_probe_topk`` / ``ivf_probe_topk_indexed`` over pooled or
    per-token vectors) to produce a bounded candidate list, then
    ``maxsim_rescore`` — equi-keyed on (q_id, doc_id), shuffle-safe —
    for the exact late-interaction scores.

    ``max_score_rows`` makes that serve-mode contract EXECUTABLE
    (VERDICT r8 item 2, the ``_pair_cap_filter`` discipline): the job
    fails loudly — via an ``assert_true`` filter Catalyst cannot
    prune — before materializing more than ``max_score_rows`` =
    |doc_tokens|·|query_tokens| scoring rows, instead of melting
    silently when a caller feeds a corpus-scale query set. Raise it
    deliberately; corpus-scale callers belong on ``maxsim_rescore``.

    Exact and portable end to end: vectors quantize to the shared
    ``floor(v·10⁶)`` int64 grid (``_q6_nodes`` discipline), dots /
    maxima / sums are int64, ranking tie-breaks (score desc, doc asc)
    — a DuckDB oracle replays scoring bit-for-bit. Returns
    (q_id, doc_id, rank, score)."""
    # quantize both token tables on the shared int grid
    dq = doc_tokens.select(
        F.col(doc_col).cast("long").alias("doc_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v: F.floor(v * F.lit(1000000.0)).cast("bigint"),
        ).alias("d_qv"),
    )
    qq = query_tokens.select(
        F.col(q_col).cast("long").alias("q_id"),
        F.col(tok_col).cast("long").alias("q_tok"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v: F.floor(v * F.lit(1000000.0)).cast("bigint"),
        ).alias("q_qv"),
    )
    # executable scoring-row cap (see docstring): one 2-count scalar
    # rides onto the doc side as a 1-row broadcast; assert_true on a
    # filter fails the job BEFORE the exhaustive cross join runs
    nd = dq.agg(F.count(F.lit(1)).cast("bigint").alias("_nd"))
    nq = qq.agg(F.count(F.lit(1)).cast("bigint").alias("_nq"))
    tot = nd.crossJoin(nq).select(
        (F.col("_nd") * F.col("_nq")).alias("_pairs")
    )
    check = F.assert_true(
        F.col("_pairs") <= max_score_rows,
        F.concat(
            F.lit("maxsim_topk: exhaustive serve-mode scoring would "),
            F.lit("materialize "),
            F.col("_pairs").cast("string"),
            F.lit(
                f" doc-token x query-token rows, over max_score_rows="
                f"{max_score_rows}. This operator is for BOUNDED serve"
                f" query sets; corpus-scale query sets belong on the"
                f" two-stage path (ANN retrieval + maxsim_rescore), or"
                f" raise max_score_rows deliberately."
            ),
        ),
    )
    dq = dq.crossJoin(F.broadcast(tot)).where(check.isNull()).drop("_pairs")
    pairs = dq.crossJoin(F.broadcast(qq)).select(
        "doc_id",
        "q_id",
        "q_tok",
        _iqdot(F.col("d_qv"), F.col("q_qv")).alias("dot"),
    )
    per_tok = pairs.groupBy("doc_id", "q_id", "q_tok").agg(
        F.max("dot").alias("best")
    )
    scores = per_tok.groupBy("q_id", "doc_id").agg(
        F.sum("best").cast("bigint").alias("score")
    )
    if exclude_self:
        # ids share a namespace (queries drawn from the corpus): drop
        # the trivial self-match BEFORE ranking, the ANN-family rule
        scores = scores.where(F.col("doc_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "q_id",
            "doc_id",
            F.col("rank").cast("bigint").alias("rank"),
            "score",
        )
    )


def maxsim_rescore(
    candidates: DataFrame,
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    doc_col: str = "doc_id",
    q_col: str = "q_id",
    tok_col: str = "tok",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact MaxSim re-scoring of a bounded candidate list — the bulk
    half of the late-interaction stack (``maxsim_topk`` documents the
    architecture): a cheap first stage (single-vector ANN over pooled
    or per-token vectors) retrieves ``candidates`` (q_id, doc_id);
    this stage computes the exact late-interaction score for exactly
    those pairs and re-ranks.

    Scale shape: every join is EQUI-KEYED — candidates ⋈ doc_tokens on
    doc_id, then ⋈ query_tokens on q_id — so the plan is shuffle hash
    joins end to end (no broadcast requirement, no cartesian): disk
    spill, not driver memory, bounds corpus-scale query sets. Work is
    |candidates| · tokens_per_doc · tokens_per_query scoring rows —
    linear in the candidate list, never |docs|·|queries|.

    Same exact-int discipline as ``maxsim_topk`` (shared floor(v·10⁶)
    grid, int64 dots/maxima/sums, (score desc, doc asc) rank ties).
    Returns (q_id, doc_id, rank, score) — rank within each query's
    candidate set."""
    cand = candidates.select(
        F.col(q_col).cast("long").alias("q_id"),
        F.col(doc_col).cast("long").alias("doc_id"),
    ).distinct()
    dq = doc_tokens.select(
        F.col(doc_col).cast("long").alias("doc_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v: F.floor(v * F.lit(1000000.0)).cast("bigint"),
        ).alias("d_qv"),
    )
    qq = query_tokens.select(
        F.col(q_col).cast("long").alias("q_id"),
        F.col(tok_col).cast("long").alias("q_tok"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v: F.floor(v * F.lit(1000000.0)).cast("bigint"),
        ).alias("q_qv"),
    )
    pairs = cand.join(dq, "doc_id").join(qq, "q_id").select(
        "doc_id",
        "q_id",
        "q_tok",
        _iqdot(F.col("d_qv"), F.col("q_qv")).alias("dot"),
    )
    per_tok = pairs.groupBy("doc_id", "q_id", "q_tok").agg(
        F.max("dot").alias("best")
    )
    scores = per_tok.groupBy("q_id", "doc_id").agg(
        F.sum("best").cast("bigint").alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return scores.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select("q_id", "doc_id", "rank", "score")


def refined_centroid_table(
    embeddings: DataFrame,
    rounds: int = 2,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Lloyd-refined, broadcastable (block, centroid) table with an
    ENGINE-PORTABLE mean at every round: each coordinate is
    ``CAST(sum_e6 AS DOUBLE) / n`` — a single IEEE division of two
    exact integers (the ``ivf_centroids`` sum_e6 discipline), so a
    SQL oracle replays every intermediate centroid bit-for-bit.
    (``kmeans_refine_sums`` keeps the decimal-sum path for its
    sum-output contract; THIS path exists because refined IVF needs
    the centroids themselves to cross engines exactly, including the
    intermediate rounds.)

    Why refinement matters for IVF: seeding from a partition key with
    no geometric meaning (the fixture's ``label`` measures same-label
    mean cosine ≈ the global mean — BASELINE.md §I) makes the Voronoi
    cells random and nprobe=1 recall collapse; a couple of Lloyd
    rounds move the centroids onto the data's actual structure while
    keeping build cost at ``rounds`` corpus passes.

    Scale shape: per round, the corpus streams through one broadcast
    assignment (``_assign_to_centroids`` — map-side max_by) and one
    map-side-combinable integer aggregate; only the nlist×dim
    centroid table crosses rounds via the driver (the k-means shape,
    as in ``kmeans_refine_sums``). Empty cells drop (standard Lloyd;
    deterministic, both engines replay the same assignment)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    spark = embeddings.sparkSession
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    seed_sums = ivf_centroids(embeddings, block_col, vec_col)
    centroids = (
        seed_sums.withColumn(
            "mean", F.col("sum_e6").cast("double") / F.col("n")
        )
        .groupBy("block")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("mean")))
                ),
                lambda s: s["mean"],
            ).alias("centroid")
        )
        .select(F.col("block").cast("bigint").alias("block"), "centroid")
    )
    for _ in range(rounds):
        assigned = _assign_to_centroids(emb, centroids, round_digits).select(
            F.col("assigned_block").alias("block"), "vec"
        )
        means = (
            assigned.select("block", F.posexplode("vec").alias("dim", "val"))
            .groupBy("block", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("val") * F.lit(1000000.0)).cast("bigint")
                ).alias("sum_e6"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "block",
                "dim",
                (F.col("sum_e6").cast("double") / F.col("n")).alias("mean"),
            )
        )
        rows = means.collect()
        by_block: dict = {}
        for r in rows:
            by_block.setdefault(r["block"], []).append((r["dim"], r["mean"]))
        centroids = spark.createDataFrame(
            [
                (int(b), [m for _, m in sorted(dims)])
                for b, dims in sorted(by_block.items())
            ],
            "block bigint, centroid array<double>",
        )
    return centroids


def ivf_refined_probe_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    rounds: int = 2,
    nprobe: int = 2,
    k: int = 5,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF probe over Lloyd-REFINED cells (``refined_centroid_table``)
    — the recall repair for geometry-blind seed partitions: the corpus
    assigns once to the refined centroids (rn = 1 — a vector lives in
    one inverted list), each query keeps its top-``nprobe`` cells, and
    the exact rounded cosine ranks candidates inside the probed cells.
    Same probe discipline as ``ivf_probe_topk`` (broadcast centroid
    table, equi-join on the cell key, corpus never broadcast); the
    entire chain — every refine round included — replays in plain SQL.
    Returns (q_id, n_id, rank, score)."""
    cents = refined_centroid_table(
        embeddings, rounds, block_col, id_col, vec_col, round_digits
    )
    emb = _as_double(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    qry = _as_double(queries, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    corpus = _assign_to_centroids(emb, cents, round_digits).select(
        F.col("id").alias("n_id"),
        F.col("vec").alias("n_vec"),
        F.col("assigned_block").alias("cell"),
    )
    probes = _top_centroids(qry, cents, nprobe, round_digits).select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("assigned_block").alias("cell"),
    )
    scored = corpus.join(F.broadcast(probes), "cell").where(
        F.col("n_id") != F.col("q_id")
    ).select(
        "q_id",
        "n_id",
        F.round(cosine(F.col("q_vec"), F.col("n_vec")), round_digits).alias(
            "score"
        ),
    )
    # no (q, n) pair can repeat: the corpus row carries exactly one
    # cell (rn = 1) and a query's nprobe cells are distinct, so the
    # cell equi-join emits each candidate at most once — rank directly
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "score")
    )
