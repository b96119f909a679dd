"""Executable pair-cap contract for the ANN candidate stage
(VERDICT r7 item 2) plus the degenerate-vector contract (ADVICE r7).

The RP-LSH bucket self-join behind ``knn_out_edges`` /
``hnsw_index_build`` / ``rp_lsh_pairs`` costs Σ_tables Σ_buckets n_b²
— quadratic per bucket. ``_pair_cap_filter`` turns the sizing rule
into a runtime contract: the job fails BEFORE materializing more
candidate pairs than ``max_pair_rows``, and ``auto_n_bits`` gives the
log2(N/bucket) width that keeps the cost linear at any corpus size.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.functions.similarity import (
    auto_n_bits,
    hnsw_index_build,
    hnsw_probe_topk,
    knn_out_edges,
    lsh_signed_nodes,
    quantized_topk,
    rp_lsh_pairs,
)


def _cluster_fixture(spark, n_clusters=4, per_cluster=20, dim=8):
    """Deterministic clustered corpus: cluster c's members are the
    c-th axis direction plus small fixed jitter — nearest neighbors
    are (almost surely) cluster mates, so exact top-k is meaningful
    ground truth for recall."""
    rng = random.Random(20260815)
    rows = []
    for c in range(n_clusters):
        for i in range(per_cluster):
            v = [0.0] * dim
            v[c % dim] = 1.0
            vec = [x + rng.uniform(-0.08, 0.08) for x in v]
            rows.append((c * 1000 + i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_auto_n_bits_formula():
    # tiny corpora: one bucket is fine
    assert auto_n_bits(100, target_bucket=1024) == 1
    # grows ~log2(N/target): 1M rows, 1k target -> 10 bits
    assert auto_n_bits(1_000_000, target_bucket=1024) == 10
    # 100M rows: log2(~97.7k) rounds up to 17, but the default cap
    # holds the width at 16; a wider cap lets the formula through
    assert auto_n_bits(100_000_000, target_bucket=1024) == 16
    assert auto_n_bits(100_000_000, target_bucket=1024, max_bits=32) == 17
    # capped
    assert auto_n_bits(10**12, target_bucket=1, max_bits=16) == 16
    # monotone non-decreasing in N
    vals = [auto_n_bits(n) for n in (10**3, 10**4, 10**6, 10**9)]
    assert vals == sorted(vals)


def test_knn_out_edges_pair_cap_trips(spark):
    emb = _cluster_fixture(spark, n_clusters=2, per_cluster=10)
    # 1 bit / 1 table: ~2 buckets over 20 nodes -> >= 200 candidate
    # pairs; a cap of 10 must fail loudly BEFORE pairs materialize
    guarded = knn_out_edges(
        emb, m=2, n_bits=1, n_tables=1, max_pair_rows=10
    )
    with pytest.raises(Exception, match="max_pair_rows"):
        guarded.collect()


def test_rp_lsh_pairs_cap_trips(spark):
    emb = _cluster_fixture(spark, n_clusters=2, per_cluster=10)
    with pytest.raises(Exception, match="max_pair_rows"):
        rp_lsh_pairs(emb, n_bits=1, min_cosine=0.0, max_pair_rows=5).collect()


def test_pair_cap_passes_and_preserves_result(spark):
    emb = _cluster_fixture(spark, n_clusters=2, per_cluster=10)
    loose = knn_out_edges(emb, m=2, n_bits=1, n_tables=1)
    tight_enough = knn_out_edges(
        emb, m=2, n_bits=1, n_tables=1, max_pair_rows=500
    )
    assert sorted(map(tuple, loose.collect())) == sorted(
        map(tuple, tight_enough.collect())
    )


def test_guard_is_in_hnsw_build_plan(spark, tmp_path):
    """Plan pin (VERDICT r7 item 2 'Done' criterion): the candidate
    stage of the graph build carries the assert filter — column
    pruning must NOT be able to strip it."""
    emb = _cluster_fixture(spark, n_clusters=2, per_cluster=10)
    plan = knn_out_edges(emb, m=2)._jdf.queryExecution().optimizedPlan().toString()
    assert "raise_error" in plan or "assert_true" in plan
    assert "max_pair_rows" in plan


def test_lsh_signed_nodes_rejects_degenerate_vectors(spark):
    """ADVICE r7: NULL/empty embeddings used to vanish silently from
    the index while exhaustive ranking still emitted them. Now the
    node table fails loudly."""
    bad_null = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="degenerate|cannot be signed"):
        lsh_signed_nodes(bad_null, n_bits=2, n_tables=1).collect()
    bad_empty = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="degenerate|cannot be signed"):
        lsh_signed_nodes(bad_empty, n_bits=2, n_tables=1).collect()


def _recall_at(spark, tmp_path, emb, n_bits: int, tag: str, k: int = 3,
               entry_sample: int = 0):
    idx = str(tmp_path / f"hnsw_{tag}")
    hnsw_index_build(
        spark, emb, idx, m=6, n_bits=n_bits, n_tables=4,
        entry_sample=entry_sample,
    )
    qs = emb.where(F.col("vec_id") % 7 == 0)
    approx = hnsw_probe_topk(spark, idx, qs, k=k, ef=12, rounds=3)
    exact = quantized_topk(emb, qs, k=k)
    a = {(r["q_id"], r["n_id"]) for r in approx.select("q_id", "n_id").collect()}
    e = {(r["q_id"], r["n_id"]) for r in exact.select("q_id", "n_id").collect()}
    return len(a & e) / len(e)


def test_recall_holds_across_signature_widths(spark, tmp_path):
    """The auto_n_bits sizing rule's premise, with the failure mode it
    protects against made visible (measured r8): at a too-coarse
    width (n_bits=2, 4 buckets for 4 clusters) every table merges the
    high-id clusters under a low-id min-id hub and their disconnected
    bucket components are entry-starved — recall@3 collapses to 0.5.
    Geometry-independent entry promotion (entry_sample, the
    deterministic analogue of HNSW's random level assignment)
    restores it; at the properly-sized width (n_bits=4) the hub-only
    default already holds."""
    emb = _cluster_fixture(spark)
    r_coarse_bare = _recall_at(spark, tmp_path, emb, n_bits=2, tag="b2")
    assert r_coarse_bare < 0.85, (
        f"coarse-width hub-only recall {r_coarse_bare} — the documented"
        " entry-starvation hole closed by itself; update the docstring"
    )
    r_coarse = _recall_at(
        spark, tmp_path, emb, n_bits=2, tag="b2e", entry_sample=8
    )
    r_fine = _recall_at(spark, tmp_path, emb, n_bits=4, tag="b4")
    assert r_coarse >= 0.85, f"recall@3 at n_bits=2+entries = {r_coarse}"
    assert r_fine >= 0.85, f"recall@3 at n_bits=4 = {r_fine}"


def test_sq8_cosine_codes_beat_minmax_on_isotropic(spark):
    """The BASELINE.md §I finding as a law: on the driver embeddings
    (isotropic — worst case), unit-normalized SQ8 recall@5 vs exact
    cosine must be high while min-max SQ8's symmetric dot is
    structurally blind there. Guards the regression where someone
    'simplifies' sq8_cosine_topk back onto the min-max codes."""
    import os

    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.functions.similarity import (
        brute_force_topk,
        sq8_cosine_topk,
        sq8_topk,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(sf, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(path)
    qs = emb.where(F.col("vec_id") % 50 == 0)
    exact = {(r["q_id"], r["n_id"])
             for r in brute_force_topk(emb, qs, 5).select("q_id", "n_id").collect()}
    unit = {(r["q_id"], r["n_id"])
            for r in sq8_cosine_topk(emb, qs, 5).select("q_id", "n_id").collect()}
    mm = {(r["q_id"], r["n_id"])
          for r in sq8_topk(emb, qs, 5).select("q_id", "n_id").collect()}
    r_unit = len(unit & exact) / len(exact)
    r_mm = len(mm & exact) / len(exact)
    assert r_unit >= 0.9, f"unit-SQ8 recall {r_unit}"
    assert r_unit > r_mm + 0.3, f"unit {r_unit} vs min-max {r_mm}"


def test_hnsw_bulk_probe_equals_serve_probe(spark, tmp_path):
    """broadcast_beam=False (bulk/offline mode) must change ONLY the
    physical join strategy: identical (q_id, n_id, rank, qdot) rows,
    and no BroadcastHashJoin in the static bulk plan (the hub entry's
    tiny nested-loop broadcast is the one sanctioned exception)."""
    emb = _cluster_fixture(spark)
    idx = str(tmp_path / "hnsw_modes")
    hnsw_index_build(spark, emb, idx, m=6, n_bits=2, n_tables=4)
    qs = emb.where(F.col("vec_id") % 7 == 0)
    serve = hnsw_probe_topk(spark, idx, qs, k=3, ef=12, rounds=3)
    bulk = hnsw_probe_topk(
        spark, idx, qs, k=3, ef=12, rounds=3, broadcast_beam=False
    )
    assert sorted(map(tuple, serve.collect())) == sorted(
        map(tuple, bulk.collect())
    )
    # plan-shape law, isolated from SIZE-based auto-broadcast (the
    # toy fixture sits under the 10MB threshold, and AQE may also
    # elect broadcast at runtime — both fine and wanted): with
    # auto-broadcast disabled, serve mode still FORCES the beam
    # broadcast via its hint, while bulk mode declares none and falls
    # to shuffle joins — the worst-case-safe strategy for
    # corpus-scale query sets.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bulk_plan = (
            hnsw_probe_topk(spark, idx, qs, k=3, ef=12, rounds=3,
                            broadcast_beam=False)
            ._jdf.queryExecution().sparkPlan().toString()
        )
        serve_plan = (
            hnsw_probe_topk(spark, idx, qs, k=3, ef=12, rounds=3)
            ._jdf.queryExecution().sparkPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "BroadcastHashJoin" not in bulk_plan
    assert "BroadcastHashJoin" in serve_plan


# --- maxsim serve-mode scoring cap + anisotropic fixture (r9) ------------


def test_maxsim_topk_scoring_cap_fires(spark):
    """maxsim_topk's exhaustive serve-mode scoring is gated by an
    executable row cap (VERDICT r8 item 2): feeding it more than
    max_score_rows = |doc_tokens|·|query_tokens| must fail loudly
    BEFORE the cross join materializes, not melt silently."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        maxsim_topk,
    )

    rows = [(i, i % 4, [float(((i * 13 + d) % 9) - 4) / 4.0 for d in range(6)])
            for i in range(40)]
    toks = spark.createDataFrame(
        rows, "doc_id long, tok long, embedding array<double>"
    )
    q = toks.where("doc_id % 10 = 0").withColumnRenamed("doc_id", "q_id")
    # 40 doc tokens x 4 query tokens = 160 scoring rows > cap of 100
    with pytest.raises(Exception, match="max_score_rows"):
        maxsim_topk(toks, q, k=2, max_score_rows=100).collect()
    # a deliberate cap admits the same inputs
    assert maxsim_topk(toks, q, k=2, max_score_rows=200).count() > 0


def test_clustered_fixture_separable_and_neardup_finds_families(spark):
    """The anisotropic embedding fixture (VERDICT r8 item 2) must be
    genuinely separable: within a family the cosine is near 1, across
    families it is materially lower — and the LSH-blocked near-dup
    pipeline's top pairs must be exactly the true family pairs."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        cosine,
    )
    from amazon_personalize_connectors_spark.sources.synthetic import (
        clustered_embeddings,
    )

    rng = random.Random(20260816)
    base = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(256)],
        "vec_id long, embedding array<double>",
    )
    emb = clustered_embeddings(base, group_div=32)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    cos = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            (F.expr("ia DIV 32") == F.expr("ib DIV 32")).alias("same_fam"),
            cosine(F.col("va"), F.col("vb")).alias("c"),
        )
        .groupBy("same_fam")
        .agg(F.avg("c").alias("mean_cos"))
        .collect()
    )
    by_fam = {r["same_fam"]: r["mean_cos"] for r in cos}
    assert by_fam[True] > 0.85, f"families not tight: {by_fam}"
    assert by_fam[True] - by_fam[False] > 0.3, f"not separable: {by_fam}"
