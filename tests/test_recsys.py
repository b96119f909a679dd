"""Recsys precompute/eval operators: covisitation, coverage, hit-rate."""

import pytest

from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.operators.recsys import (
    covisitation_topk,
    rec_catalog_coverage,
    rec_hitrate_by_cooccurrence,
)


@pytest.fixture(scope="module")
def interactions(spark):
    rows = [
        ("u1", "a"), ("u1", "b"), ("u1", "c"),
        ("u2", "a"), ("u2", "b"),
        ("u3", "b"), ("u3", "c"),
        ("u4", "a"), ("u4", "a"),  # duplicate interaction collapses
    ]
    return spark.createDataFrame(rows, "user_id string, item_id string")


def test_covisitation_counts_and_rank(spark, interactions):
    got = {
        (r["item"], r["rec_item"]): (r["n_common"], r["rank"])
        for r in covisitation_topk(interactions, k=2).collect()
    }
    # a-b share u1,u2 (2); b-c share u1,u3 (2); a-c share u1 (1)
    assert got[("a", "b")] == (2, 1)
    assert got[("b", "a")] == (2, 1)
    assert got[("b", "c")] == (2, 2)  # tie-broken after 'a'? no: n=2 both
    assert got[("a", "c")] == (1, 2)
    assert got[("c", "b")][0] == 2


def test_covisitation_caps_power_users(spark):
    # one bot user with 30 items, cap at 5: its contribution must be
    # exactly 5*4 ordered pairs, not 30*29
    rows = [("bot", f"i{n:02d}") for n in range(30)]
    df = spark.createDataFrame(rows, "user_id string, item_id string")
    pairs = covisitation_topk(df, k=100, max_items_per_user=5)
    assert pairs.count() == 5 * 4


def test_coverage_stats(spark, interactions):
    recs = spark.createDataFrame(
        [("q1", "a"), ("q1", "zz"), ("q2", "b"), ("q2", "b")],
        "query_item_id string, rec_item string",
    )
    catalog = interactions.select(F.col("item_id")).distinct()
    row = rec_catalog_coverage(recs, catalog, "rec_item", "item_id").collect()[0]
    assert row["catalog_size"] == 3
    assert row["items_covered"] == 2          # a, b
    assert row["items_recommended"] == 3      # a, b, zz
    assert row["dead_rec_rows"] == 1          # the zz row
    assert row["total_rec_rows"] == 4


def test_hitrate_by_cooccurrence(spark, interactions):
    recs = spark.createDataFrame(
        [("a", "b"), ("a", "zz"), ("c", "b"), ("zz", "a")],
        "query_item_id string, rec_item string",
    )
    got = {
        r["query_item_id"]: (r["n_recs"], r["n_hits"])
        for r in rec_hitrate_by_cooccurrence(recs, interactions).collect()
    }
    # (a,b) hits via u1/u2; (a,zz) no; (c,b) hits via u1/u3; (zz,a) no
    assert got == {"a": (2, 1), "c": (1, 1), "zz": (1, 0)}


def test_cap_items_per_user_bounds_fanout(spark):
    from amazon_personalize_connectors_spark.operators.recsys import (
        cap_items_per_user,
    )

    rows = [("bot", f"i{n:03d}") for n in range(200)] + [("ok", "a")]
    df = spark.createDataFrame(rows, "u string, i string")
    capped = cap_items_per_user(df, 7)
    per_user = {
        r["u"]: r["n"]
        for r in capped.groupBy("u").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_user == {"bot": 7, "ok": 1}
    # deterministic: same survivors on recomputation
    assert {tuple(r) for r in capped.collect()} == {
        tuple(r) for r in capped.collect()
    }


def test_hitrate_truth_side_is_capped(spark):
    # one bot user with 30 items: under truth cap 2 only the 2
    # hash-surviving items can co-occur, so of the 30*29 possible rec
    # pairs exactly 2 (ordered) hit; capless truth would confirm all
    # 870. This pins the bounded per-user fan-out the docstring
    # promises (cap^2, never history^2).
    items = [f"i{n:02d}" for n in range(30)]
    inter = spark.createDataFrame(
        [("bot", i) for i in items], "user_id string, item_id string"
    )
    recs = spark.createDataFrame(
        [(a, b) for a in items for b in items if a != b],
        "query_item_id string, rec_item string",
    )
    capped = rec_hitrate_by_cooccurrence(recs, inter, max_items_per_user=2)
    assert capped.agg(F.sum("n_hits")).collect()[0][0] == 2
    uncapped = rec_hitrate_by_cooccurrence(recs, inter, max_items_per_user=50)
    assert uncapped.agg(F.sum("n_hits")).collect()[0][0] == 30 * 29


def test_covisitation_matches_bruteforce_reference(spark):
    # generator-based pair counting == brute-force itertools reference
    # over a deterministic pseudo-random interaction set (dups incl.)
    import itertools
    from collections import Counter

    rows = [
        (f"u{(n * 7) % 13}", f"i{(n * n + 3 * n) % 17}") for n in range(200)
    ]
    df = spark.createDataFrame(rows, "user_id string, item_id string")
    got = {
        (r["item"], r["rec_item"]): r["n_common"]
        for r in covisitation_topk(df, k=100, max_items_per_user=100).collect()
    }
    by_user = {}
    for u, i in set(rows):
        by_user.setdefault(u, set()).add(i)
    want = Counter()
    for items in by_user.values():
        for a, b in itertools.combinations(sorted(items), 2):
            want[(a, b)] += 1
            want[(b, a)] += 1
    assert got == dict(want)


def test_negative_sampling_properties(spark, interactions):
    from amazon_personalize_connectors_spark.operators.recsys import (
        negative_sampling,
    )

    catalog = spark.range(0, 100).select(F.col("id").alias("item_id"))
    inter = spark.createDataFrame(
        [(u, i) for u in range(20) for i in range(u % 7)],
        "user_id long, item_id long",
    )
    negs = negative_sampling(inter, catalog, k=5, oversample=3)
    rows = negs.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    hist = {(r["user_id"], r["item_id"]) for r in inter.collect()}
    for u, rs in by_user.items():
        assert len(rs) <= 5
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        for r in rs:
            assert (u, r["neg_item"]) not in hist       # never a positive
            assert 0 <= r["neg_item"] < 100             # in catalog
        assert len({r["neg_item"] for r in rs}) == len(rs)  # distinct
    # deterministic across recomputation
    again = {(r["user_id"], r["neg_item"], r["rank"]) for r in negs.collect()}
    assert again == {(r["user_id"], r["neg_item"], r["rank"]) for r in rows}


def test_covisitation_increments_merge_law(spark):
    """merge(pairs(old), increments(old, delta)) == pairs(old ∪ delta),
    including delta rows that duplicate state (must contribute 0)."""
    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.operators.recsys import (
        _half_pairs,
        covisitation_increments,
    )

    old_rows = [("u1", 1), ("u1", 2), ("u2", 2), ("u2", 3), ("u3", 9)]
    delta_rows = [("u1", 3), ("u1", 2),  # (u1,2) already in state
                  ("u2", 1), ("u4", 5), ("u4", 6)]
    state = spark.createDataFrame(old_rows, "u string, i long")
    delta = spark.createDataFrame(delta_rows, "u string, i long")

    def pair_counts(df):
        per_user = df.groupBy("u").agg(F.collect_list("i").alias("_items"))
        return (
            _half_pairs(per_user, "item", "rec_item")
            .groupBy("item", "rec_item")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    inc = covisitation_increments(state, delta)
    merged = (
        pair_counts(state)
        .unionByName(inc.withColumnRenamed("n_common_delta", "n"))
        .groupBy("item", "rec_item")
        .agg(F.sum("n").alias("n"))
    )
    full = pair_counts(
        state.unionByName(delta).distinct()
    )
    got = {(r["item"], r["rec_item"]): r["n"] for r in merged.collect()}
    want = {(r["item"], r["rec_item"]): r["n"] for r in full.collect()}
    assert got == want
    # sanity: the duplicated (u1,2) added nothing on its own
    inc_rows = {(r["item"], r["rec_item"]): r["n_common_delta"]
                for r in inc.collect()}
    # (1,3) from u1 (new 3 x old 1) AND u2 (new 1 x old 3); (2,3) u1 only
    assert inc_rows[(1, 3)] == 2 and inc_rows[(2, 3)] == 1
    assert inc_rows[(5, 6)] == 1  # new user, new-new pair


def test_covisitation_incremental_state_roundtrip(spark, tmp_path):
    """Operational refresh loop: day-1 pair counts persist to parquet
    state; day-2 increments merge onto the READ-BACK state; the merged
    table equals a full recompute over both days."""
    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.operators.recsys import (
        _half_pairs,
        covisitation_increments,
    )

    day1 = spark.createDataFrame(
        [("u1", 1), ("u1", 2), ("u2", 1), ("u2", 3)], "u string, i long"
    )
    day2 = spark.createDataFrame(
        [("u1", 3), ("u2", 2), ("u3", 1), ("u3", 2)], "u string, i long"
    )

    def pair_counts(df):
        per_user = df.groupBy("u").agg(F.collect_list("i").alias("_items"))
        return (
            _half_pairs(per_user, "item", "rec_item")
            .groupBy("item", "rec_item")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    state_dir = str(tmp_path / "pair_state")
    items_dir = str(tmp_path / "item_state")
    pair_counts(day1).write.parquet(state_dir)
    day1.write.parquet(items_dir)

    # refresh run: everything read back from storage, nothing cached
    state_pairs = spark.read.parquet(state_dir)
    state_items = spark.read.parquet(items_dir)
    inc = covisitation_increments(state_items, day2).withColumnRenamed(
        "n_common_delta", "n"
    )
    merged = (
        state_pairs.unionByName(inc)
        .groupBy("item", "rec_item")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    full = pair_counts(day1.unionByName(day2).distinct())
    got = {(r["item"], r["rec_item"]): r["n"] for r in merged.collect()}
    want = {(r["item"], r["rec_item"]): r["n"] for r in full.collect()}
    assert got == want


def test_rec_ndcg_at_k_hand_computed(spark):
    from amazon_personalize_connectors_spark.operators.recsys import (
        rec_ndcg_at_k,
    )

    recs = spark.createDataFrame(
        # item 10: recs ranked [1,2,3]; item 20: recs ranked [7,8]
        [(10, 1, 1), (10, 2, 2), (10, 3, 3), (20, 7, 1), (20, 8, 2)],
        "item long, rec_item long, rank int",
    )
    truth = spark.createDataFrame(
        # item 10 relevant: {2, 3, 4} (hits at ranks 2,3); duplicated
        # rows must not double-count
        [(10, 2), (10, 2), (10, 3), (10, 4), (20, 9)],
        "item long, partner long",
    )
    got = {r["item"]: r for r in rec_ndcg_at_k(recs, truth, k=5).collect()}
    r10 = got[10]
    assert (r10["n_rel"], r10["n_hits"]) == (3, 2)
    # dcg = g2 + g3 = 0.630929754 + 0.500000000
    assert abs(r10["dcg"] - 1.130929754) < 1e-12
    # idcg = prefix(3) = 2.130929754
    assert abs(r10["idcg"] - 2.130929754) < 1e-12
    assert abs(r10["ndcg"] - 1.130929754 / 2.130929754) < 1e-12
    r20 = got[20]
    assert (r20["n_rel"], r20["n_hits"], r20["dcg"]) == (1, 0, 0.0)
    assert abs(r20["idcg"] - 1.0) < 1e-12 and r20["ndcg"] == 0.0


def test_rec_ndcg_bounds_and_hit_caps(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_personalize_connectors_spark.operators.recsys import (
        rec_ndcg_at_k,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(  # (item, rec_item) pairs; ranks assigned per item
            st.tuples(st.integers(1, 4), st.integers(10, 20)),
            min_size=1, max_size=15, unique=True,
        ),
        st.lists(
            st.tuples(st.integers(1, 4), st.integers(10, 20)),
            min_size=0, max_size=25,
        ),
    )
    def check(rec_pairs, truth_rows):
        by_item = {}
        recs = []
        for it, ri in rec_pairs:
            r = by_item.get(it, 0) + 1
            if r > 5:
                continue
            by_item[it] = r
            recs.append((it, ri, r))
        recs_df = spark.createDataFrame(
            recs, "item long, rec_item long, rank int"
        )
        truth_df = spark.createDataFrame(
            truth_rows or [(99, 99)], "item long, partner long"
        )
        out = rec_ndcg_at_k(recs_df, truth_df, k=5).collect()
        assert {r["item"] for r in out} == set(by_item)
        for r in out:
            assert r["n_hits"] <= min(5, r["n_rel"])
            if r["n_rel"] == 0:
                assert r["idcg"] is None and r["ndcg"] is None
            else:
                assert 0.0 <= r["ndcg"] <= 1.0 + 1e-12
                assert r["dcg"] <= r["idcg"] + 1e-12

    check()


def test_embedding_centroid_drift_hand_computed(spark):
    from amazon_personalize_connectors_spark.operators.drift import (
        embedding_centroid_drift,
    )

    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "label long, v array<double>",
    )
    b = spark.createDataFrame(
        [(1, [1.0, 1.0]), (3, [0.5, 0.5])],  # label 3 only in b -> dropped
        "label long, v array<double>",
    )
    got = {r["label"]: r for r in
           embedding_centroid_drift(a, b, "label", "v").collect()}
    assert set(got) == {1}
    r = got[1]
    # centroids: a=(0.5, 0.5), b=(1, 1); per-dim |Sa*nb - Sb*na| with
    # micro scale: |1e6*1 - 1e6*2| = 1e6 per dim -> num = 2e6
    assert (r["n_a"], r["n_b"], r["drift_num"]) == (2, 1, 2_000_000)
    assert abs(r["l1_drift"] - 1.0) < 1e-12  # |0.5-1| + |0.5-1| = 1.0


# ---------------------------------------------------------------------------
# user_jaccard_topk
# ---------------------------------------------------------------------------


def test_user_jaccard_exact_small(spark):
    from amazon_personalize_connectors_spark.operators.recsys import (
        user_jaccard_topk,
    )

    # u1 = {a,b,c}, u2 = {b,c,d}, u3 = {a}, u4 = {x}
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "b"), (2, "c"), (2, "d"),
        (3, "a"),
        (4, "x"),
    ]
    df = spark.createDataFrame(rows, "user_id long, item_id string")
    out = {
        (r["user"], r["neighbor"]): r
        for r in user_jaccard_topk(df, k=5, max_users_per_item=10).collect()
    }
    # u1 vs u2 share {b,c}: 2 / (3+3-2)
    assert out[(1, 2)]["jaccard"] == 2 / 4
    assert out[(2, 1)]["n_common"] == 2
    # u1 vs u3 share {a}: 1 / 3
    assert out[(1, 3)]["jaccard"] == 1 / 3
    assert out[(3, 1)]["n_user"] == 1 and out[(3, 1)]["n_neighbor"] == 3
    # u4 shares nothing — appears in no pair
    assert not any(u == 4 or v == 4 for (u, v) in out)
    # ranks: u1's best neighbor is u2 (0.5 > 0.333)
    assert out[(1, 2)]["rank"] == 1 and out[(1, 3)]["rank"] == 2


def test_user_jaccard_hot_item_cap_bounds_pairs(spark):
    from amazon_personalize_connectors_spark.operators.recsys import (
        user_jaccard_topk,
    )

    # one item interacted by 30 users: capless -> 435 pairs; cap=5 ->
    # at most C(5,2)=10 half-pairs survive
    rows = [(u, "hot") for u in range(30)]
    df = spark.createDataFrame(rows, "user_id long, item_id string")
    out = user_jaccard_topk(df, k=100, max_users_per_item=5)
    half = {tuple(sorted((r["user"], r["neighbor"]))) for r in out.collect()}
    assert len(half) == 10
    # capped sets are still internally consistent: n_common <= sizes
    for r in out.collect():
        assert r["n_common"] <= min(r["n_user"], r["n_neighbor"])


def test_mmr_rerank_diversifies_and_breaks_ties(spark):
    from amazon_personalize_connectors_spark.operators.recsys import mmr_rerank

    cand = spark.createDataFrame(
        [("u1", 1, 100), ("u1", 2, 95), ("u1", 3, 50)],
        "q_id string, n_id long, rel long",
    )
    sims = spark.createDataFrame(
        [(1, 2, 200)], "item_a long, item_b long, sim_q long"
    )
    out = sorted(
        (r.step, r.n_id)
        for r in mmr_rerank(
            cand, sims, k=3, user_col="q_id", item_col="n_id",
            rel_col="rel", sim_col="sim_q",
        ).collect()
    )
    # step 1: item 1 (rel 100). step 2: item 2 scores 7*95-3*200 = 65,
    # item 3 scores 350 -> redundancy flips the order, 3 wins. step 3: 2.
    assert out == [(1, 1), (2, 3), (3, 2)]


def test_mmr_rerank_stops_when_candidates_exhausted(spark):
    from amazon_personalize_connectors_spark.operators.recsys import mmr_rerank

    cand = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 9), ("b", 7, 5)],
        "q_id string, n_id long, rel long",
    )
    sims = spark.createDataFrame([], "item_a long, item_b long, sim_q long")
    rows = mmr_rerank(
        cand, sims, k=4, user_col="q_id", item_col="n_id",
        rel_col="rel", sim_col="sim_q",
    ).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.q_id, []).append((r.step, r.n_id))
    assert sorted(by_user["a"]) == [(1, 1), (2, 2)]
    assert sorted(by_user["b"]) == [(1, 7)]


def test_graph_random_walks_deterministic_and_ends_at_deadends(spark):
    from amazon_personalize_connectors_spark.operators.recsys import (
        graph_random_walks,
    )

    # 1 -> {2, 3}; 2 -> 4; 3 and 4 are dead ends
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4)], "src long, dst long"
    )
    starts = spark.createDataFrame([(1,)], "id long")
    w1 = sorted((r.step, r.node) for r in
                graph_random_walks(edges, starts, walk_len=5).collect())
    w2 = sorted((r.step, r.node) for r in
                graph_random_walks(edges, starts, walk_len=5).collect())
    assert w1 == w2  # hash-driven, not RNG-driven
    assert w1[0] == (0, 1)
    # the walk moved somewhere legal each step and stopped at a dead end
    assert len(w1) <= 4
    path = [n for _, n in w1]
    legal = {1: {2, 3}, 2: {4}, 3: set(), 4: set()}
    for a, b in zip(path, path[1:]):
        assert b in legal[a]


def test_graph_random_walks_walkers_diverge(spark):
    from amazon_personalize_connectors_spark.operators.recsys import (
        graph_random_walks,
    )

    # complete-ish graph: every walker has the same neighborhood, but
    # the hash keys on the walk id so corpora differ across walkers
    nodes = list(range(6))
    edges = spark.createDataFrame(
        [(a, b) for a in nodes for b in nodes if a != b], "src long, dst long"
    )
    starts = spark.createDataFrame([(n,) for n in nodes], "id long")
    out = graph_random_walks(edges, starts, walk_len=3)
    paths = {}
    for r in out.collect():
        paths.setdefault(r.walk, {})[r.step] = r.node
    seqs = {w: tuple(p[s] for s in sorted(p)) for w, p in paths.items()}
    assert len(seqs) == 6 and all(len(s) == 4 for s in seqs.values())
    # tails (dropping the distinct starts) are not all identical
    assert len({s[1:] for s in seqs.values()}) > 1


def test_als_half_step_solves_normal_equations(spark):
    from amazon_personalize_connectors_spark.operators.recsys import (
        als_half_step,
    )

    ratings = spark.createDataFrame(
        [(1, 10, 5), (1, 11, 3), (1, 12, 4), (2, 10, 1), (2, 12, 2)],
        "user_id long, item_id long, rating long",
    )
    # quantized factors at scale 1000: item 10 -> (0.8, 0.1), etc.
    factors = spark.createDataFrame(
        [(10, 800, 100), (11, 200, 900), (12, 500, 500)],
        "item_id long, f1_q long, f2_q long",
    )
    out = {r.user_id: (r.n_items, r.u1, r.u2) for r in als_half_step(
        ratings, factors, reg_num=1, reg_den=10, factor_scale=1000
    ).collect()}
    assert out[1][0] == 3 and out[2][0] == 2
    # verify against the true ridge solution computed in Python
    for uid, items in ((1, [(0.8, 0.1, 5), (0.2, 0.9, 3), (0.5, 0.5, 4)]),
                       (2, [(0.8, 0.1, 1), (0.5, 0.5, 2)])):
        s11 = sum(f1 * f1 for f1, _, _ in items) + 0.1
        s12 = sum(f1 * f2 for f1, f2, _ in items)
        s22 = sum(f2 * f2 for _, f2, _ in items) + 0.1
        b1 = sum(f1 * r for f1, _, r in items)
        b2 = sum(f2 * r for _, f2, r in items)
        det = s11 * s22 - s12 * s12
        u1, u2 = (s22 * b1 - s12 * b2) / det, (s11 * b2 - s12 * b1) / det
        assert abs(out[uid][1] - u1) < 1e-9
        assert abs(out[uid][2] - u2) < 1e-9
        # and the solution satisfies (F'F + lambda I) u = F'r
        assert abs(s11 * out[uid][1] + s12 * out[uid][2] - b1) < 1e-6
        assert abs(s12 * out[uid][1] + s22 * out[uid][2] - b2) < 1e-6
