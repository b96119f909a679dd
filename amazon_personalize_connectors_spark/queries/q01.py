"""Query builders split out of __spark_entry__.py (r9): verbatim
moves, same names, same behavior — the entry file star-imports
this package to keep the driver contract stable."""

from __future__ import annotations

from amazon_personalize_connectors_spark.queries._shared import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# helpers shared by several queries
# ---------------------------------------------------------------------------


def _ok_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ok, _ = split_errors(
        synthetic.related_items_batch_inference(spark, sf_dir), cache=False
    )
    return ok


def _decorated_related(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution + decoration, nested form (pre-stamp)."""
    return related_items_pipeline(
        synthetic.related_items_batch_inference(spark, sf_dir),
        synthetic.user_item_mapping(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        _CONNECTOR,
        _CONFIG,
    ).pre_delta


def _flatten_decorated(decorated: DataFrame, key_cols: list[str]) -> DataFrame:
    """Explode the final nested array back to flat rows for hashing."""
    return decorated.select(
        *key_cols, F.posexplode("recommendations").alias("pos", "rec")
    ).select(
        *key_cols,
        F.col("pos").cast("bigint").alias("pos"),
        F.col("rec.itemId").alias("item_id"),
        F.col("rec.name").alias("name"),
        F.col("rec.price").alias("price"),
        F.col("rec.category").alias("category"),
    )


# ---------------------------------------------------------------------------
# queries — each with a matching oracle_sql entry
# ---------------------------------------------------------------------------


def q_error_split_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 success branch: rows without error, rec-list length."""
    return _ok_recs(spark, sf_dir).select(
        F.col("input.itemId").alias("query_item_id"),
        F.size("output.recommendedItems").cast("bigint").alias("num_recs"),
    )


def q_error_split_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 error branch (K2 error sink contents)."""
    _, errors = split_errors(
        synthetic.related_items_batch_inference(spark, sf_dir), cache=False
    )
    return errors.select(
        F.col("input.itemId").alias("query_item_id"), F.col("error").alias("error")
    )


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: recs ⋈ user-item mapping (fan-out to users)."""
    attributed = attribute_users(
        _ok_recs(spark, sf_dir), synthetic.user_item_mapping(spark, sf_dir)
    )
    return attributed.select(
        F.col("input.itemId").alias("query_item_id"),
        F.col("userId").alias("user_id"),
    )


def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: posexplode_outer with rank position; empty/null lists kept."""
    exploded = explode_recommendations(
        _ok_recs(spark, sf_dir), [("input.itemId", "query_item_id")]
    )
    return exploded.select(
        "query_item_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("recItemId").alias("rec_item_id"),
    )


def q_decorate_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+E1: exploded recs left-joined to item metadata (misses kept)."""
    exploded = explode_recommendations(
        _ok_recs(spark, sf_dir), [("input.itemId", "query_item_id")]
    )
    meta = synthetic.item_metadata(spark, sf_dir)
    joined = exploded.join(
        F.broadcast(meta), exploded["recItemId"] == meta["id"], "left_outer"
    )
    return joined.select(
        "query_item_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("recItemId").alias("item_id"),
        "name",
        "price",
        "category",
        "current_stock",
    )


def q_renest_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 idiomatic re-nest: per query item — list size and the FULL
    ordered item-id sequence of the re-nested array, flattened to a
    CSV string so the oracle compares every element in order (the
    explode → decorate → re-nest round-trip is the semantic heart of
    the reference, ri:202-214 — a (len, first, last) summary can miss
    an interior transposition)."""
    decorated = decorate_items(
        _ok_recs(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        key_cols=[("input.itemId", "query_item_id")],
        metadata_fields=["name"],
    )
    return decorated.select(
        "query_item_id",
        F.size("recommendations").cast("bigint").alias("num_recs"),
        F.array_join(
            F.transform("recommendations", lambda r: r["itemId"]), ","
        ).alias("items_csv"),
    )


def q_renest_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-side maxRecommendations cap (config knob): decoration
    keeps only ranks < 3, filtering the EXPLODED rows before the
    metadata join and re-nest aggregate so join probes and the shuffle
    shrink with the cap. Full ordered item-id sequence checked —
    each capped list must be the exact top-3 prefix."""
    decorated = decorate_items(
        _ok_recs(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        key_cols=[("input.itemId", "query_item_id")],
        metadata_fields=["name"],
        max_recommendations=3,
    )
    return decorated.select(
        "query_item_id",
        F.size("recommendations").cast("bigint").alias("num_recs"),
        F.array_join(
            F.transform("recommendations", lambda r: r["itemId"]), ","
        ).alias("items_csv"),
    )


def q_flagship_related_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship related-items pipeline, flattened for hashing."""
    return _flatten_decorated(
        _decorated_related(spark, sf_dir), ["queryItemId", "userId"]
    ).withColumnsRenamed({"queryItemId": "query_item_id", "userId": "user_id"})


def q_user_pers_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-personalization pipeline (no attribution join), flattened."""
    decorated = user_personalization_pipeline(
        synthetic.user_personalization_batch_inference(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        _CONNECTOR,
        _CONFIG,
    ).pre_delta
    return _flatten_decorated(decorated, ["queryUserId"]).withColumnRenamed(
        "queryUserId", "query_user_id"
    )


def q_delta_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: EXCEPT DISTINCT of current vs simulated last-sync state
    (state = records of even user ids, as if already synced)."""
    current = q_flagship_related_flat(spark, sf_dir)
    state = current.where(F.col("user_id").cast("bigint") % 2 == 0)
    return current.subtract(state)


def q_payload_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3/E4: user-track payload algebra, arrays joined to CSV
    strings for hashing (rank order therefore checked)."""
    decorated = user_personalization_pipeline(
        synthetic.user_personalization_batch_inference(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        _CONNECTOR,
        _CONFIG,
    ).pre_delta
    payloads, _ = build_user_track_payloads(decorated, _CONNECTOR)
    return payloads.select(
        "external_id",
        F.array_join("recs_itemId", ",").alias("item_ids_csv"),
        F.array_join(
            F.transform("recs_price", lambda p: p.cast("string")), ","
        ).alias("prices_csv"),
        F.size("recs_itemId").cast("bigint").alias("n_items"),
        F.col("other_attrib1"),
    )


def q_topk_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k knob: first 3 of the ordered recommendations array."""
    decorated = decorate_items(
        _ok_recs(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        key_cols=[("input.itemId", "query_item_id")],
        metadata_fields=["name"],
    )
    top3 = limit_recommendations(decorated, 3)
    return top3.select(
        "query_item_id",
        F.array_join(
            F.transform("recommendations", lambda r: r["itemId"]), ","
        ).alias("top3_ids_csv"),
    )


def q_stamp_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: job/sync stamp as literal columns (flattened jobInfo)."""
    stamped = related_items_pipeline(
        synthetic.related_items_batch_inference(spark, sf_dir),
        synthetic.user_item_mapping(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        _CONNECTOR,
        _CONFIG,
    ).decorated
    return stamped.select(
        F.col("queryItemId").alias("query_item_id"),
        F.col("userId").alias("user_id"),
        F.col("jobInfo.name").alias("job_name"),
        F.col("jobInfo.runDateTime").alias("run_datetime"),
        F.col("syncDirectives.attributePrefix").alias("attribute_prefix"),
    )


# ---------------------------------------------------------------------------
# extension queries: text analysis, dedup, similarity, events
# ---------------------------------------------------------------------------


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace and BPE-ish regex lexers."""
    from amazon_personalize_connectors_spark.functions import text as Tx

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        Tx.whitespace_token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        Tx.regex_token_count(F.col("text")).cast("bigint").alias("n_regex_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token stats + stopword ratio + language flag."""
    from amazon_personalize_connectors_spark.functions import text as Tx

    docs = synthetic.load_table(spark, sf_dir, "documents")
    feats = Tx.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["is_english"].alias("is_english"),
    )


def q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (group aggregate with exact sums)."""
    from amazon_personalize_connectors_spark.functions import text as Tx

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(Tx.tokens(F.col("text"))).cast("bigint")).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint (min md5 over 8-grams)."""
    from amazon_personalize_connectors_spark.functions import text as Tx

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", Tx.fingerprint_min_8gram(F.col("text")).alias("fingerprint")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest."""
    from amazon_personalize_connectors_spark.functions.dedup import exact_dedup_groups

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs).select(
        "digest", F.col("rep_id").cast("bigint").alias("rep_id"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup candidates over a doc sample."""
    from amazon_personalize_connectors_spark.functions.dedup import ngram_jaccard_pairs

    docs = synthetic.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return ngram_jaccard_pairs(docs).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "common", "union_size", "jaccard",
    )


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup groups from Jaccard candidate pairs via iterative
    min-label connected components; oracle = DuckDB recursive CTE
    computing the minimum reachable doc id."""
    from amazon_personalize_connectors_spark.functions.dedup import (
        neardup_components,
        ngram_jaccard_pairs,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    edges = ngram_jaccard_pairs(docs)
    return neardup_components(edges).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the embedding near-dup graph (a<b<c,
    each triangle once): wedge equi-join closed by a left-semi probe
    — the clustering-density check that distinguishes tight duplicate
    cliques from transitive over-merged chains."""
    from amazon_personalize_connectors_spark.functions.dedup import triangles
    from amazon_personalize_connectors_spark.functions.similarity import (
        blocked_near_duplicates,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    edges = blocked_near_duplicates(emb, min_cosine=0.3)
    tri = triangles(edges)
    return tri.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("c").cast("bigint").alias("c"),
    )


def q_ngram_jaccard_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB form of the Jaccard near-dup: tokenize once, materialize
    the hashed shingle table to parquet, self-join that (same oracle as
    the recompute form — results are identical)."""
    import tempfile

    from amazon_personalize_connectors_spark.functions.dedup import (
        ngram_jaccard_pairs_materialized,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    work = tempfile.mkdtemp(prefix="apcs_shingles_")
    return ngram_jaccard_pairs_materialized(spark, docs, f"{work}/shingles").select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "common", "union_size", "jaccard",
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (6 hashes, 3 bands of 2)."""
    from amazon_personalize_connectors_spark.functions.dedup import (
        minhash_lsh_candidates,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return minhash_lsh_candidates(docs, n=2).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "n_shared_bands",
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document, via the corpus-scale
    explode+aggregate form (bit-identical to the per-row ``simhash16``
    column — pinned in tests/test_functions.py). The r10 mover
    investigation found this row is FIXED-OVERHEAD-dominated at sf0.1
    (scan+count alone costs 0.23 s of its ~1.1 s; nothing in it is
    data-proportional), so its absolute time tracks machine speed —
    read it against the bench sentinel. The agg form is kept because
    its per-token work stays codegen'd as the corpus grows, where the
    column form's interpreted lambdas would start to bind."""
    from amazon_personalize_connectors_spark.functions.dedup import simhash16_table

    docs = synthetic.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 0
    )
    return simhash16_table(docs).select(
        F.col("id").alias("doc_id"), F.col("sig").alias("simhash")
    )


def q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per document (signed-int64 encoding),
    via the corpus-scale explode+aggregate form (bit-identical to the
    per-row simhash64 column)."""
    from amazon_personalize_connectors_spark.functions.dedup import simhash64_table

    docs = synthetic.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 0
    )
    return simhash64_table(docs).select(
        F.col("id").alias("doc_id"), F.col("sig").alias("simhash")
    )


def q_state_digest_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5-at-scale update cycle: state = stored digests of all but
    every-200th order (materialized first), then the measured work is
    the digest anti-join plus appending the 0.5% delta's digests —
    cost ∝ delta size, not snapshot size (compare delta_except, which
    shuffles the full snapshot). Oracle: the delta is exactly the
    orders with o_orderkey % 200 == 0."""
    import tempfile

    from amazon_personalize_connectors_spark.operators.delta import (
        append_state_digests,
        delta_check_against_digests,
        read_state_digests,
    )

    orders = synthetic.load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    path = tempfile.mkdtemp(prefix="apcs_state_") + "/state_digests"
    append_state_digests(orders.where(F.col("o_orderkey") % 200 != 0), path)
    delta = delta_check_against_digests(orders, read_state_digests(spark, path))
    append_state_digests(delta, path)  # the incremental state update
    return delta


_QUALITY_FLAG_COLS = [
    "flag_too_short", "flag_token_len", "flag_low_stopword",
    "flag_symbol_heavy", "flag_digit_heavy", "keep",
]


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style per-document quality rules with per-rule audit
    flags and the combined keep verdict."""
    from amazon_personalize_connectors_spark.functions.text import (
        quality_filter_flags,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    flags = quality_filter_flags(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        *[flags[k].alias(k) for k in _QUALITY_FLAG_COLS],
    )


def q_llm_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite LLM-corpus pipeline: quality filter -> exact dedup ->
    surviving representative docs with copy counts and token sizes.
    One projected scan feeds the filter; dedup is one map-side-
    combinable hash aggregate on the content digest."""
    from amazon_personalize_connectors_spark.functions.text import (
        quality_filter_flags,
    )

    from pyspark.sql.window import Window

    docs = synthetic.load_table(spark, sf_dir, "documents")
    flags = quality_filter_flags(F.col("text"))
    kept = docs.where(flags["keep"]).select(
        "doc_id",
        F.md5("text").alias("digest"),
        flags["n_tokens"].alias("n_tokens"),
    )
    # one scan, one shuffle: representative + copy count via a window
    # over the digest partition (the join-back form scans the corpus
    # twice and shuffles twice — at corpus scale that is the bill)
    w = Window.partitionBy("digest")
    return (
        kept.withColumn("n_copies", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("min_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("min_id"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "digest",
            "n_copies",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping 32-token windows (8-token
    overlap) per document, one generator projection, no joins."""
    from amazon_personalize_connectors_spark.functions.text import chunk_documents

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        F.col("id").cast("bigint").alias("id"),
        "chunk_no", "n_tokens", "chunk_text",
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document."""
    from amazon_personalize_connectors_spark.functions.text import (
        repetition_signals,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return repetition_signals(docs).select(
        F.col("id").cast("bigint").alias("id"),
        "n_tokens",
        "top_unigram_frac",
        "top_bigram_frac",
        "flag_repetitive",
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SimHash near-dup candidate pairs with exact Hamming
    filter — the pairing operator the signature feeds."""
    from amazon_personalize_connectors_spark.functions.dedup import (
        simhash_neardup_pairs,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, max_hamming=16).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "hamming",
    )


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search (nprobe=1): queries score only their assigned
    inverted list."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        ivf_probe_topk,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_probe_topk(emb, queries_df, k=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank", "score",
    )


def q_hybrid_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid text+vector pipeline: the quality filter prunes the
    corpus FIRST (documents and embeddings share the id key), then
    exact cosine top-3 runs over only the surviving vectors — the
    filter-before-expensive-stage composition a cleaning pipeline
    uses."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        brute_force_topk,
    )
    from amazon_personalize_connectors_spark.functions.text import (
        quality_filter_flags,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    flags = quality_filter_flags(F.col("text"))
    kept_ids = docs.where(flags["keep"]).select(F.col("doc_id").alias("vec_id"))
    emb = synthetic.load_table(spark, sf_dir, "embeddings").join(
        F.broadcast(kept_ids), "vec_id"
    )
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return brute_force_topk(emb, queries_df, k=3).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank", "score",
    )


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement round from the label-seeded centroids:
    reassign every vector, recompute per-cluster integer sums."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        kmeans_refine_sums,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    return kmeans_refine_sums(emb, iters=1).select(
        F.col("block").cast("bigint").alias("block"), "dim", "sum_e6", "n"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for sampled query vectors."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        brute_force_topk,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return brute_force_topk(emb, queries_df, k=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank", "score",
    )


def q_ann_topk_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage partial top-k (huge-corpus path): per-batch numpy
    pruning + Catalyst re-score. Same oracle as ann_topk — the result
    is identical to the window form by construction."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        brute_force_topk_partial,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return brute_force_topk_partial(emb, queries_df, k=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank", "score",
    )


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8-quantized ANN top-5: per-dim min/max scalar quantization to
    8-bit codes (4x less memory traffic per vector), then exact int64
    dot products of the codes — a pure-integer ranking that is
    bit-reproducible across engines. The quantizer stats are a
    dim-row tiny table re-entered as literal arrays, so quantization
    itself is one codegen projection with zero joins."""
    from amazon_personalize_connectors_spark.functions.similarity import sq8_topk

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return sq8_topk(emb, queries_df, k=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank", "qdot",
    )


def q_sq8_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalized SQ8 ANN top-5 (functions/similarity.py:
    sq8_cosine_topk — the BASELINE.md SI finding made executable,
    round 8): floor(127*v_d/||v||) codes make the symmetric int dot a
    1-byte-per-dim COSINE estimate — recall@5 0.930 at sf0.1 where
    min-max SQ8's offset-dominated dot measures 0.03. Exact int64
    scores, (qdot desc, n_id asc) ties; the oracle replays codes and
    ranking bit-for-bit (norm/scale/floor are row-local IEEE
    expressions both engines compute identically)."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        sq8_cosine_topk,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return sq8_cosine_topk(emb, queries_df, k=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank", "qdot",
    )


def q_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction multi-vector retrieval (functions/similarity.py:
    maxsim_topk — the MaxSim operator of ColBERT, Khattab & Zaharia,
    SIGIR 2020; round 8): the embeddings table regroups into 8-token
    documents (doc_id = vec_id DIV 8, tok = vec_id % 8), every 10th
    document is a query bag, and score(q, d) = Σ over q's tokens of
    the max exact-int dot against d's tokens — term-level matching
    the single-vector ANN family cannot express (pooling erases it).
    Corpus tokens never shuffle for scoring (query bags broadcast);
    exact int64 dots/maxima/sums on the shared floor(v·10⁶) grid,
    (score desc, doc asc) ties, self-match excluded — the oracle
    replays scoring bit-for-bit. Top-5 docs per query."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        maxsim_topk,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    toks = emb.select(
        F.expr("CAST(vec_id DIV 8 AS BIGINT)").alias("doc_id"),
        (F.col("vec_id") % 8).cast("bigint").alias("tok"),
        "embedding",
    )
    q_toks = toks.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("q_id"), "tok", "embedding"
    )
    return maxsim_topk(toks, q_toks, k=5, exclude_self=True)


def q_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage late-interaction serving architecture
    (functions/similarity.py:maxsim_rescore — ColBERT's retrieve-then-
    rerank, round 8): stage 1 retrieves each query's top-20 documents
    by exact POOLED dot product (pooling = per-dim SUM of the bag's
    floor(v·10⁶) int tokens — associative, so partition-order-proof
    where a float mean is not); stage 2 re-scores exactly those
    (q, doc) pairs with exact MaxSim and re-ranks. Stage 2's joins are
    all equi-keyed (candidates ⋈ doc tokens on doc_id, ⋈ query tokens
    on q_id) — the corpus-scale-query-set shape maxsim_topk's
    broadcast cannot serve. Emits rescored rank + score per surviving
    pair; the oracle replays pooling, retrieval, and rescoring
    bit-for-bit."""
    from pyspark.sql import Window

    from amazon_personalize_connectors_spark.functions.similarity import (
        maxsim_rescore,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    toks = emb.select(
        F.expr("CAST(vec_id DIV 8 AS BIGINT)").alias("doc_id"),
        (F.col("vec_id") % 8).cast("bigint").alias("tok"),
        "embedding",
    )
    pooled = toks.select(
        "doc_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.floor(v * F.lit(1000000.0)).cast("bigint"),
        ).alias("qv"),
    ).select("doc_id", F.posexplode("qv").alias("dim", "iv")).groupBy(
        "doc_id", "dim"
    ).agg(
        F.sum("iv").alias("s")
    ).groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("s")))
        ).alias("_ds")
    ).select(
        "doc_id", F.transform(F.col("_ds"), lambda x: x["s"]).alias("pv")
    )
    q_pooled = pooled.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("q_id"), F.col("pv").alias("q_pv")
    )
    from amazon_personalize_connectors_spark.functions.similarity import (
        _iqdot,
    )

    w20 = Window.partitionBy("q_id").orderBy(F.desc("pdot"), F.asc("doc_id"))
    cand = (
        pooled.join(F.broadcast(q_pooled), F.col("doc_id") != F.col("q_id"))
        .select(
            "q_id",
            "doc_id",
            _iqdot(F.col("pv"), F.col("q_pv")).alias("pdot"),
        )
        .withColumn("_rn", F.row_number().over(w20))
        .where(F.col("_rn") <= 20)
        .select("q_id", "doc_id")
    )
    q_toks = toks.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("q_id"), "tok", "embedding"
    )
    return maxsim_rescore(cand, toks, q_toks)


def q_maxsim_ann_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full late-interaction SERVING stack (round 8): token-level ANN
    retrieval feeding exact MaxSim re-scoring — the production shape
    of the maxsim family (maxsim_topk documents why the exhaustive
    form cannot take corpus-scale query sets). Stage 1: every query
    TOKEN probes the corpus token table through sq8_cosine_topk (the
    §I recall winner at 1 byte/dim) for its top-10 token matches;
    matches map to their parent documents (vec DIV 8) and union into
    a bounded candidate list per query. Stage 2: maxsim_rescore
    computes the exact late-interaction score for exactly those
    (q, doc) pairs — equi-keyed joins end to end. The oracle replays
    unit codes, the token probe, the doc mapping, and the rescore
    bit-for-bit."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        maxsim_rescore,
        sq8_cosine_topk,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    toks = emb.select(
        F.expr("CAST(vec_id DIV 8 AS BIGINT)").alias("doc_id"),
        (F.col("vec_id") % 8).cast("bigint").alias("tok"),
        "embedding",
    )
    q_tok_vecs = emb.where(
        F.expr("CAST(vec_id DIV 8 AS BIGINT)") % 10 == 0
    )
    token_hits = sq8_cosine_topk(emb, q_tok_vecs, k=10)
    cand = (
        token_hits.select(
            F.expr("CAST(q_id DIV 8 AS BIGINT)").alias("q_id"),
            F.expr("CAST(n_id DIV 8 AS BIGINT)").alias("doc_id"),
        )
        .where(F.col("q_id") != F.col("doc_id"))
        .distinct()
    )
    q_toks = toks.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("q_id"), "tok", "embedding"
    )
    return maxsim_rescore(cand, toks, q_toks)


def q_maxsim_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector SEMANTIC near-dup detection (round 8) — the
    late-interaction closing of the dedup family: two documents are
    near-dups when every token of one has a strong match in the other,
    i.e. the SYMMETRIZED MaxSim (min of the two directed scores, each
    normalized by its query-side token count) clears a threshold.
    Token-level candidates are LSH-BLOCKED, never all-pairs (the house
    near-dup discipline — rp_lsh_pairs' 6-bit cosine signature over
    exact int dots): two documents become a candidate pair when ANY
    token of one shares a bucket with ANY token of the other, a
    construction that is symmetric by definition, so both directed
    MaxSims always exist. On a real corpus a threshold flags dup
    pairs; the fixture is isotropic (no true dups), so the query emits
    the TOP-20 pairs by the symmetrized score — deterministic and
    nonempty at every SF (a fixed threshold would pass vacuously on
    both engines with zero rows). Emits (id_a, id_b, score_ab,
    score_ba, sym_rank) — exact int64 scores; the oracle replays
    signatures, blocking, rescore, symmetrization, and ranking."""
    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    return _maxsim_neardup_pipeline(emb, n_bits=6)


def _maxsim_neardup_pipeline(emb: DataFrame, n_bits: int) -> DataFrame:
    """Shared multi-vector near-dup pipeline: token RP-LSH blocking →
    pair-capped bucket self-join → exact MaxSim rescore → min-
    symmetrized, stratified top-20 (see q_maxsim_neardup for the full
    story; q_maxsim_neardup_clustered runs the same pipeline on the
    anisotropic fixture with auto-sized signature width)."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        _iqdot,
        _pair_cap_filter,
        rp_lsh_buckets,
    )

    toks = emb.select(
        F.expr("CAST(vec_id DIV 8 AS BIGINT)").alias("doc_id"),
        (F.col("vec_id") % 8).cast("bigint").alias("tok"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.floor(v * F.lit(1000000.0)).cast("bigint"),
        ).alias("qv"),
    )
    bk = rp_lsh_buckets(emb, n_bits=n_bits)
    # executable pair cap on the token-bucket self-join (ADVICE r8):
    # the same LSH-self-join shape _pair_cap_filter guards in
    # rp_lsh_pairs/hnsw — fail loudly before the candidate blowup
    # materializes instead of melting silently at larger SFs
    bk = _pair_cap_filter(bk, ["bucket"], 50_000_000, "maxsim_neardup")
    ta = bk.select(
        "bucket", F.expr("CAST(id DIV 8 AS BIGINT)").alias("id_a")
    )
    tb = bk.select(
        "bucket", F.expr("CAST(id DIV 8 AS BIGINT)").alias("id_b")
    )
    # UNORDERED candidate pairs (a < b): bucket sharing is symmetric by
    # construction, so the ordered form just doubled everything — and
    # with one (a, b) orientation, every 8×8 token dot matrix is
    # computed ONCE and both directed MaxSims fold out of it (r9 —
    # maxsim_rescore over the symmetric candidate set computed each
    # matrix twice, once per direction; this halves the dominant
    # scoring stage with bit-identical int64 results).
    cand = (
        ta.join(tb, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = (
        cand.join(
            toks.select(
                F.col("doc_id").alias("id_a"),
                F.col("tok").alias("_tka"),
                F.col("qv").alias("_qva"),
            ),
            "id_a",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("id_b"),
                F.col("tok").alias("_tkb"),
                F.col("qv").alias("_qvb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "_tka",
            "_tkb",
            _iqdot(F.col("_qva"), F.col("_qvb")).alias("dot"),
        )
    )
    # two-level fold, ONE pass over the dots: level 1 groups on
    # (pair, b-token) — each row is the dot-matrix row for that
    # b-token (m{i} = dot(a-token i, b-token)), with m_tb its max;
    # level 2 derives BOTH directed MaxSims:
    #   score_ba = Σ_tb  max_ta dot   = sum(m_tb)
    #   score_ab = Σ_ta  max_tb dot   = Σ_i max over tb-rows of m{i}
    # (coalesce(·, 0) only fires when a-token i does not exist —
    # boundary docs have < 8 tokens — never to clamp a negative best).
    from pyspark.sql import Window

    lvl1 = pairs.groupBy("id_a", "id_b", "_tkb").agg(
        F.max("dot").alias("m_tb"),
        *[
            F.max(F.when(F.col("_tka") == i, F.col("dot"))).alias(f"m{i}")
            for i in range(8)
        ],
    )
    sym = lvl1.groupBy("id_a", "id_b").agg(
        (
            sum(
                F.coalesce(F.max(F.col(f"m{i}")), F.lit(0))
                for i in range(8)
            )
        )
        .cast("bigint")
        .alias("score_ab"),
        F.sum("m_tb").cast("bigint").alias("score_ba"),
    )
    # partial top-20 per id_a-hash stratum BEFORE the global merge
    # (ADVICE r8): the previous single global Window.orderBy funneled
    # every candidate pair through one partition; each stratum's
    # global winners are inside its own top-20, so pruning first is
    # lossless and the final ordered window sees ≤ 32·20 rows
    ordering = [
        F.desc(F.least(F.col("score_ab"), F.col("score_ba"))),
        F.asc("id_a"),
        F.asc("id_b"),
    ]
    w_part = Window.partitionBy("_g").orderBy(*ordering)
    pruned = (
        sym.withColumn("_g", F.pmod(F.col("id_a"), F.lit(32)))
        .withColumn("_pr", F.row_number().over(w_part))
        .where(F.col("_pr") <= 20)
        .drop("_g", "_pr")
    )
    w = Window.orderBy(*ordering)
    return (
        pruned.withColumn("sym_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("sym_rank") <= 20)
        .select("id_a", "id_b", "score_ab", "score_ba", "sym_rank")
    )


def q_maxsim_neardup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector near-dup on the ANISOTROPIC fixture with
    auto-sized LSH width (VERDICT r8 item 2): the isotropic
    embeddings table is the worst case for LSH blocking — no
    structure, so fixed-width buckets grow linearly with the corpus
    and the candidate stage measured 0.85/decade. This query runs the
    SAME pipeline (``_maxsim_neardup_pipeline``) on
    ``synthetic.clustered_embeddings`` — tight 4-document families
    whose COUNT grows with the corpus, the realistic near-dup shape —
    with ``n_bits = auto_n_bits(count, target_bucket=8)``, so the
    signature width grows ~log2(N) and cross-family candidates stay
    ~linear while every family's tokens still collide (its true
    near-dup pairs dominate the top-20 by construction).

    Oracle note: both driver gate SFs (0.001/0.01) hold 500 vectors,
    where auto_n_bits(500, 8) = 6 — the static SQL unrolls 6 bits. At
    sf0.1 (2000 vectors) the Spark side auto-sizes to 8 bits; that SF
    is a SCALE measurement (SCALE_SLOPE.json), not an oracle gate."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        auto_n_bits,
    )

    emb = synthetic.clustered_embeddings(
        synthetic.load_table(spark, sf_dir, "embeddings")
    )
    return _maxsim_neardup_pipeline(
        emb, n_bits=auto_n_bits(emb.count(), target_bucket=8)
    )


def q_ivf_refined_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over Lloyd-REFINED cells (functions/similarity.py:
    refined_centroid_table + ivf_refined_probe_topk, round 8): two
    k-means rounds from the label seeds — whose cells are
    geometrically random (BASELINE.md §I: same-label mean cosine ≈
    the global mean), the measured cause of plain IVF's recall
    collapse — then the standard one-list corpus assignment and an
    nprobe=2 probe. Every intermediate centroid coordinate is
    CAST(sum_e6 AS DOUBLE)/n (one IEEE division of exact ints), so
    the oracle replays seed means, both refine rounds, assignment,
    probe, and ranking bit-for-bit."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        ivf_refined_probe_topk,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_refined_probe_topk(
        emb, queries_df, rounds=2, nprobe=2, k=5
    ).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank",
        "score",
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion: reciprocal-rank fusion (k=60) of the
    exact cosine top-10 and the SQ8-quantized top-10, per query —
    the standard combiner for vector+vector or vector+lexical stacks.
    Both inputs are already ~k rows per query, so the fuse (one outer
    equi-join + one window) never touches corpus-scale data; the
    score is two exact IEEE divisions added in fixed order, hence
    deterministic cross-engine without rounding."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        brute_force_topk,
        rrf_fuse,
        sq8_topk,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    exact = brute_force_topk(emb, queries_df, k=10)
    quant = sq8_topk(emb, queries_df, k=10)
    return rrf_fuse(exact, quant, k=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rrf_rank", "rrf_score",
    )


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search with asymmetric distance: 8
    subspaces x 16 integer-floored centroids; corpus vectors collapse
    to 8 codes, queries stay unquantized and probe a broadcast
    per-query lookup table — one (sub, code) equi-join + one sum per
    pair, all-integer L2 end to end (bit-reproducible). The PQ
    memory dial: m bytes per vector instead of 4*dim at serve time."""
    from amazon_personalize_connectors_spark.functions.similarity import pq_adc_topk

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return pq_adc_topk(emb, queries_df, topk=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank",
        F.col("adist").cast("bigint").alias("adist"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked embedding near-dup pairs (block = label)."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        blocked_near_duplicates,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    return blocked_near_duplicates(emb, min_cosine=0.3).select(
        F.col("block").cast("bigint").alias("block"),
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "score",
    )


def q_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid sums per (block, dim) with exact decimal sums."""
    from amazon_personalize_connectors_spark.functions.similarity import ivf_centroids

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    return ivf_centroids(emb).select(
        F.col("block").cast("bigint").alias("block"),
        F.col("dim").cast("bigint").alias("dim"),
        F.col("sum_e6").cast("bigint").alias("sum_e6"),
        F.col("n").cast("bigint").alias("n"),
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment: nearest centroid per vector."""
    from amazon_personalize_connectors_spark.functions.similarity import ivf_assign

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    return ivf_assign(emb).select(
        F.col("id").cast("bigint").alias("id"),
        F.col("assigned_block").cast("bigint").alias("assigned_block"),
        "score",
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (1h) over the events stream table."""
    ev = synthetic.load_events(spark, sf_dir)
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via window lag."""
    from pyspark.sql.window import Window

    ev = synthetic.load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_session = F.when(
        gap.isNull() | (gap > 1800 * 1000 * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("new_s", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_s").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregate over the props column."""
    ev = synthetic.load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


def q_renest_legacy_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+A1 literal form (window prefix collect + groupBy/max,
    ri:202-214) — checked against the SAME oracle as the flagship to
    prove the idiomatic single-aggregate replacement is equivalent.
    The pipeline body with the legacy re-nest swapped in."""
    ok = _ok_recs(spark, sf_dir)
    mapping = synthetic.user_item_mapping(spark, sf_dir)
    decorated = decorate_items(
        ok,
        synthetic.item_metadata(spark, sf_dir),
        key_cols=[("input.itemId", "queryItemId")],
        metadata_fields=_CONNECTOR.item_metadata_fields or None,
        legacy_window_mode=True,
        max_recommendations=_CONNECTOR.max_recommendations,
    )
    decorated = attribute_users(
        decorated, mapping, recs_item_col="queryItemId"
    ).select("queryItemId", "userId", "recommendations")
    return _flatten_decorated(decorated, ["queryItemId", "userId"]).withColumnsRenamed(
        {"queryItemId": "query_item_id", "userId": "user_id"}
    )


def q_delta_anti_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable delta variant (left-anti join on a record digest) —
    must produce the same rows as subtract-based delta_except.
    The current snapshot is materialized to parquet and read back,
    modeling the real shape (state is a snapshot READ from storage,
    not a live lineage re-derived per branch); recomputing the
    pipeline per branch is what made the naive form 10x slower
    (digest-after-filter breaks exchange reuse). Parquet round-trip
    measured steadier than localCheckpoint, whose block-manager
    blocks compete with shuffle memory.

    r13 (guide §6, VERDICT item 3): the digest is computed ONCE at
    snapshot-write time and stored (``with_record_digests``), so the
    state branch's parquet scan prunes to (user_id, h1, h2) instead
    of every payload column and the current branch never re-hashes —
    ReadSchema evidence in plans/r13/delta_anti_hash_after.txt.
    Result rows identical (equal digests ⇒ equal rows is the
    operator's standing dedup/join assumption; bigint digests
    round-trip parquet exactly)."""
    import tempfile

    from amazon_personalize_connectors_spark.operators.delta import (
        delta_check_stored_digests,
        with_record_digests,
    )

    snap = tempfile.mkdtemp(prefix="apc-delta-snap-")
    with_record_digests(q_flagship_related_flat(spark, sf_dir)).write.mode(
        "overwrite"
    ).parquet(snap)
    current = spark.read.parquet(snap)
    state = current.where(F.col("user_id").cast("bigint") % 2 == 0)
    return delta_check_stored_digests(current, state)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + Arrow-batched decode, ORACLE-CHECKED
    since r8 (closing the VERDICT r7 item 7 rows-only tail): the
    deterministic fake decoder's byte-histogram features are emitted
    as EXACT integer counts (feature_k x n_bytes is integral by
    construction), which DuckDB replays by re-deriving the md5-
    repeated content bytes from hex digits — the decode boundary
    (mapInPandas, MEDIA/FEATURE schemas, batch shape) is unchanged,
    but every byte now lands in a hash-checked bucket instead of a
    rows-only count. crc32 (no DuckDB equivalent) stays pytest-pinned
    in tests/test_multimodal.py."""
    from amazon_personalize_connectors_spark.functions.multimodal import (
        attach_fake_media,
        decode_media,
        fake_decoder,
    )

    part = synthetic.load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("media_id")
    )
    media = attach_fake_media(part.where(F.col("media_id") % 20 == 0), "media_id")
    dec = decode_media(media, decoder=fake_decoder)
    hist = [
        F.round(F.try_element_at("features", F.lit(k + 1)) * F.col("n_bytes"))
        .cast("bigint")
        .alias(f"hist{k}")
        for k in range(8)
    ]
    return dec.select("media_id", "n_bytes", *hist)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join (union+window pattern; Spark has no
    native asof) — each event gets the user's latest prior order.
    Oracle: DuckDB's native ASOF LEFT JOIN. Right side deduped to one
    row per (user, date) so ties are deterministic."""
    from amazon_personalize_connectors_spark.operators.asof import asof_join

    events = synthetic.load_events(spark, sf_dir)
    orders = synthetic.load_table(spark, sf_dir, "orders")
    orders_d = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
        )
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    joined = asof_join(
        events.select("event_id", "user_id", "ts"),
        orders_d,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice", "o_orderdate"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary with exact decimal sums."""
    li = synthetic.load_table(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias(
            "sum_qty"
        ),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias(
            "sum_base_price"
        ),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.count(F.lit(1)).alias("n"),
    )


def q_band_join_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (interval) join, equi-keyed: per order, count and value of
    its lineitems shipped within 60 days of the order date — the
    canonical feature-window shape (equi key bounds the candidate set;
    the band predicate is a post-join filter, no range explosion)."""
    from amazon_personalize_connectors_spark.operators.band import band_join

    orders = synthetic.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = synthetic.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    joined = band_join(
        orders,
        li,
        left_time="o_orderdate",
        right_time="l_shipdate",
        lower_seconds=0,
        upper_seconds=60 * 86400,
        equi_keys=[("o_orderkey", "l_orderkey")],
        how="left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("l_shipdate").alias("n_shipped_60d"),
            F.coalesce(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), F.lit(0)
            )
            .cast("double")
            .alias("value_shipped_60d"),
        )
    )


def q_band_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure band join (NO equi key) via the time-bucket replication
    strategy: for each event, how many platform-wide events landed
    within +/-10 minutes (self-match included, so every count >= 1).
    A naive plan is a cross join; the bucketed plan is one equi join
    on the bucket id with bounded replication."""
    from amazon_personalize_connectors_spark.operators.band import band_join

    events = synthetic.load_events(spark, sf_dir)
    left = events.select(F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts"))
    right = events.select(F.col("event_id").alias("r_event_id"), F.col("ts").alias("r_ts"))
    joined = band_join(
        left,
        right,
        left_time="l_ts",
        right_time="r_ts",
        lower_seconds=-600,
        upper_seconds=600,
    )
    return joined.groupBy(F.col("l_event_id").alias("event_id")).agg(
        F.count(F.lit(1)).alias("n_events_band"),
        F.min("r_event_id").alias("first_event_id"),
    )


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General window-function suite over orders: per-customer rank,
    previous order price (lag), running spend, and share of customer
    total — one window shuffle on the customer key."""
    from pyspark.sql.window import Window

    orders = synthetic.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("o_custkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("order_seq"),
        F.lag(price_dec).over(w).cast("double").alias("prev_price"),
        F.sum(price_dec).over(w_run).cast("double").alias("run_spend"),
        (price_dec / F.sum(price_dec).over(w_all))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("spend_share"),
    )


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti joins (SURVEY §2.4: the reference fakes
    anti-diff with a set-op; the engine uses real join types — no
    column duplication, null-safe, and Catalyst can broadcast them).
    Customers classified by whether they have any open ('O') order."""
    customer = synthetic.load_table(spark, sf_dir, "customer")
    open_orders = (
        synthetic.load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select("o_custkey")
    )
    with_open = customer.join(
        open_orders, customer["c_custkey"] == open_orders["o_custkey"], "left_semi"
    ).select("c_custkey", F.lit("has_open").alias("bucket"))
    without_open = customer.join(
        open_orders, customer["c_custkey"] == open_orders["o_custkey"], "left_anti"
    ).select("c_custkey", F.lit("no_open").alias("bucket"))
    return with_open.unionByName(without_open)


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (columns from values): per user, one column per event
    type with the event count — fixed pivot values so the plan is a
    single pass with no distinct-values pre-query."""
    events = synthetic.load_events(spark, sf_dir)
    types = ["view", "click", "purchase", "add_to_cart", "search"]
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distribution stats per order priority: median and p90 of
    order value (linear-interpolation percentiles over sorted groups)
    plus min/max. Exact percentile = full sort per group; the approx
    (sketch-merge, no sort) alternative is percentile_approx."""
    orders = synthetic.load_table(spark, sf_dir, "orders")
    cents = F.col("o_totalprice").cast("decimal(18,2)") * 100
    return (
        orders.select("o_orderpriority", cents.cast("bigint").alias("cents"))
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(cents, 0.5)").alias("median_cents"),
            F.expr("percentile(cents, 0.9)").alias("p90_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


def q_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row ids in (o_orderdate, o_orderkey) order via
    the two-phase range-partition pattern — no single-task global
    window. Oracle: row_number() OVER (ORDER BY ...) - 1."""
    from amazon_personalize_connectors_spark.operators.ids import add_contiguous_ids

    orders = synthetic.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    return add_contiguous_ids(orders, ["o_orderdate", "o_orderkey"]).select(
        "o_orderkey", F.col("row_id").cast("bigint").alias("row_id")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by tf-idf (integer
    outputs only; the double score orders the window but never leaves
    the query, so cross-engine float formatting can't bite)."""
    from amazon_personalize_connectors_spark.functions.text import tfidf_top_terms

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=5).select(
        F.col("id").cast("bigint").alias("doc_id"),
        "term",
        "tf",
        "df",
        F.col("rank").cast("int").alias("rank"),
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: per-split doc
    counts plus totals — checks the split is exhaustive and disjoint
    (sum of counts == corpus size; no doc id in two splits). Bucket
    assignment itself is xxhash64-based (no SQL-oracle equivalent),
    so the oracle pins the verifiable invariants."""
    from amazon_personalize_connectors_spark.functions.text import hash_split

    docs = synthetic.load_table(spark, sf_dir, "documents")
    splits = hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id"
    )
    parts = [
        df.select(F.lit(name).alias("split"), "doc_id")
        for name, df in splits.items()
    ]
    union = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return union.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
        F.countDistinct("split").alias("n_splits"),
    )

__all__ = [
    "_ok_recs",
    "_decorated_related",
    "_flatten_decorated",
    "q_error_split_ok",
    "q_error_split_errors",
    "q_attribution_join",
    "q_explode_outer",
    "q_decorate_flat",
    "q_renest_ordered",
    "q_renest_capped",
    "q_flagship_related_flat",
    "q_user_pers_flat",
    "q_delta_except",
    "q_payload_pivot",
    "q_topk_slice",
    "q_stamp_literals",
    "q_text_tokens",
    "q_text_quality",
    "q_lang_profile",
    "q_doc_fingerprint",
    "q_dedup_exact",
    "q_ngram_jaccard_pairs",
    "q_neardup_components",
    "q_neardup_triangles",
    "q_ngram_jaccard_materialized",
    "q_minhash_lsh",
    "q_simhash",
    "q_simhash64",
    "q_state_digest_update",
    "_QUALITY_FLAG_COLS",
    "q_quality_filter",
    "q_llm_corpus_survivors",
    "q_chunk_documents",
    "q_repetition_signals",
    "q_simhash_neardup",
    "q_ivf_probe_topk",
    "q_hybrid_filtered_ann",
    "q_kmeans_refine",
    "q_ann_topk",
    "q_ann_topk_partial",
    "q_ann_quantized",
    "q_sq8_cosine_topk",
    "q_maxsim_multivector",
    "q_maxsim_rerank",
    "q_maxsim_ann_pipeline",
    "q_maxsim_neardup",
    "_maxsim_neardup_pipeline",
    "q_maxsim_neardup_clustered",
    "q_ivf_refined_probe",
    "q_rrf_fusion",
    "q_pq_adc",
    "q_embedding_neardup",
    "q_ivf_centroids",
    "q_ivf_assign",
    "q_events_hourly",
    "q_events_sessionize",
    "q_events_props",
    "q_renest_legacy_window",
    "q_delta_anti_hash",
    "q_multimodal_decode",
    "q_asof_join",
    "q_lineitem_pricing",
    "q_band_join_features",
    "q_band_join_bucketed",
    "q_window_analytics",
    "q_semi_anti_join",
    "q_pivot_events",
    "q_percentiles",
    "q_contiguous_ids",
    "q_tfidf_top_terms",
    "q_hash_split",
]
