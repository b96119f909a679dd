"""Deduplication operators for large-scale training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, and SimHash.

Design for 100 TB: every variant reduces the problem to *hash-keyed
shuffles* (group-by or equi-join on a digest/bucket) — never a cross
join. Exact dedup groups on a 128-bit digest; Jaccard joins on rare
shingles; MinHash-LSH joins on band buckets; SimHash groups on the
16-bit signature. All are built-in Catalyst expressions (md5, higher-
order array functions, bit ops) — no Python in the hot path.

Hashes are md5-hex based (not xxhash) so results are reproducible
across engines — the DuckDB oracles compute the identical signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.functions.text import tokens


def text_digest(text: Column) -> Column:
    """Exact-dedup key: md5 of the raw text."""
    return F.md5(text)


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by content digest: one row per distinct content
    with the representative (minimum) id and the duplicate count.
    One hash-aggregate shuffle on the digest — at 100 TB this is the
    canonical map-side-combinable dedup."""
    return (
        df.groupBy(text_digest(F.col(text_col)).alias("digest"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the tokenized text.

    One ``slice`` per window instead of n element gets: higher-order
    lambdas are interpreted per element, so halving the expression
    work inside the lambda measurably halves corpus scan time (2.3x
    at sf0.1). When the per-doc ARRAY isn't needed downstream, prefer
    ``gram_table`` — its explode + flat projection runs in whole-stage
    codegen and is another ~3x on top."""
    toks = tokens(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def gram_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, g) word n-gram table, duplicates KEPT — the corpus-scale
    shingle generator. Explodes the window-start sequence and builds
    each gram with flat ``slice`` + ``concat_ws`` expressions, so the
    whole pipeline is generate + projection inside whole-stage codegen
    — no interpreted per-element lambda, no shuffle (6.5x over the
    array-building form at sf0.1). Dedup downstream inside whatever
    aggregate consumes the grams (map-side combinable) instead of
    per-row ``array_distinct``."""
    with_t = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    ex = with_t.select(
        "id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("t") - n, F.lit(0)))
        ).alias("i"),
    )
    return ex.select(
        "id", F.concat_ws(" ", F.slice("t", F.col("i") + 1, n)).alias("g")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_common: int = 2,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Candidate near-dup pairs by n-gram overlap.

    Explode shingles → drop shingles appearing in more than
    ``max_shingle_df`` docs (stop-shingle blocking: a shingle shared by
    thousands of docs generates quadratic pairs while carrying no
    near-dup signal — standard at scale) → self-join on shingle →
    count common shingles per pair → integer threshold + exact Jaccard
    from the per-doc shingle counts.

    Returns (id_a, id_b, common, union_size, jaccard) with id_a < id_b.

    Deliberately NOT cached: measured at sf0.1, persisting the
    exploded shingle table costs more than re-running the tokenizer
    for each broadcast build (cache write + a stats-opaque cache
    boundary that degrades AQE's join planning). At corpus scale use
    ``ngram_jaccard_pairs_materialized`` — tokenize once, write the
    hashed shingle table to parquet (optionally bucketed), self-join
    that.
    """
    # shingle strings collapse to 64-bit hashes before any shuffle:
    # the group-by and self-join then move/compare 8-byte longs rather
    # than multi-word strings (collision odds ~n^2/2^64 — harmless for
    # candidate generation, and deterministic).
    sh = _rare_hashed_shingles(df, text_col, id_col, n, max_shingle_df)
    return _pairs_from_shingle_table(sh, min_common)


def _rare_hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, max_shingle_df: int
) -> DataFrame:
    """(id, n_shingles, shingle:int64) with stop-shingles removed.

    r13 (guide §1.2/§4 — the r10 simhash form-switch precedent): the
    shingle set is built by ``gram_table`` (explode + flat slice/
    concat projection, pure whole-stage codegen) followed by a
    (id, shingle-hash) DISTINCT, instead of the per-row interpreted
    ``transform``+``array_distinct`` HOF of ``word_shingles`` — the
    HOF lambda is evaluated per ELEMENT outside codegen and the old
    form re-ran it for every consumer branch. Measured at sf0.1:
    the whole pair query 4.4 -> 1.0 s warm (4x), identical rows
    (exceptAll both ways empty). n_shingles (the per-doc DISTINCT
    gram count both Jaccard denominators need) is a window count
    over the distinct table — one extra narrow exchange of 8-byte
    hashes, far cheaper than three interpreted tokenizer passes.
    Same hash-collision assumption as the pair join itself
    (within-doc xxhash64 collisions ~n²/2⁶⁴).

    Kept as an INNER join against the rare set (not a broadcast
    anti-join against the small stop head): measured in r12 the
    anti form is ~45% SLOWER — the inner join's shingle-hash
    exchange is shared with the downstream self-join
    (ReusedExchange)."""
    sh = (
        gram_table(df, text_col, id_col, n)
        .select("id", F.xxhash64("g").alias("shingle"))
        .distinct()
        .withColumn(
            "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_shingle_df)
        .select("shingle")
    )
    return sh.join(rare, "shingle")


def _pairs_from_shingle_table(sh: DataFrame, min_common: int) -> DataFrame:
    """Self-join half of ``ngram_jaccard_pairs`` over a prepared
    (id, n_shingles, shingle) table."""
    a = sh.select(
        F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"), "shingle"
    )
    b = sh.select(
        F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    union_size = F.col("n_a") + F.col("n_b") - F.col("common")
    return pairs.select(
        "id_a",
        "id_b",
        F.col("common").cast("bigint").alias("common"),
        union_size.cast("bigint").alias("union_size"),
        (F.col("common") / union_size).alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_common: int = 2,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Sub-document duplication by DIRECTIONAL containment: for each
    candidate pair, C(A in B) = |A ∩ B| / |A| and C(B in A) — the
    asymmetric cousin of Jaccard that catches a short document pasted
    inside a long one (Jaccard stays low because the union is big;
    containment of the short side goes to 1). Same candidate
    machinery as ``ngram_jaccard_pairs`` (hashed rare-shingle
    equi-join — the stop-shingle cap keeps fan-out linear), so the
    extra metric costs nothing new at scale: both directions come off
    the one aggregated pair row as integer/integer divisions.

    Numerator AND denominators are computed over the same universe —
    the RARE-shingle subset (document frequency <= max_shingle_df):
    ``common`` can only count rare shingles, so dividing by the raw
    per-doc shingle count would systematically understate containment
    for pairs sharing frequent shingles (a short doc pasted into many
    long docs would never reach 1). The per-doc rare count is a
    window over the doc-id partition — per-doc work, bounded by doc
    size, scale-safe.

    Returns (id_a, id_b, common, n_a, n_b, c_a_in_b, c_b_in_a) with
    id_a < id_b; n_a/n_b are rare-shingle counts."""
    sh = _rare_hashed_shingles(df, text_col, id_col, n, max_shingle_df)
    sh = sh.withColumn(
        "n_rare", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    a = sh.select(
        F.col("id").alias("id_a"), F.col("n_rare").alias("n_a"), "shingle"
    )
    b = sh.select(
        F.col("id").alias("id_b"), F.col("n_rare").alias("n_b"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("common").cast("bigint").alias("common"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (F.col("common") / F.col("n_a")).alias("c_a_in_b"),
        (F.col("common") / F.col("n_b")).alias("c_b_in_a"),
    )


def ngram_jaccard_pairs_materialized(
    spark,
    df: DataFrame,
    work_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_common: int = 2,
    max_shingle_df: int = 100,
    buckets: int = 0,
    table_name: str = "apcs_shingles",
) -> DataFrame:
    """``ngram_jaccard_pairs`` with the shingle table tokenized ONCE and
    materialized to parquet before the self-join — the 100 TB form.

    The recompute form tokenizes the corpus three times (rare-shingle
    aggregate + both self-join sides); here the tokenizer and the
    stop-shingle filter run once, and both join sides scan an 8-byte-
    hash parquet table that is a fraction of the raw corpus size.

    ``buckets > 0`` additionally writes the table bucketed by
    ``shingle`` (saveAsTable) so the self-join and the pair aggregate
    read pre-partitioned data — zero shuffle of the shingle table at
    any scale (the pair group-by still shuffles, keyed on doc pairs).

    Returns the same (id_a, id_b, common, union_size, jaccard) frame.
    """
    # materialize the RAW hashed table (before the rare filter): the
    # tokenizer+explode runs exactly once; the stop-shingle aggregate,
    # its join, and both self-join sides all scan the narrow
    # (id, n_shingles, shingle:int64) parquet instead.
    # r13: built through gram_table + distinct (codegen) rather than
    # the interpreted word_shingles HOF — same rows, same reasoning
    # as _rare_hashed_shingles above.
    sh_raw = (
        gram_table(df, text_col, id_col, n)
        .select("id", F.xxhash64("g").alias("shingle"))
        .distinct()
        .withColumn(
            "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    )
    if buckets > 0:
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        (
            sh_raw.write.mode("overwrite")
            .format("parquet")
            .option("path", work_path)
            .bucketBy(buckets, "shingle")
            .sortBy("shingle")
            .saveAsTable(table_name)
        )
        mat = spark.table(table_name)
    else:
        sh_raw.write.mode("overwrite").parquet(work_path)
        mat = spark.read.parquet(work_path)
    rare = (
        mat.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_shingle_df)
        .select("shingle")
    )
    return _pairs_from_shingle_table(mat.join(rare, "shingle"), min_common)


def neardup_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: the step
    that turns pairwise candidates (Jaccard/MinHash/SimHash output)
    into dedup GROUPS — component id = the minimum doc id reachable.

    Iterative min-label propagation: each round every node takes the
    minimum of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup clusters are shallow).
    Each round is one equi-join + one map-side-combinable min
    aggregate; labels are localCheckpoint'ed per round so lineage
    stays flat, and the loop stops at the first fixpoint (a tiny
    changed-row count per round — the iterative-algorithm pattern,
    same family as kmeans_refine_sums).

    Returns (id, component).
    """
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    for i in range(max_iters):
        neigh_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(
            neigh_min, labels["id"] == neigh_min["src"], "left"
        ).select(
            labels["id"],
            F.col("label").alias("old"),
            F.least(
                F.col("label"), F.coalesce("nlabel", F.col("label"))
            ).alias("label"),
        )
        # r12 pointer jump (Shiloach–Vishkin style shortcutting, guide
        # §1.2 "fix the algorithm first"): compose each node's label
        # with its LABEL'S label — labels are node ids and only ever
        # decrease toward the component minimum, so the composition is
        # always the min over a reachable subset and the FIXPOINT is
        # untouched (neighbor-min alone defines it; the oracle's WITH
        # RECURSIVE closure checks exactly that fixpoint). Effect:
        # label information doubles its reach per round — O(log
        # diameter) rounds instead of O(diameter). Measured on the
        # sf0.1 ε-graph (diameter > 20): 20 rounds (unconverged at the
        # iteration cap) → 5 rounds to a verified fixpoint.
        jumped = stepped.alias("s").join(
            stepped.select(
                F.col("id").alias("_jid"), F.col("label").alias("_jlabel")
            ).alias("j"),
            F.col("s.label") == F.col("j._jid"),
            "left",
        )
        # changed-row count rides the checkpoint job via observe() —
        # ONE job per round instead of checkpoint + count
        obs = Observation(f"cc_round_{i}")
        new_labels = (
            jumped.select(
                F.col("s.id").alias("id"),
                F.col("s.old").alias("old"),
                F.least(
                    F.col("s.label"),
                    F.coalesce(F.col("j._jlabel"), F.col("s.label")),
                ).alias("label"),
            )
            .observe(obs, F.count_if(F.col("label") != F.col("old")).alias("changed"))
            .drop("old")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if int(obs.get["changed"]) == 0:
            break
    return labels.select("id", F.col("label").alias("component"))


def minhash_signature(shingles: Column, num_hashes: int = 6) -> list[Column]:
    """MinHash signature: for seed s, min over shingles of
    md5('<s>|' + shingle). Hex-string min == numeric min (fixed-width
    lowercase hex), so the signature is engine-portable."""
    return [
        F.array_min(
            F.transform(shingles, lambda sh: F.md5(F.concat(F.lit(f"{s}|"), sh)))
        ).alias(f"mh{s}")
        for s in range(num_hashes)
    ]


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 6,
    band_size: int = 2,
) -> DataFrame:
    """LSH candidate pairs: band the signature (rows of ``band_size``
    mins), bucket-join per band, dedup pairs across bands.

    Returns (id_a, id_b, n_shared_bands). Probability a pair with
    Jaccard j collides: 1-(1-j^band_size)^(num_hashes/band_size).
    The join key is (band_index, band_digest) — high entropy, no skew,
    and never a cross join.
    """
    bands = minhash_band_table(
        df, text_col, id_col, n, num_hashes, band_size
    )
    a = bands.select(F.col("id").alias("id_a"), "band", "bucket")
    b = bands.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    )


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 6,
    band_size: int = 2,
) -> DataFrame:
    """(id, band, bucket) LSH band table — the shared core of the
    batch candidate generator above and the STREAMING near-dup
    monitor (streaming/neardup_monitor.py), whose law is exactly
    "band tables are a per-doc map, so candidates over a union ==
    union of cross-batch bucket joins".

    Signature via explode + groupBy-min rather than per-row
    array-fold expressions: the inlined higher-order tree (6 x
    array_min(transform(distinct(transform(...))))) blows up
    whole-stage codegen compile time, and at scale the exploded
    shingle table is the shape you want anyway (map-side combinable
    min aggregates, one shuffle keyed by doc id).

    r13: grams come from ``gram_table`` (codegen explode, duplicates
    KEPT) instead of ``word_shingles``' interpreted per-row
    ``array_distinct`` HOF — a min aggregate is duplicate-
    insensitive (min over the gram multiset == min over the distinct
    set), so the signatures are bit-identical while the corpus scan
    drops its only interpreted lambda."""
    num_bands = num_hashes // band_size
    sh = gram_table(df, text_col, id_col, n).withColumnRenamed(
        "g", "shingle"
    )
    sig = sh.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"mh{s}")
            for s in range(num_hashes)
        ]
    )
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * band_size + r}") for r in range(band_size)]
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def _simhash_bit_sums(text: Column, hex_offsets: list[tuple[int, int]]) -> Column:
    """Per-bit signed occurrence sums, single pass over the tokens.

    ``hex_offsets`` lists (start, bits) slices of the token's md5 hex
    digest; each slice contributes ``bits`` signature bits. Work is
    O(n_tokens * n_bits) integer ops after ONE md5 per token — the
    frequency weighting falls out of summing over occurrences (equal to
    the textbook sum over distinct tokens weighted by count, without
    the O(distinct * n) rescan per bit).

    Returns an array<bigint> of length sum(bits): element i >= 0 means
    signature bit i is 1.
    """
    toks = tokens(text)
    n_bits = sum(b for _, b in hex_offsets)

    def words(t: Column) -> Column:
        # one md5 per token; each (start, bits) hex slice parses once
        h = F.md5(t)
        return F.array(
            *[
                F.conv(F.substring(h, start, bits // 4), 16, 10)
                .cast("bigint")
                .alias(f"w{k}")
                for k, (start, bits) in enumerate(hex_offsets)
            ]
        )

    def bits_of(w: Column) -> Column:
        # per-token ±1 contributions for every signature bit
        out = []
        for k, (_, bits) in enumerate(hex_offsets):
            word = F.get(w, k)
            out += [
                (F.shiftright(word, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("bigint")
                for i in range(bits)
            ]
        return F.array(*out)

    contrib = F.transform(F.transform(toks, words), bits_of)
    return F.aggregate(
        contrib,
        F.array_repeat(F.lit(0).cast("bigint"), n_bits),
        lambda acc, b: F.zip_with(acc, b, lambda a, x: a + x),
    )


def simhash16(text: Column) -> Column:
    """16-bit SimHash over tokens: token hash = first 4 hex digits of
    md5 as an int; each bit contributes ±1 per token occurrence
    (= ±count per distinct token); signature bit i is 1 iff the
    weighted sum >= 0.

    Near-dup docs differ in few bits (compare with
    ``bit_count(a ^ b)``). 16 bits keeps the oracle SQL tractable;
    ``simhash64`` is the full-width form.
    """
    sums = _simhash_bit_sums(text, [(1, 16)])
    sig = F.lit(0).cast("bigint")
    for i in range(16):
        sig = sig + F.when(
            F.get(sums, i) >= 0, F.lit(1 << i).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return sig


def _simhash_table(
    df: DataFrame, text_col: str, id_col: str, hex_offsets: list[tuple[int, int]]
) -> DataFrame:
    """Corpus-scale SimHash: explode tokens, then ONE hash aggregate
    with an integer sum per signature bit — all inside whole-stage
    codegen with map-side partial combine (the per-row column forms
    fold arrays through interpreted higher-order lambdas; fine for
    ad-hoc columns, this is the shape whose per-token cost stays
    JVM-compiled as the corpus grows). ``hex_offsets`` is the same
    (md5-hex start, bits) slice list ``_simhash_bit_sums`` takes, so
    the two code paths hash identically by construction — the
    bit-identity laws are pinned in tests/test_functions.py.

    The top bit of a 64-wide signature contributes -2^63 (the SIGNED
    encoding ``simhash64`` documents); narrower widths fit unsigned.
    Tokenless docs vanish at the explode and are restored with the
    all-ones signature (zero sums -> every bit set), matching the
    column forms' convention."""
    n_bits = sum(b for _, b in hex_offsets)
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    h = F.md5("tok")
    words = toks.select(
        "id",
        *[
            F.conv(F.substring(h, start, bits // 4), 16, 10)
            .cast("bigint")
            .alias(f"w{k}")
            for k, (start, bits) in enumerate(hex_offsets)
        ],
    )
    # global bit i -> (word k, local shift), walking slices in order
    bit_word: list[tuple[int, int]] = []
    for k, (_, bits) in enumerate(hex_offsets):
        bit_word += [(k, j) for j in range(bits)]
    sums = words.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"w{k}"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{i}")
            for i, (k, j) in enumerate(bit_word)
        ]
    )
    def _weight(i: int) -> int:
        return -(1 << 63) if (i == 63 and n_bits == 64) else (1 << i)

    sig = F.lit(0).cast("bigint")
    for i in range(n_bits):
        sig = sig + F.when(
            F.col(f"s{i}") >= 0, F.lit(_weight(i)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    with_sig = sums.select("id", sig.alias("sig"))
    all_ones = sum(_weight(i) for i in range(n_bits))
    all_ids = df.select(F.col(id_col).alias("id"))
    return all_ids.join(with_sig, "id", "left").select(
        "id", F.coalesce("sig", F.lit(all_ones).cast("bigint")).alias("sig")
    )


def simhash16_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig) 16-bit SimHash signatures for a whole corpus — the
    scale form of the ``simhash16`` column (same md5 slice), via the
    shared ``_simhash_table`` aggregate. Tokenless docs -> 0xFFFF."""
    return _simhash_table(df, text_col, id_col, [(1, 16)])


def simhash64_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig) 64-bit SimHash signatures for a whole corpus — the
    scale form of ``simhash64`` (same two-word md5 slices, same SIGNED
    bit-63 encoding), via the shared ``_simhash_table`` aggregate.
    Tokenless docs -> -1 (all ones)."""
    return _simhash_table(df, text_col, id_col, [(9, 32), (1, 32)])


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 16,
) -> DataFrame:
    """Near-dup candidate pairs from banded 64-bit SimHash.

    Classic simhash blocking: docs within small Hamming distance must
    agree exactly on at least one of four 16-bit bands (pigeonhole: a
    pair differing in <= 3 bits cannot disagree in all 4 bands; wider
    ``max_hamming`` admits recall loss like any LSH). Band agreement is
    an equi-join on (band_index, band_value) — hash-bucketed shuffle,
    never a cross join — then the exact Hamming distance filters
    candidates via bit_count(xor).

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    sigs = simhash64_table(df, text_col, id_col)
    bands = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), b * 16).bitwiseAND(F.lit(65535))
                    for b in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = bands.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "band_val"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "band_val"
    )
    pairs = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()  # a pair may agree on several bands
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash64(text: Column) -> Column:
    """64-bit SimHash: bits 0-31 from md5 hex digits 9-16, bits 32-63
    from digits 1-8 (two 32-bit words — a single 16-digit conv would
    overflow signed bigint under ANSI mode). The signature is the
    SIGNED 64-bit integer whose unsigned bit pattern is the simhash:
    bit 63 contributes -2^63, so the value round-trips through any
    int64 channel (parquet, DuckDB) unchanged.
    """
    sums = _simhash_bit_sums(text, [(9, 32), (1, 32)])
    sig = F.lit(0).cast("bigint")
    for i in range(63):
        sig = sig + F.when(
            F.get(sums, i) >= 0, F.lit(1 << i).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return sig + F.when(
        F.get(sums, 63) >= 0, F.lit(-(1 << 63)).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))


def decontaminate_ngrams(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``n``-gram with a held-out/benchmark document (the
    GPT-3/PaLM data-prep step that keeps eval sets honest).

    100 TB shape: the benchmark side collapses to DISTINCT n-gram
    hashes — tiny next to the corpus, so it is broadcast and the
    training side never shuffles grams at all: ``gram_table`` (codegen
    generate + projection, duplicates kept), hash to 8 bytes, mark
    hits with a broadcast left join, then ONE aggregate on the doc key
    computes both distinct-gram counts (``count(DISTINCT ...)`` dedups
    inside the agg — map-side partial). 15x over the
    array-shingles-then-join form at sf0.1.

    Returns one row per CONTAMINATED training doc:
    ``(train_id, n_grams, n_hit_grams, hit_frac)`` where ``n_grams``
    is the doc's distinct-gram count and
    ``hit_frac = n_hit_grams / n_grams``.
    """
    tr = gram_table(train, text_col, id_col, n).select(
        F.col("id").alias("train_id"), F.xxhash64("g").alias("gh")
    )
    te = (
        gram_table(test, text_col, id_col, n)
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        tr.join(F.broadcast(te), "gh", "left")
        .groupBy("train_id")
        .agg(
            F.countDistinct("gh").alias("n_grams"),
            F.countDistinct(F.when(F.col("hit"), F.col("gh"))).alias(
                "n_hit_grams"
            ),
        )
        .where(F.col("n_hit_grams") > 0)
        .withColumn("hit_frac", F.col("n_hit_grams") / F.col("n_grams"))
    )


def segment_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 3,
) -> DataFrame:
    """(id, n_segs, i, seg): consecutive non-overlapping token
    segments — the 'lines' of layout-free text. Same codegen shape as
    ``gram_table`` (explode the segment-index sequence + flat
    slice/concat_ws projection); zero-token docs emit no rows."""
    with_t = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    n_segs = F.ceil(F.size("t") / F.lit(seg_tokens)).cast("int")
    idx = F.when(n_segs > 0, F.sequence(F.lit(0), n_segs - 1)).otherwise(
        F.array().cast("array<int>")
    )
    ex = with_t.select(
        "id",
        "t",
        n_segs.cast("bigint").alias("n_segs"),
        F.explode(idx).alias("i"),
    )
    return ex.select(
        "id",
        "n_segs",
        F.col("i").cast("bigint").alias("i"),
        F.concat_ws(
            " ", F.slice("t", F.col("i") * seg_tokens + 1, seg_tokens)
        ).alias("seg"),
    )


def strip_repeated_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 3,
    max_doc_freq: int = 2,
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: drop every segment
    ('line') that appears in more than ``max_doc_freq`` distinct
    documents, then reconstruct each document from its surviving
    segments in order.

    100 TB shape: one map-side-combinable distinct-doc-count
    aggregate keyed by the 8-byte segment hash, equi-join the
    frequency verdict back on that hash, one ordered re-nest
    aggregate per doc. The frequency branch re-segments the corpus
    (column pruning reduces it to tokenize+hash) rather than caching
    — the same measured tradeoff as ngram_jaccard_pairs; at corpus
    scale, materialize the segment table to parquet first and feed
    it to both branches, exactly like
    ngram_jaccard_pairs_materialized. Documents whose every segment
    is boilerplate vanish from the output (fully-templated pages —
    the rows CCNet drops).

    Returns (id, n_segs, n_kept, clean_text).
    """
    segs = segment_table(df, text_col, id_col, seg_tokens).withColumn(
        "sh", F.xxhash64("seg")
    )
    freq = (
        segs.groupBy("sh")
        .agg(F.countDistinct("id").alias("df"))
        .where(F.col("df") <= max_doc_freq)
        .select("sh")
    )
    kept = segs.join(freq, "sh")
    return kept.groupBy("id").agg(
        F.min("n_segs").alias("n_segs"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )


def strip_repeated_segments_materialized(
    spark,
    df: DataFrame,
    work_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 3,
    max_doc_freq: int = 2,
) -> DataFrame:
    """``strip_repeated_segments`` with the segment table written to
    parquet ONCE and read by both the frequency aggregate and the
    reconstruction branch — the corpus-scale form (the recompute
    variant tokenizes the corpus twice). Results are identical; the
    same oracle pins both physical strategies."""
    segment_table(df, text_col, id_col, seg_tokens).withColumn(
        "sh", F.xxhash64("seg")
    ).write.mode("overwrite").parquet(work_path)
    segs = spark.read.parquet(work_path)
    freq = (
        segs.groupBy("sh")
        .agg(F.countDistinct("id").alias("df"))
        .where(F.col("df") <= max_doc_freq)
        .select("sh")
    )
    kept = segs.join(freq, "sh")
    return kept.groupBy("id").agg(
        F.min("n_segs").alias("n_segs"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 2,
    scale: int = 10**12,
    damping_pct: int = 85,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """PageRank over an undirected pair list (near-dup graph), in
    EXACT fixed-point integer arithmetic: ranks are integers scaled by
    ``scale``; every division is an integral ``div`` and the damping
    factor is a percentage, so each iteration is reproducible
    bit-for-bit on any engine and any partitioning — no float
    accumulation order anywhere.

    Per iteration (all shuffles keyed on the node id):
    contribution = rank div degree per directed edge, one
    map-side-combinable sum per destination, then
    rank' = teleport + (damping_pct * in_sum) div 100. The iteration
    count is a driver-side unrolled loop over lazy plans (the
    kmeans_refine pattern); node/degree frames are computed once.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    ).distinct()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    n = nodes.select(F.count(F.lit(1)).alias("__n"))
    teleport = F.expr(f"(({100 - damping_pct} * {scale}) div 100) div __n")
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", "deg", F.expr(f"{scale} div __n").alias("rank")
    )
    for _ in range(n_iter):
        contrib = sym.join(
            ranks.select(F.col("node").alias("src"), "deg", "rank"), "src"
        ).select("dst", F.expr("rank div deg").alias("c"))
        in_sums = contrib.groupBy("dst").agg(F.sum("c").alias("in_sum"))
        ranks = (
            nodes.join(
                in_sums.select(F.col("dst").alias("node"), "in_sum"),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                "deg",
                (
                    teleport
                    + F.expr(
                        f"({damping_pct} * coalesce(in_sum, 0)) div 100"
                    )
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.col("rank").cast("bigint").alias("rank"))


def triangles(edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """Triangle enumeration over the near-dup graph: the clustering-
    density probe that distinguishes tight duplicate cliques from
    chains of marginal matches (a dedup group whose pairs form few
    triangles is usually transitive-closure over-merging).

    Input edges are ordered pairs (a < b), as every pairing operator
    here emits. Two hash equi-joins: wedges (a<b<c) from edges
    (a,b)x(b,c), closed by a LEFT SEMI probe for the (a,c) edge — each
    triangle found exactly once, no DISTINCT pass needed. At web
    scale, rank vertices by degree instead of raw id before the wedge
    join (order hub vertices LAST) to bound per-vertex wedge fan-out;
    the id ordering here is the right default for near-dup graphs,
    whose components are small by construction.
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    closing = e.select(F.col("a"), F.col("b").alias("c"))
    return wedge.join(closing, ["a", "c"], "left_semi").select("a", "b", "c")


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-substring removal (the bounded-gram variant of
    suffix-array substring dedup from the "Deduplicating Training
    Data Makes Language Models Better" recipe): every n-token gram
    occurring in >= ``min_docs`` DISTINCT documents marks its n token
    positions for removal in every document containing it; documents
    are rebuilt from the surviving tokens in order. line_dedup strips
    repeated fixed segments — this strips repeated OVERLAPPING spans,
    which is what catches boilerplate that does not align on segment
    boundaries.

    Scale shape: positional grams hash to 64 bits before any shuffle
    (the ngram_jaccard trick); repeated grams come from one map-side-
    combinable distinct-doc count; coverage explodes n positions per
    repeated occurrence only (repeats are rare by definition); the
    rebuild is one left-anti join + one per-doc sort-collect — the
    line_dedup reconstruction shape. Nothing is quadratic; every join
    is an equi-join on an 8-byte key.

    Returns (id, n_tokens, n_removed, clean_md5): token counts before
    and removed, and the md5 of the cleaned space-joined text (the
    portable value-hash of the rebuilt document; fully-covered docs
    clean to the empty string, not a dropped row).
    """
    with_t = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    pos_tok = with_t.select(
        "id", F.posexplode("t").alias("pos", "tok")
    ).select("id", F.col("pos").cast("bigint").alias("pos"), "tok")
    grams = (
        with_t.where(F.size("t") >= n)
        .select(
            "id",
            "t",
            F.explode(F.sequence(F.lit(0), F.size("t") - n)).alias("i"),
        )
        .select(
            "id",
            F.col("i").cast("bigint").alias("start"),
            F.xxhash64(
                F.concat_ws(" ", F.slice("t", F.col("i") + 1, n))
            ).alias("gh"),
        )
    )
    repeated = (
        grams.groupBy("gh")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gh")
    )
    covered = (
        grams.join(repeated, "gh")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    surviving = pos_tok.join(covered, ["id", "pos"], "left_anti")
    rebuilt = surviving.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("cleaned"),
    )
    stats = with_t.select("id", F.size("t").cast("bigint").alias("n_tokens"))
    return stats.join(rebuilt, "id", "left").select(
        "id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.md5(F.coalesce(F.col("cleaned"), F.lit(""))).alias("clean_md5"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    key_len: int = 24,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs — the classic SNM blocking
    strategy, complementing the shingle/MinHash/SimHash buckets: sort
    the corpus by a cheap blocking key (default: the lowercased text
    prefix), then compare each record ONLY with its ``window - 1``
    successors in sort order, so candidates are linear in corpus size
    regardless of how skewed any one blocking bucket is (SNM's
    advantage over hash blocking: a hot bucket can't go quadratic —
    its overflow simply falls outside the neighborhood).

    Scale shape: the global sort rank comes from
    ``operators/ids.add_contiguous_ids`` (range partition + per-
    partition offsets — never a single-task global window), and the
    neighborhood self-join is the band-join trick: each left row
    duplicates into its own rank bucket ``rid // window`` and the
    next, the join key is the bucket, and the band predicate
    ``0 < rid_b - rid_a < window`` prunes inside bucket pairs — every
    pair appears exactly once (buckets tile the rank axis), and the
    join fan-out is ≤ 2 rows per record.

    Each candidate is verified inline with the EXACT distinct-token
    Jaccard (integer intersection/union sizes, ONE double division) —
    cheap because the pair count is ∝ n·(window−1).

    Returns (id_a, id_b, rank_dist, common, union_size, jaccard)
    with id_a the earlier record in sort order.

    Ref: Hernández & Stolfo's merge/purge sorted-neighborhood method;
    reference connector has no near-dup stage (engine addition)."""
    from amazon_personalize_connectors_spark.functions.text import tokens
    from amazon_personalize_connectors_spark.operators.ids import (
        add_contiguous_ids,
    )

    base = df.select(
        F.col(id_col).alias("_id"),
        F.substring(F.lower(F.col(text_col)), 1, key_len).alias("_k"),
        F.array_distinct(tokens(F.col(text_col))).alias("_t"),
    )
    ranked = add_contiguous_ids(base, ["_k", "_id"], id_name="_rid")
    left = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_rid").alias("_ra"),
        F.col("_t").alias("_ta"),
        F.explode(
            F.array(
                F.expr(f"_rid div {int(window)}"),
                F.expr(f"_rid div {int(window)}") + 1,
            )
        ).alias("_bucket"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_rid").alias("_rb"),
        F.col("_t").alias("_tb"),
        F.expr(f"_rid div {int(window)}").alias("_bucket"),
    )
    pairs = left.join(right, "_bucket").where(
        (F.col("_rb") > F.col("_ra"))
        & (F.col("_rb") - F.col("_ra") < window)
    )
    common = F.size(F.array_intersect("_ta", "_tb")).cast("bigint")
    na = F.size("_ta").cast("bigint")
    nb = F.size("_tb").cast("bigint")
    return pairs.select(
        "id_a",
        "id_b",
        (F.col("_rb") - F.col("_ra")).cast("int").alias("rank_dist"),
        common.alias("common"),
        (na + nb - common).alias("union_size"),
        (
            common.cast("double") / (na + nb - common).cast("double")
        ).alias("jaccard"),
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    n_rounds: int = 6,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """k-core peeling over an undirected pair list: repeatedly drop
    vertices with degree < k (and their edges) for ``n_rounds``
    rounds — the graph-density screen that finds the tightly
    co-purchased (or tightly near-duplicate) nucleus a clustering or
    curriculum step should treat differently from the long tail.

    FIXED-ROUND semantics, deliberately: the true k-core is the fixed
    point of this peel, and extra rounds past convergence are no-ops,
    so the result after ``n_rounds`` is a deterministic UPPER BOUND
    of the k-core that equals it whenever the peel converges within
    the budget — reproducible on any engine without a data-dependent
    loop (the pagerank_fixed_point / kmeans_refine driver-unrolled
    pattern; each round is one map-side-combinable degree aggregate
    plus two semi-joins keyed on the vertex, all lazy).

    Returns the surviving vertices with their residual degree:
    (node, deg)."""
    # localCheckpoint per round (the neardup_components discipline):
    # each round references the previous edge set THREE times (degree
    # aggregate + two semi-joins), so without lineage truncation the
    # unrolled plan recomputes the base graph 3^rounds times.
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    alive = sym
    for _ in range(n_rounds):
        keep = (
            alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .where(F.col("_deg") >= k)
            .select("src")
        )
        alive = (
            alive.join(keep, "src", "leftsemi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "leftsemi")
            .localCheckpoint(eager=True)
        )
    return alive.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )


def bfs_min_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Multi-source BFS over an undirected pair list: minimum hop
    count from any seed, capped at ``max_hops`` — the reachability /
    transitive-closure shape SQL engines express as a recursive CTE
    and Spark SQL cannot (no WITH RECURSIVE): the engine form is a
    driver-unrolled FIXED-DEPTH frontier loop, which is also the form
    that scales — each round touches only frontier×edges, never the
    closure so far, and unreached nodes are never materialized.

    Round discipline (the kcore_peel / neardup_components pattern):
    one frontier⋈edges join + one anti-join against the settled set
    per round, localCheckpoint per round so the unrolled lineage
    stays flat. Hop semantics are exact, not fixed-point-approximate:
    a node's hop count is final the round it is first reached (BFS
    frontier invariant), so ``max_hops`` bounds the RADIUS reported,
    not the accuracy of what is reported.

    Uses: recommendation neighborhoods ("items within 3 co-purchase
    hops of the promoted set"), blast-radius audits over lineage
    graphs, label propagation seeding.

    100-TB shape: edges hash-partition on ``src``; every round's join
    keys on that same column so the shuffle is frontier-sized, and
    the settled set only ever grows by frontier rows. Skewed hub
    vertices fan one round out, the ``distinct`` collapses it back.

    ``seeds``' FIRST column is the node id. Returns (node, hops) with
    hops in [0, max_hops], one row per reached node."""
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        neighbors = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = (
            neighbors.join(dist, "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
            .localCheckpoint(eager=True)
        )
        dist = dist.unionByName(fresh)
        frontier = fresh.select("node")
    return dist


def dup_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    flag_threshold: float = 0.30,
) -> DataFrame:
    """Within-document duplicated-n-gram fraction — the RefinedWeb /
    Gopher "rep" family's distribution-wide member: the share of a
    document's n-gram INSTANCES that are repeats of another instance
    in the same document. ``repetition_signals`` sees only the single
    most frequent gram; this sees all of them, so long multi-phrase
    templates score high even when no one phrase dominates.

        dup_frac = Σ_{g: c_g>1} c_g / Σ_g c_g      (per document)

    Exact bigint counts and a bigint/bigint ratio — oracle-exact.

    Scale shape: ``gram_table`` (explode + flat slice projection,
    whole-stage codegen) feeding ONE map-side-combinable groupBy to
    the (doc, gram) grid and one per-doc aggregate. Documents
    shorter than n tokens contribute their single partial gram
    (gram_table's window formula), so every non-empty document gets
    a row and the fraction is well-defined."""
    g = gram_table(df, text_col=text_col, id_col=id_col, n=n)
    cells = g.groupBy("id", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_doc = cells.groupBy("id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("dup_grams"),
    )
    frac = F.col("dup_grams").cast("double") / F.col("n_grams").cast("double")
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_grams",
        "dup_grams",
        frac.alias("dup_frac"),
        (frac > F.lit(flag_threshold)).alias("flag_repetitive"),
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 8,
) -> DataFrame:
    """Cross-source n-gram overlap matrix — the corpus-level
    contamination audit: for every source pair, how much of one
    source's distinct n-gram vocabulary appears in the other
    (``embedding_decontaminate`` answers this per-document against a
    held-out set; this answers it source-against-source, the first
    question asked when a new crawl slice joins a training mix).

        jaccard(a,b)      = |G_a ∩ G_b| / |G_a ∪ G_b|
        containment_a(a,b) = |G_a ∩ G_b| / |G_a|

    Exact distinct-gram counts (bigint) and bigint ratios.

    Scale shape: distinct (source, gram) vocabulary via one
    map-side-combinable aggregate (instances collapse BEFORE any
    join); the pair stage is an equi-join of that vocabulary with
    itself ON THE GRAM (shuffle keyed by high-entropy gram text —
    no skew), with per-gram fan-out bounded by the number of
    sources squared, and sources are a bounded domain (like the
    reference's dataset groups), never data-sized. No cross join,
    no all-pairs over documents."""
    sg = (
        df.select(
            F.col(source_col).alias("s"),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        )
        .where(F.col("g") != "")
        .distinct()
    )
    sizes = sg.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("n_g"))
    common = (
        sg.alias("a")
        .join(sg.alias("b"), "g")
        .where(F.col("a.s") < F.col("b.s"))
        .groupBy(F.col("a.s").alias("source_a"), F.col("b.s").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    out = (
        common.join(
            sizes.select(F.col("s").alias("source_a"), F.col("n_g").alias("n_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("s").alias("source_b"), F.col("n_g").alias("n_b")),
            "source_b",
        )
    )
    return out.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "common",
        (
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
        ).alias("jaccard"),
        (F.col("common").cast("double") / F.col("n_a").cast("double")).alias(
            "containment_a"
        ),
    )
