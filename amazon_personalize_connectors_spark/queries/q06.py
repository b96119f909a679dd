"""Query builders split out of __spark_entry__.py (r9): verbatim
moves, same names, same behavior — the entry file star-imports
this package to keep the driver contract stable."""

from __future__ import annotations

from amazon_personalize_connectors_spark.queries._shared import *  # noqa: F401,F403
from amazon_personalize_connectors_spark.queries.q01 import *  # noqa: F401,F403
from amazon_personalize_connectors_spark.queries.q02 import *  # noqa: F401,F403
from amazon_personalize_connectors_spark.queries.q03 import *  # noqa: F401,F403
from amazon_personalize_connectors_spark.queries.q04 import *  # noqa: F401,F403
from amazon_personalize_connectors_spark.queries.q05 import *  # noqa: F401,F403
from amazon_personalize_connectors_spark.queries._sqlcte import *  # noqa: F401,F403



def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio energy, ORACLE-CHECKED through a REAL codec
    (functions/multimodal.py attach_synth_wav + frame_energies):
    deterministic 8-bit PCM WAVs are genuinely encoded and re-decoded
    with the stdlib RIFF codec Spark-side (Arrow-batched mapInPandas,
    the sanctioned multimodal boundary), split into 16 ms frames, and
    each frame's EXACT integer energy Σs² reported — while the oracle
    reproduces the sample arithmetic ((id·31 + i·7) mod 256 − 128)
    with generate_series, no codec needed. The hash match therefore
    pins the whole WAV write→read→frame path, not just the math."""
    from amazon_personalize_connectors_spark.functions.multimodal import (
        attach_synth_wav,
        frame_energies,
    )

    part = synthetic.load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("media_id")
    )
    media = attach_synth_wav(
        part.where(F.col("media_id") % 20 == 0), "media_id"
    )
    return frame_energies(media, frame_ms=16)


def q_stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CMS maintenance, ORACLE-CHECKED end to end
    (streaming/cms_monitor.py): lineitem part keys staged as four
    parquet files drain ONE FILE PER MICRO-BATCH, each batch folding
    its CMS cells into the versioned epoch-keyed store; estimates
    served from the final store for the exact top-20 parts must equal
    the batch-built sketch bit for bit (cells merge by SUM — the
    mergeable-sketch law, regardless of batch splits). Same output
    shape and oracle as cms_heavy_hitters."""
    import tempfile

    from amazon_personalize_connectors_spark.streaming.cms_monitor import (
        estimate_from_store,
        maintain_from_stream,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_partkey").cast("bigint").alias("part"))
    landing = tempfile.mkdtemp(prefix="apc-cms-landing-")
    store = tempfile.mkdtemp(prefix="apc-cms-store-")
    ckpt = tempfile.mkdtemp(prefix="apc-cms-ckpt-")
    keys.repartition(4).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema("part long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    maintain_from_stream(stream, store, ckpt, "part")
    exact = keys.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact")
    )
    top = exact.orderBy(F.col("exact").desc(), F.col("part").asc()).limit(20)
    est = estimate_from_store(spark, store, top, "part")
    return top.join(est, "part").select(
        "part", "exact", "est", (F.col("est") - F.col("exact")).alias("over")
    )


def q_caliper_match_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caliper nearest-neighbor matching ATT (operators/evaluation.py
    caliper_matched_att): BUILDING-segment customers matched to
    non-BUILDING controls on account balance within $10, outcome =
    lifetime spend cents — band join on caliper buckets (never
    treated × controls), deterministic tie-broken argmin, exact
    bigint diff sum with one fixed-order float division."""
    from amazon_personalize_connectors_spark.operators.evaluation import (
        caliper_matched_att,
    )

    cust = synthetic.load_table(spark, sf_dir, "customer")
    orders = synthetic.load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("spend")
    )
    units = (
        cust.join(spend, cust.c_custkey == spend.ck, "left")
        .select(
            F.col("c_custkey").cast("bigint").alias("key"),
            (F.col("c_mktsegment") == "BUILDING").cast("int").alias("treat"),
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("score"),
            F.coalesce(F.col("spend"), F.lit(0).cast("bigint")).alias("y"),
        )
    )
    return caliper_matched_att(units, "key", "treat", "score", "y", caliper=1000)


def q_anova_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of lineitem price cents across return flags
    (operators/features.py:anova_oneway): per-group quadratic terms
    quantized to exact integers before the cross-group sum (the chi²
    pattern), one fixed IEEE tail for F — deterministic at any
    partitioning, oracle-mirrored bit for bit."""
    from amazon_personalize_connectors_spark.operators.features import (
        anova_oneway,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return anova_oneway(li, "l_returnflag", "cents")


def q_priority_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact truncated exponential smoothing (operators/analytics.py
    dyadic_ewma, alpha=1/2, 8 lags): per order priority, the
    smoothed daily-revenue-cents trend as an exact integer quotient —
    one window pass partitioned by priority, no float recursion."""
    from amazon_personalize_connectors_spark.operators.analytics import (
        dyadic_ewma,
    )

    orders = synthetic.load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    out = dyadic_ewma(daily, ["priority"], "day", "cents", k_lags=8)
    return out.select(
        "priority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "value",
        "ewma_q",
    )


def q_revenue_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile over the daily-revenue series (operators/
    analytics.py matrix_profile_ssd, m=7, exclusion=3): per week-long
    subsequence, the exact integer SSD to its nearest non-trivial
    neighbor — motifs (repeated weekly shapes) score low, discords
    (anomalous weeks) high. The all-pairs stage is calendar², a
    guarded domain contract, never data².

    Units (r12): daily revenue is aggregated in WHOLE DOLLARS —
    the exact cents sum integer-divided by 100 — because the
    operator's int64 guard bounds the value range at
    isqrt(int64max/m) ≈ 1.15e9 for m=7, and the sf0.1 cents range
    (1.41e9) already exceeds it (the r11 sf1 sweep found this; the
    SSD ranking is scale-invariant, so coarser units preserve the
    motif/discord ordering). Dollar ranges stay inside the guard
    through ~sf8; past that the guard fires again by design and the
    caller requantizes further (weekly, or tens of dollars)."""
    from amazon_personalize_connectors_spark.operators.analytics import (
        matrix_profile_ssd,
    )

    orders = synthetic.load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
            " AS BIGINT)) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    out = matrix_profile_ssd(daily, "day", "v", m=7, exclusion=3)
    return out.select(
        F.col("idx").cast("bigint").alias("idx"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "ssd_min",
        F.col("match_idx").cast("bigint").alias("match_idx"),
    )


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse compaction planning (operators/layout.py:
    compaction_bins): pack each (lang, source) partition's documents
    — stand-ins for small files, sized by n_chars — into 64 KiB
    output bins in doc_id order. One per-partition window cumsum +
    one groupBy; bin assignment is exact integer division, so the
    plan is engine-portable."""
    from amazon_personalize_connectors_spark.operators.layout import (
        compaction_bins,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    out = compaction_bins(
        docs, ["lang", "source"], "doc_id", "n_chars", target_bytes=65_536
    )
    return out.select(
        "lang",
        "source",
        "bin_id",
        "n_files",
        "bin_bytes",
        F.col("first_key").cast("bigint").alias("first_key"),
        F.col("last_key").cast("bigint").alias("last_key"),
    )


def q_open_orders_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency (operators/analytics.py:
    open_interval_daily_counts): per change day, how many lineitems
    were in flight (ordered, not yet shipped) — two map-side
    aggregates collapse the intervals to the calendar grid, one
    guarded grid window does the running sum; never a day×interval
    band join."""
    from amazon_personalize_connectors_spark.operators.analytics import (
        open_interval_daily_counts,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem")
    orders = synthetic.load_table(spark, sf_dir, "orders")
    iv = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderdate").alias("s"), F.col("l_shipdate").alias("e")
    )
    out = open_interval_daily_counts(iv, "s", "e")
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "net_delta",
        "open_cnt",
    )


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war F2 sketch audit (functions/sketches.py:
    ams_f2_sketch/ams_f2_estimate): 17 signed sums over lineitem part
    keys in ONE map-side-combinable aggregate, median of squares as
    the self-join-size estimate, reported next to the exact
    F2 = Σ c_k² with the error in ppm. The md5 sign hash is
    engine-portable, so the oracle reproduces the estimator
    bit-for-bit."""
    from amazon_personalize_connectors_spark.functions.sketches import (
        ams_f2_estimate,
        ams_f2_sketch,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_partkey").cast("bigint").alias("key"))
    est = ams_f2_estimate(ams_f2_sketch(keys, "key", reps=17), reps=17)
    d38 = "decimal(38,0)"
    exact = (
        keys.groupBy("key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.sum((F.col("c").cast(d38) * F.col("c")).cast(d38))
            .cast("bigint")
            .alias("f2_exact"),
            F.sum("c").cast("bigint").alias("n_rows"),
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_rows",
        "f2_exact",
        "f2_est",
        F.expr(
            "CAST((abs(CAST(f2_est AS decimal(38,0)) - f2_exact) * 1000000)"
            " div f2_exact AS BIGINT)"
        ).alias("abs_err_ppm"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch accuracy audit (functions/sketches.py:
    cms_sketch/cms_estimate): build a 4x256 CMS over lineitem part
    keys with the engine-portable md5 cell hash, estimate the top-20
    parts by exact count, and report est vs exact — overcount is
    provably >= 0. The oracle computes the identical sketch cells in
    SQL, so counts match bit-for-bit."""
    from amazon_personalize_connectors_spark.functions.sketches import (
        cms_estimate,
        cms_sketch,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_partkey").cast("bigint").alias("part"))
    sketch = cms_sketch(keys, "part", depth=4, hex_chars=2)
    exact = keys.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact")
    )
    # orderBy+limit plans as TakeOrderedAndProject: per-partition
    # top-20 merged at the driver — no global sort window
    top = exact.orderBy(F.col("exact").desc(), F.col("part").asc()).limit(20)
    est = cms_estimate(sketch, top, "part", depth=4, hex_chars=2)
    return top.join(est, "part").select(
        "part", "exact", "est", (F.col("est") - F.col("exact")).alias("over")
    )


def q_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the label-blocked embedding ε-graph (functions/
    similarity.py:dbscan_from_edges over blocked_near_duplicates
    edges, min_cosine=0.3, min_pts=3): core/border/noise roles and
    min-reachable-core-id cluster labels — deterministic where
    textbook DBSCAN is scan-order-dependent."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        blocked_near_duplicates,
        dbscan_from_edges,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    edges = blocked_near_duplicates(emb, min_cosine=0.3).select(
        "id_a", "id_b"
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    out = dbscan_from_edges(nodes, edges, min_pts=3)
    return out.select(
        F.col("id").cast("bigint").alias("id"), "role", "cluster"
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification re-rank (operators/recsys.py:mmr_rerank):
    per query vector, greedily pick 5 of its top-8 candidates by the
    exact integer objective 7*rel - 3*max_sim over floor(v*1e6)
    int-dot scores (lambda = 0.7). Every quantity is an exact bigint
    (integer dot products stay under 2^53, so even the oracle's
    double list_dot_product is exact), and ties break on the smaller
    item id — the greedy trace replays identically in plain SQL."""
    from amazon_personalize_connectors_spark.operators.recsys import (
        mmr_rerank,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    iv = emb.select(
        F.col("vec_id").cast("bigint").alias("id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.floor(v * 1e6).cast("bigint"),
        ).alias("v"),
    )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    from pyspark.sql import Window

    qs = iv.where(F.col("id") % 50 == 0).select(
        F.col("id").alias("q"), F.col("v").alias("qv")
    )
    scored = iv.join(F.broadcast(qs), F.col("id") != F.col("q")).select(
        "q",
        F.col("id").alias("i"),
        idot(F.col("qv"), F.col("v")).alias("rel"),
    )
    w = Window.partitionBy("q").orderBy(F.col("rel").desc(), F.col("i").asc())
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 8)
        .select(F.col("q").alias("q_id"), F.col("i").alias("n_id"), "rel")
    )
    items = cand.select(F.col("n_id").alias("id")).distinct()
    ivc = iv.join(items, "id")
    a = ivc.select(F.col("id").alias("item_a"), F.col("v").alias("va"))
    b = ivc.select(F.col("id").alias("item_b"), F.col("v").alias("vb"))
    sims = a.join(F.broadcast(b), F.col("item_a") < F.col("item_b")).select(
        "item_a", "item_b", idot(F.col("va"), F.col("vb")).alias("sim_q")
    )
    out = mmr_rerank(
        cand, sims, k=5, lam_num=7, lam_den=10,
        user_col="q_id", item_col="n_id", rel_col="rel", sim_col="sim_q",
    )
    return out.select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "step",
    )


def _mmr_oracle_sql(k: int = 5) -> str:
    """Replay mmr_rerank's greedy trace as k chained (non-recursive)
    CTEs — each step anti-joins the previous selection, scores
    remaining candidates with the same exact integer objective, and
    picks the per-user argmax with the same (score desc, item asc)
    tie-break."""
    steps = []
    for t in range(2, k + 1):
        p = t - 1
        steps.append(f"""
sel{t} AS (
  SELECT u, i, step FROM sel{p}
  UNION ALL
  SELECT u, i, CAST({t} AS BIGINT) AS step FROM (
    SELECT r.u, r.i,
      ROW_NUMBER() OVER (PARTITION BY r.u
        ORDER BY 7 * r.rel - 3 * COALESCE(m.ms, 0) DESC, r.i ASC) AS rn
    FROM (SELECT c.* FROM cand c LEFT JOIN sel{p} s
            ON c.u = s.u AND c.i = s.i WHERE s.i IS NULL) r
    LEFT JOIN (
      SELECT s.u, sym.y AS i, MAX(sym.s) AS ms
      FROM sel{p} s JOIN sym ON sym.x = s.i
      GROUP BY s.u, sym.y) m ON m.u = r.u AND m.i = r.i
  ) WHERE rn = 1
)""")
    return f"""
WITH iv AS (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                x -> floor(x * 1000000)) AS v
  FROM embeddings
),
qs AS (SELECT vec_id AS q, v FROM iv WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.q, n.vec_id AS i,
         CAST(list_dot_product(q.v, n.v) AS BIGINT) AS rel
  FROM qs q JOIN iv n ON n.vec_id <> q.q
),
cand AS (
  SELECT q AS u, i, rel FROM (
    SELECT q, i, rel,
           ROW_NUMBER() OVER (PARTITION BY q
             ORDER BY rel DESC, i ASC) AS rn
    FROM scored) WHERE rn <= 8
),
items AS (SELECT DISTINCT i FROM cand),
pairs AS (
  SELECT a.i AS x, b.i AS y,
         CAST(list_dot_product(va.v, vb.v) AS BIGINT) AS s
  FROM items a JOIN items b ON a.i < b.i
  JOIN iv va ON va.vec_id = a.i JOIN iv vb ON vb.vec_id = b.i
),
sym AS (SELECT x, y, s FROM pairs UNION ALL SELECT y, x, s FROM pairs),
sel1 AS (
  SELECT u, i, CAST(1 AS BIGINT) AS step FROM (
    SELECT u, i, ROW_NUMBER() OVER (PARTITION BY u
      ORDER BY 7 * rel DESC, i ASC) AS rn FROM cand) WHERE rn = 1
),{",".join(steps)}
SELECT CAST(u AS BIGINT) AS q_id, CAST(i AS BIGINT) AS n_id, step
FROM sel{k}
"""


def q_did_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase value cents (operators/
    evaluation.py:diff_in_diff): treated = even user ids, post =
    events on/after Jan 16 — four exact bigint cells, means and the
    DiD estimate as fixed IEEE trees the oracle spells identically."""
    from amazon_personalize_connectors_spark.operators.evaluation import (
        diff_in_diff,
    )

    ev = synthetic.load_events(spark, sf_dir)
    rows = ev.where(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 0).alias("tr"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "po"
        ),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return diff_in_diff(rows, F.col("tr"), F.col("po"), "cents")


def q_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks on the part co-purchase graph
    (operators/recsys.py:graph_random_walks): 4-step hash-driven
    walks from every part id divisible by 100 over parts that share
    an order — md5 picks each next hop, so the SQL oracle replays
    the identical corpus step by step."""
    from amazon_personalize_connectors_spark.operators.recsys import (
        graph_random_walks,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").cast("bigint").alias("p"),
    )
    # r13 (guide §2.4): per-order pairs generated ROW-LOCALLY from
    # the order's collect_set (bounded by items/order) instead of a
    # corpus self-join — one groupBy exchange + codegen explode
    # replaces the join's double scan + SMJ; pair set identical
    # (exceptAll both ways empty at sf0.1), 2x on the edge build.
    ps = li.groupBy("o").agg(F.collect_set("p").alias("ps"))
    edges = (
        ps.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    starts = edges.select(F.col("src").alias("id")).distinct().where(
        F.col("id") % 100 == 0
    )
    out = graph_random_walks(edges, starts, walk_len=4, seed="w")
    return out.select(
        F.col("walk").cast("bigint").alias("walk"),
        "step",
        F.col("node").cast("bigint").alias("node"),
    )


def _walks_oracle_sql(walk_len: int = 4) -> str:
    """Replay graph_random_walks' hash-argmin trace as chained CTEs:
    step t keeps the out-neighbor with the smallest
    md5('w|walk|t|cur|dst') per walker."""
    steps = []
    for t in range(1, walk_len + 1):
        p = t - 1
        steps.append(f"""
s{t} AS (
  SELECT walk, node, step FROM s{p}
  UNION ALL
  SELECT walk, nxt AS node, CAST({t} AS BIGINT) AS step FROM (
    SELECT f.walk, p.dst AS nxt,
      ROW_NUMBER() OVER (PARTITION BY f.walk ORDER BY
        md5('w|' || CAST(f.walk AS VARCHAR) || '|{t}|'
            || CAST(f.node AS VARCHAR) || '|'
            || CAST(p.dst AS VARCHAR)) ASC, p.dst ASC) AS rn
    FROM (SELECT walk, node FROM s{p} WHERE step = {p}) f
    JOIN pairs p ON f.node = p.src
  ) WHERE rn = 1
)""")
    return f"""
WITH li AS (
  SELECT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
pairs AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
),
starts AS (SELECT DISTINCT src AS id FROM pairs WHERE src % 100 = 0),
s0 AS (SELECT id AS walk, id AS node, CAST(0 AS BIGINT) AS step FROM starts),{",".join(steps)}
SELECT CAST(walk AS BIGINT) AS walk, step, CAST(node AS BIGINT) AS node
FROM s{walk_len}
"""


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of purchase probability over 500-cent
    value bins (operators/evaluation.py:isotonic_calibration): the
    parallel max-min closed form of PAV regression — exact bigint
    prefix sums, one fixed-tree division per interval, min/max
    aggregates only, so the fitted monotone curve matches the oracle
    bit-for-bit."""
    from amazon_personalize_connectors_spark.operators.evaluation import (
        isotonic_calibration,
    )

    ev = synthetic.load_events(spark, sf_dir).where(
        F.col("value").isNotNull()
    )
    binned = ev.select(
        (
            (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("cents"),
        (F.col("event_type") == "purchase").cast("bigint").alias("label"),
    ).groupBy(
        F.expr("cents div 500").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    return isotonic_calibration(binned, "bin", "n", "pos")


def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift (operators/features.py:js_divergence)
    over the SAME populations and $1000 price bins as q:psi_drift /
    q:ks_drift / q:tv_drift — the symmetric, ln2-bounded member of
    the drift family, finite on one-sided bins with no smoothing
    epsilon. Quantized-bigint term sums (chi2 pattern)."""
    from amazon_personalize_connectors_spark.operators.features import (
        js_divergence,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " DIV 100000 AS BIGINT)"
        ).alias("bin"),
        "l_returnflag",
    )
    return js_divergence(
        li,
        "bin",
        F.col("l_returnflag") == "R",
        F.col("l_returnflag") != "R",
    )


def q_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% thresholds of event value cents per event
    type (operators/evaluation.py:conformal_threshold): the exact
    ceil((n+1)*9/10)-th smallest score via pure integer rank
    arithmetic and a grouped cumulative window — no float quantile
    semantics anywhere."""
    from amazon_personalize_connectors_spark.operators.evaluation import (
        conformal_threshold,
    )

    ev = synthetic.load_events(spark, sf_dir).where(
        F.col("value").isNotNull()
    )
    scored = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return conformal_threshold(
        scored, ["event_type"], "cents", alpha_num=1, alpha_den=10
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight rounds of BPE tokenizer training over the documents
    corpus (functions/text.py:bpe_learn_merges): the learned merge
    table, with every round's argmax pair chosen by exact counts and
    a lexicographic tie-break and every merge applied by a literal
    separator-delimited replace — semantics every engine shares, so
    the oracle replays the whole training trace in SQL."""
    from amazon_personalize_connectors_spark.functions.text import (
        bpe_learn_merges,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, "text", n_merges=8)


def _bpe_oracle_sql(n_merges: int = 8) -> str:
    """Replay bpe_learn_merges round by round: pairs from the split
    symbol strings, argmax by (count desc, pair asc), merge by the
    same chr(1)-delimited literal replace."""
    rounds = []
    for t in range(1, n_merges + 1):
        p = t - 1
        rounds.append(f"""
p{t} AS (
  SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS c FROM (
    SELECT cnt, s[i] AS x, s[i + 1] AS y FROM (
      SELECT cnt, s, unnest(range(1, len(s))) AS i FROM (
        SELECT cnt, list_filter(string_split(w, chr(1)), z -> z <> '') AS s
        FROM w{p}) WHERE len(s) >= 2
    )
  ) GROUP BY x, y
),
b{t} AS (SELECT x, y, c FROM p{t} ORDER BY c DESC, x ASC, y ASC LIMIT 1),
w{t} AS (
  SELECT replace(w.w, chr(1) || b.x || chr(1) || b.y || chr(1),
                 chr(1) || b.x || b.y || chr(1)) AS w, w.cnt
  FROM w{p} w, b{t} b
)""")
    finals = "\nUNION ALL ".join(
        f"""SELECT CAST({t} AS BIGINT) AS step, x AS "left", y AS "right",
       x || y AS merged, c AS pair_count FROM b{t}"""
        for t in range(1, n_merges + 1)
    )
    return _bpe_cte_prefix(rounds) + finals + "\n"


def _bpe_cte_prefix(rounds: list) -> str:
    return f"""
WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
wc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE length(tok) >= 2 GROUP BY tok
),
w0 AS (
  SELECT chr(1) || array_to_string(string_split(tok, ''), chr(1)) || chr(1)
           AS w, cnt
  FROM wc
),{",".join(rounds)}
"""


def _bpe_rounds_sql(n_merges: int) -> list:
    rounds = []
    for t in range(1, n_merges + 1):
        p = t - 1
        rounds.append(f"""
p{t} AS (
  SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS c FROM (
    SELECT cnt, s[i] AS x, s[i + 1] AS y FROM (
      SELECT cnt, s, unnest(range(1, len(s))) AS i FROM (
        SELECT cnt, list_filter(string_split(w, chr(1)), z -> z <> '') AS s
        FROM w{p}) WHERE len(s) >= 2
    )
  ) GROUP BY x, y
),
b{t} AS (SELECT x, y, c FROM p{t} ORDER BY c DESC, x ASC, y ASC LIMIT 1),
w{t} AS (
  SELECT replace(w.w, chr(1) || b.x || chr(1) || b.y || chr(1),
                 chr(1) || b.x || b.y || chr(1)) AS w, w.cnt
  FROM w{p} w, b{t} b
)""")
    return rounds


def _bpe_vocab_oracle_sql(n_merges: int = 8) -> str:
    """Vocabulary histogram after replaying the same n training
    rounds: split the final word table's symbols and count."""
    return _bpe_cte_prefix(_bpe_rounds_sql(n_merges)) + f"""
SELECT sym AS symbol, CAST(COUNT(*) AS BIGINT) AS n_words_with,
       CAST(SUM(cnt) AS BIGINT) AS total_occurrences
FROM (
  SELECT cnt, unnest(list_filter(string_split(w, chr(1)),
                                 z -> z <> '')) AS sym
  FROM w{n_merges})
GROUP BY sym
"""


def q_als_user_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact rank-2 ALS user half-step (operators/recsys.py:
    als_half_step) over customer part-quantity ratings against
    deterministic pseudo item factors: five exact decimal normal-
    equation sums per user, closed-form 2x2 Cramer solve as one fixed
    IEEE tree — the oracle runs the identical algebra in HUGEINT."""
    from amazon_personalize_connectors_spark.operators.recsys import (
        als_half_step,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem")
    orders = synthetic.load_table(spark, sf_dir, "orders")
    ratings = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == orders["o_orderkey"],
    ).select(
        F.col("o_custkey").cast("bigint").alias("user_id"),
        F.col("l_partkey").cast("bigint").alias("item_id"),
        F.col("l_quantity").cast("bigint").alias("rating"),
    )
    factors = li.select(
        F.col("l_partkey").cast("bigint").alias("item_id")
    ).distinct().select(
        "item_id",
        (F.col("item_id") % 1000).cast("bigint").alias("f1_q"),
        ((F.col("item_id") * 7 + 3) % 1000).cast("bigint").alias("f2_q"),
    )
    # factor_scale 1e3 keeps adj/det below 2^53: see the operator's
    # oracle-parity envelope note
    return als_half_step(
        ratings, factors, reg_num=1, reg_den=10, factor_scale=1000
    )


def q_stream_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Jensen-Shannon drift monitor, oracle-checked end to
    end (streaming/drift_monitor.py:js_from_store): line items drain
    one file per micro-batch folding $1000-bin counts into the SAME
    versioned grid store that answers KS — the JSD read from the
    final store must equal batch q:js_drift over all rows (the
    mergeable-grid law), so the SAME DuckDB oracle applies."""
    import tempfile

    from amazon_personalize_connectors_spark.streaming.drift_monitor import (
        js_from_store,
        monitor_from_stream,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " DIV 100000 AS BIGINT)"
        ).alias("bin"),
        "l_returnflag",
    )
    landing = tempfile.mkdtemp(prefix="apc-jsd-landing-")
    store = tempfile.mkdtemp(prefix="apc-jsd-store-")
    ckpt = tempfile.mkdtemp(prefix="apc-jsd-ckpt-")
    li.repartition(4).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema("bin long, l_returnflag string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    monitor_from_stream(
        stream, store, ckpt, "bin",
        F.col("l_returnflag") == "R",
        F.col("l_returnflag") != "R",
    )
    return js_from_store(spark, store)


def q_oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of order priority (operators/
    features.py:oof_target_encoding): customer-grouped 5-fold split
    via the portable Lehmer hash, each order encoded by the mean
    cents of the OTHER folds — exact bigint fold sums, one final
    division, NULL where a category has no out-of-fold evidence."""
    from amazon_personalize_connectors_spark.operators.features import (
        oof_target_encoding,
    )

    orders = synthetic.load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("bigint").alias("cust"),
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    out = oof_target_encoding(
        orders, "o_orderpriority", "cents", "cust", k=5
    )
    return out.select(
        "o_orderkey", "o_orderpriority",
        F.col("fold").cast("bigint").alias("fold"), "te_oof",
    )


def q_cuped_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (operators/evaluation.py:
    cuped_estimate): per-user pre/post purchase cents (split at Jan
    16), arms by user parity — nine exact bigint sums in one
    aggregate, theta and both diffs as fixed IEEE trees over sums
    that stay below 2^53 (the documented oracle-parity envelope)."""
    from amazon_personalize_connectors_spark.operators.evaluation import (
        cuped_estimate,
    )

    ev = synthetic.load_events(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per_user = ev.groupBy(F.col("user_id").cast("bigint").alias("u")).agg(
        F.sum(
            F.when(
                F.col("ts") < cut,
                (F.col("value").cast("decimal(18,2)") * 100).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("pre"),
        F.sum(
            F.when(
                F.col("ts") >= cut,
                (F.col("value").cast("decimal(18,2)") * 100).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("post"),
    )
    return cuped_estimate(
        per_user, F.col("u") % 2 == 0, F.col("u") % 2 == 1, "pre", "post"
    )


def q_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-day rolling OLS trend of daily revenue (operators/
    analytics.py:rolling_ols_slope): five exact bigint moment sums on
    one integer RANGE window over the calendar-bounded daily rollup,
    slope as a fixed IEEE tree over sub-2^53 double casts."""
    from amazon_personalize_connectors_spark.operators.analytics import (
        rolling_ols_slope,
    )

    orders = synthetic.load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    out = rolling_ols_slope(daily, "day", "cents", window_days=28)
    return out.select(
        F.col("day").cast("string").alias("day"), "v", "n_window", "slope"
    )


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting over the events stream (operators/
    analytics.py:growth_accounting): per period, new / retained /
    resurrected actives and churned users, gap periods included,
    phantom post-horizon period clipped — pure integer period
    arithmetic and exact counts."""
    from amazon_personalize_connectors_spark.operators.analytics import (
        growth_accounting,
    )

    ev = synthetic.load_events(spark, sf_dir)
    return growth_accounting(ev, period_days=7)


def q_woe_iv_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WoE encoding table + information value of order priority
    against the high-value label (operators/features.py:woe_iv):
    exact cross-product log arguments, quantized IV terms — the
    credit-scoring feature audit."""
    from amazon_personalize_connectors_spark.operators.features import (
        woe_iv,
    )

    orders = synthetic.load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice") > 150000).cast("int").alias("hi"),
    )
    return woe_iv(orders, "o_orderpriority", "hi")


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 32-replicate CI for mean purchase cents
    (operators/features.py:bootstrap_ci): hash-derived Poisson(1)
    weights by lexicographic hex comparison — no RNG, no hex-to-int
    conversion — exact replicate sums, order-statistic CI; the oracle
    reruns the identical resampling in SQL."""
    from amazon_personalize_connectors_spark.operators.features import (
        bootstrap_ci,
    )

    ev = synthetic.load_events(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    cents = ev.select(
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    return bootstrap_ci(cents, "cents", n_replicates=32)


def q_eb_shrunk_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates
    (operators/features.py:eb_shrunk_rates): beta-binomial prior fit
    by method of moments over exactly-quantized rates, posterior mean
    per user — the 1/1=100% fix, bit-identical to the oracle."""
    from amazon_personalize_connectors_spark.operators.features import (
        eb_shrunk_rates,
    )

    ev = synthetic.load_events(spark, sf_dir).select(
        F.col("user_id").cast("bigint").alias("u"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return eb_shrunk_rates(ev, "u", "y")


def q_winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed near-dup candidates over documents (functions/
    text.py:winnowing_candidates): TRUE MOSS winnowing — minimum md5
    per 4-hash window over character 8-grams, rare-fingerprint
    inverted index, pairs sharing >= 2 fingerprints. Guarantees any
    shared substring of >= 11 chars fingerprints identically in both
    docs; the oracle recomputes the same sets in SQL."""
    from amazon_personalize_connectors_spark.functions.text import (
        winnowing_candidates,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    return winnowing_candidates(
        docs, "doc_id", "text", gram=8, window=4,
        max_fp_freq=5, min_shared=3,
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "n_shared",
    )


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE side (functions/text.py:bpe_encode_vocab_counts):
    train 8 merges, apply them in order to the word table with the
    same literal-replace semantics, and report the resulting symbol
    vocabulary histogram — the oracle replays training AND encoding
    in one generated SQL chain."""
    from amazon_personalize_connectors_spark.functions.text import (
        bpe_encode_vocab_counts,
        bpe_learn_merges,
    )

    docs = synthetic.load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in sorted(
            bpe_learn_merges(docs, "text", n_merges=8).collect(),
            key=lambda r: r["step"],
        )
    ]
    return bpe_encode_vocab_counts(docs, merges, "text")


def q_stream_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming split-conformal threshold (streaming/drift_monitor.py:
    conformal_from_store): purchase cents drain one file per
    micro-batch into the versioned grid store; the 90% conformal
    threshold read from the final store must equal the exact batch
    order statistic over all rows (the mergeable-grid law)."""
    import tempfile

    from amazon_personalize_connectors_spark.streaming.drift_monitor import (
        conformal_from_store,
        monitor_from_stream,
    )

    ev = synthetic.load_events(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    cents = ev.select(
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    landing = tempfile.mkdtemp(prefix="apc-conf-landing-")
    store = tempfile.mkdtemp(prefix="apc-conf-store-")
    ckpt = tempfile.mkdtemp(prefix="apc-conf-ckpt-")
    cents.repartition(4).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema("cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    monitor_from_stream(
        stream, store, ckpt, "cents", F.lit(True), F.lit(False)
    )
    return conformal_from_store(spark, store, alpha_num=1, alpha_den=10)


def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution over the four
    engagement channels vs purchase conversions (operators/
    attribution.py:shapley_attribution): coalition values on the
    16-mask exposure grid, factorial weights as exact integers,
    phi emitted as numerator/24 — efficiency law test-pinned, oracle
    replays the identical grid algebra."""
    from amazon_personalize_connectors_spark.operators.attribution import (
        shapley_attribution,
    )

    ev = synthetic.load_events(spark, sf_dir)
    return shapley_attribution(
        ev, ["click", "view", "signup", "error"], conversion="purchase"
    )


def q_stream_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SIDED clamped running balance as a stateful stream
    (streaming/stateful.py:capped_running_balance_pandas): unlike the
    floor-only form (q:stock_balance_floor — window-expressible via
    the Lindley reflection identity), ``b_t = min(cap, max(0,
    b_{t-1} + x_t))`` has no prefix-sum closed form, so it NEEDS
    per-key sequential state. The stream lands as FOUR time-sliced
    files with strictly increasing mtimes, drained with
    maxFilesPerTrigger=1, so the balance genuinely hops micro-batch
    boundaries through the state store; the oracle replays the whole
    recursion with a DuckDB WITH RECURSIVE. The 1-row bounds lookup
    slicing the landing is a documented bounded collect (query
    set-up, not operator dataflow)."""
    import glob
    import os
    import tempfile
    import time as _time

    from amazon_personalize_connectors_spark.streaming.stateful import (
        capped_running_balance_pandas,
    )
    from amazon_personalize_connectors_spark.streaming.windows import (
        adaptive_stream_partitions,
        run_stream_to_memory,
    )

    ev = synthetic.load_events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts_us").cast("long").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        (
            F.when(
                F.col("event_type").isin("purchase", "signup"), F.lit(1)
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
            * (
                F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,2)")
                * 100
            ).cast("bigint")
        ).alias("delta"),
    )
    # one source scan for the whole landing staging (r12): the bounds
    # job materializes the narrow (4-long-column) projection into the
    # cache and the four slice writes read it back, instead of each
    # re-scanning + re-projecting the source parquet.
    ev = ev.persist()
    bounds = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    span = max(1, (bounds[1] - bounds[0]) // 4 + 1)
    landing = tempfile.mkdtemp(prefix="apc-stream-bal-")
    t_base = _time.time() - 3600
    # the four time-disjoint slices are independent single-file writes
    # off the same cached projection — overlap them into PRIVATE dirs
    # from a driver thread pool (guide §2.6; was 4 sequential appends),
    # then move the files into the landing in slice order with the
    # staggered mtimes the drain contract needs (FileStreamSource
    # orders by mtime, so the balance still hops the micro-batch
    # boundaries in time order).
    import shutil

    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        run_concurrently,
    )

    def _write_slice(i: int) -> str:
        lo = bounds[0] + i * span
        sl = ev.where(F.col("ts_us") >= lo)
        if i < 3:
            sl = sl.where(F.col("ts_us") < lo + span)
        d = tempfile.mkdtemp(prefix=f"apc-stream-bal-s{i}-")
        sl.coalesce(1).write.mode("overwrite").parquet(d)
        return d

    slice_dirs = run_concurrently(
        [lambda i=i: _write_slice(i) for i in range(4)]
    )
    for i, d in enumerate(slice_dirs):
        for f in sorted(glob.glob(d + "/*.parquet")):
            dst = os.path.join(landing, f"slice{i}-" + os.path.basename(f))
            shutil.move(f, dst)
            os.utime(dst, (t_base + i * 10, t_base + i * 10))
        shutil.rmtree(d, ignore_errors=True)
    ev.unpersist()
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    emits = run_stream_to_memory(
        capped_running_balance_pandas(stream, floor_v=0, cap_v=25_000),
        output_mode="update",
        state_partitions=adaptive_stream_partitions(spark, landing),
    )
    # n_seen strictly increases per user across emits, so max_by is
    # deterministic: the final emit is the drained balance
    return emits.groupBy("user_id").agg(
        F.max("n_seen").cast("bigint").alias("n_events"),
        F.expr("max_by(balance, n_seen)").cast("bigint").alias("balance"),
    )


def q_stock_balance_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running stock balance per supplier (operators/
    analytics.py:floor_running_balance): returns restock (+qty),
    shipments issue (−qty), stock cannot go negative. The engine form
    is the Lindley reflection identity — ONE window pass, closed-form
    ``S_t - min(0, min prefix S)`` — while the ORACLE replays the
    recursion ``b_t = max(0, b_{t-1} + x_t)`` literally with a DuckDB
    WITH RECURSIVE over row numbers, so the window-expressible claim
    is checked against the sequential definition, not against
    itself."""
    from amazon_personalize_connectors_spark.operators.analytics import (
        floor_running_balance,
    )

    li = synthetic.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("bigint").alias("supp"),
        F.col("l_orderkey").cast("bigint").alias("okey"),
        F.col("l_linenumber").cast("bigint").alias("lno"),
        F.col("l_shipdate").cast("date").alias("_ship"),
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
        .otherwise(-F.col("l_quantity"))
        .cast("bigint")
        .alias("delta"),
    )
    out = floor_running_balance(
        li, ["supp"], ["_ship", "okey", "lno"], "delta"
    )
    return out.select("supp", "okey", "lno", "delta", "balance")


def q_part_reach_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS neighborhoods over the co-purchase graph
    (functions/dedup.py:bfs_min_hops): edges = part pairs sharing ≥2
    orders (support-filtered, domain-sized), seeds = every part with
    ``p_partkey % 97 == 0``, radius 3. The reachability shape SQL
    engines write as WITH RECURSIVE and Spark lacks — here a
    driver-unrolled fixed-depth frontier loop with per-round
    localCheckpoint; the oracle IS the recursive CTE (UNION-dedup +
    MIN(hop)), derived independently."""
    from amazon_personalize_connectors_spark.functions.dedup import (
        bfs_min_hops,
    )

    # r13 (guide §2.4): per-order unordered pairs generated row-
    # locally from the order's part set (collect_set dedups exactly
    # like the old DISTINCT facts), then support-counted — the
    # corpus self-join and its double scan drop out; counts and the
    # support filter are identical (each shared order contributes
    # one pair instance in both forms).
    ps = (
        synthetic.load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").cast("bigint").alias("_b"))
        .agg(F.collect_set(F.col("l_partkey").cast("bigint")).alias("ps"))
    )
    edges = (
        ps.select(F.explode("ps").alias("id_a"), "ps")
        .select("id_a", F.explode("ps").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2)
        .select("id_a", "id_b")
    )
    seeds = (
        synthetic.load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 97 == 0)
        .select(F.col("p_partkey").cast("bigint").alias("node"))
    )
    return bfs_min_hops(edges, seeds, max_hops=3)


def q_price_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill over the daily revenue series
    per order priority (operators/analytics.py:interpolate_fill after
    gap_fill_days densification): days with no orders get the exact
    integer floor-div interpolation between the bracketing known
    days; leading/trailing gaps stay null (no extrapolation). Both
    engines compute the same pmod-floor quotient, but from
    independently-built calendars and windows."""
    from amazon_personalize_connectors_spark.operators.analytics import (
        gap_fill_days,
        interpolate_fill,
    )

    daily = (
        synthetic.load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    dense = gap_fill_days(
        daily, ["priority"], "day", "cents", fill_value=None
    ).select(
        "priority",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day_i"),
        F.col("cents").cast("bigint").alias("cents"),
    )
    out = interpolate_fill(dense, ["priority"], "day_i", "cents", scale=100)
    return out.select("priority", "day_i", "value_q", "is_interpolated")

__all__ = [
    "q_audio_frame_energy",
    "q_stream_cms_topk",
    "q_caliper_match_att",
    "q_anova_price_flag",
    "q_priority_revenue_ewma",
    "q_revenue_matrix_profile",
    "q_compaction_plan",
    "q_open_orders_sweep",
    "q_ams_f2",
    "q_cms_heavy_hitters",
    "q_dbscan_embeddings",
    "q_mmr_rerank",
    "_mmr_oracle_sql",
    "q_did_purchase_value",
    "q_graph_walks",
    "_walks_oracle_sql",
    "q_isotonic_calibration",
    "q_js_drift",
    "q_conformal_threshold",
    "q_bpe_train",
    "_bpe_oracle_sql",
    "_bpe_cte_prefix",
    "_bpe_rounds_sql",
    "_bpe_vocab_oracle_sql",
    "q_als_user_step",
    "q_stream_js_drift",
    "q_oof_target_encoding",
    "q_cuped_purchase",
    "q_rolling_ols_slope",
    "q_growth_accounting",
    "q_woe_iv_priority",
    "q_bootstrap_ci",
    "q_eb_shrunk_ctr",
    "q_winnowing_dedup",
    "q_bpe_vocab",
    "q_stream_conformal",
    "q_shapley_attribution",
    "q_stream_capped_balance",
    "q_stock_balance_floor",
    "q_part_reach_bfs",
    "q_price_interpolate_daily",
]


def q_ivf_refined_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refined-IVF serve from the PERSISTED index (round 9 — the
    build-once/probe-many split of VERDICT r8 item 4 as a registry
    query): ``refined_ivf_index_build`` runs the 2 Lloyd rounds and
    the corpus assignment ONCE and writes the ``ivf_index_build``
    layout; the probe is the SHARED ``ivf_probe_topk_indexed`` path
    (broadcast centroid join + partition-pruned list join). By the
    pinned indexed-serve law (tests/test_functions.py:
    test_refined_ivf_indexed_serve_equals_in_plan) the result is
    identical to the in-plan q:ivf_refined_probe at equal
    (rounds, nprobe, k), so the oracle reuses its SQL — the driver's
    hash row covers the persisted-serving strategy too."""
    import tempfile

    from amazon_personalize_connectors_spark.functions.similarity import (
        ivf_probe_topk_indexed,
        refined_ivf_index_build,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    idx = tempfile.mkdtemp(prefix="apcs_rivf_index_")
    refined_ivf_index_build(spark, emb, idx, rounds=2)
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_probe_topk_indexed(spark, idx, queries_df, k=5, nprobe=2).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("n_id").cast("bigint").alias("n_id"),
        "rank",
        "score",
    )


def q_hnsw_stream_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN serve from an index ASSEMBLED OFF THE MAINTAINED
    STREAM STORE (round 9 — VERDICT r8 item 5's build path as a
    registry query): the embeddings fold into the incremental edge
    store in three epochs (streaming/ann_monitor.apply_vectors_batch,
    the q:stream_hnsw_edges law machinery), then
    ``hnsw_index_from_store`` assembles the FULL serving index —
    symmetrize + prune, multi-table hubs, cross links — through the
    same ``_hnsw_assemble`` code as the batch build, and the standard
    beam probe serves it. By the full-index law
    (tests/test_ann_monitor.py:test_full_index_from_stream_equals_
    batch_build) the index is byte-identical to
    ``hnsw_index_build`` over the same corpus, so the oracle reuses
    q:hnsw_topk's SQL — a driver hash row that covers fold,
    assemble, and probe end to end."""
    import tempfile

    from amazon_personalize_connectors_spark.functions.similarity import (
        hnsw_probe_topk,
    )
    from amazon_personalize_connectors_spark.streaming.ann_monitor import (
        apply_vectors_batch,
        hnsw_index_from_store,
    )

    emb = synthetic.load_table(spark, sf_dir, "embeddings")
    store = tempfile.mkdtemp(prefix="apcs_hnsw_stream_store_")
    for ep, cond in enumerate(
        ("vec_id % 3 = 0", "vec_id % 3 = 1", "vec_id % 3 = 2")
    ):
        apply_vectors_batch(
            emb.where(cond), ep, store, m=12, n_bits=4, n_tables=4
        )
    index = tempfile.mkdtemp(prefix="apcs_hnsw_stream_index_")
    hnsw_index_from_store(spark, store, index, long_links=2, entry_sample=0)
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    return hnsw_probe_topk(spark, index, queries_df, k=5, ef=16, rounds=3)


__all__ += ["q_ivf_refined_index_probe", "q_hnsw_stream_index_probe"]
