"""Relational extensions the reference lacks but Spark SQL provides
free (SURVEY.md §2 Part B: grouping sets/rollup/cube, INTERSECT/EXCEPT,
explicit sort/limit/top-k) — declared as first-class engine operators so
the driver checks them, plus a TPC-H-style pricing summary that
exercises scan pruning + pushdown + partial aggregation on the largest
driver table.

None of these have reference semantics to preserve (the survey marks
them *extension, not in reference*), so they are written pure
Spark-idiomatic with exact DuckDB twins.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine.oracle.frags import SUP_METRICS_CTE, with_ctes
from tsengine.registry import register
from tsengine.session import scoped_session
from tsengine.sources.tables import load_table


@register(
    "rollup_agg",
    """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP — grouping-sets support comes
    free from Spark SQL (one Expand + one hash agg; partial aggregation
    still applies, so the shuffle carries pre-combined subtotal rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
    )


@register(
    "cube_agg",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations via CUBE over the orders dimensions."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "nation_intersect",
    """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def nation_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: nations having both customers and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@register(
    "orders_except",
    """
SELECT o_orderkey AS orderkey FROM orders
EXCEPT
SELECT l_orderkey AS orderkey FROM lineitem
""",
)
def orders_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: orders with no line items (non-empty on the
    driver fixtures — 257 keys at sf0.01 — so the check exercises
    values, not just an empty match)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey")
    )
    return o.subtract(li)  # EXCEPT DISTINCT semantics, matching SQL EXCEPT


@register(
    "topk_per_group",
    """
SELECT c_mktsegment, o_orderkey, o_totalprice
FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
WHERE rk <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price per market segment — rank-based
    top-k with a deterministic tiebreak; the join broadcasts customer
    when it fits (64 MB threshold) and the window's rank filter prunes
    per-partition before any global sort."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )


@register(
    "sorted_limit",
    """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def sorted_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge of N rows — never a full sort at any scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary on the largest driver table —
    the canonical scan-pushdown + partial-aggregation showcase: the
    shipdate filter and 7-column projection reach the parquet scan
    (PushedFilters/ReadSchema), map-side combine reduces the shuffle to
    a handful of group rows per task."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# skew handling: salted join
# ---------------------------------------------------------------------------

N_SALTS = 16


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    salt_src: str,
    n_salts: int = N_SALTS,
    join_hint: str | None = None,
) -> DataFrame:
    """Skew-safe equi-join: the large side gets a deterministic salt
    (pmod of a high-cardinality column, never engine rand() — the
    determinism policy, SURVEY.md §4.3), the small side is replicated
    across all salts, and the join key becomes (on, salt) so one hot
    key spreads over n_salts shuffle partitions instead of one.

    Use when the small side is too big to broadcast AND keys are
    skewed; AQE's skew-join split handles moderate skew automatically,
    but salting is the explicit tool for pathological keys (and works
    in streaming, where AQE does not)."""
    salted_large = large.withColumn("_salt", F.pmod(F.col(salt_src), F.lit(n_salts)))
    salts = large.sparkSession.range(n_salts).select(
        F.col("id").cast(salted_large.schema["_salt"].dataType).alias("_salt")
    )
    salted_small = small.crossJoin(salts)
    if join_hint:
        # hints must attach to the post-salt relation: one applied to
        # `small` before the crossJoin is lost (plan-verified)
        salted_small = salted_small.hint(join_hint)
    return salted_large.join(salted_small, [on, "_salt"]).drop("_salt")


@register(
    "salted_skew_join",
    """
SELECT l_returnflag, flag_class,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
JOIN (VALUES ('R', 'returned'), ('A', 'acked'), ('N', 'new'))
     AS dim(l_returnflag, flag_class) USING (l_returnflag)
GROUP BY 1, 2
""",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demonstration that salting preserves join semantics on a
    pathologically skewed key (l_returnflag: 3 distinct values over the
    whole lineitem table — an unsalted shuffle join lands each flag's
    entire volume on one reducer).  The oracle is the PLAIN join: the
    salt is physical, not semantic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_orderkey"
    )
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "acked"), ("N", "new")],
        ["l_returnflag", "flag_class"],
    )
    # hint the join away from broadcast so the salted shuffle path is
    # what actually executes (a 3-row dim would otherwise broadcast)
    joined = salted_join(
        li, dim, on="l_returnflag", salt_src="l_orderkey", join_hint="shuffle_hash"
    )
    return joined.groupBy("l_returnflag", "flag_class").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "group_quantiles",
    """
WITH ranked AS (
  SELECT l_returnflag,
         l_extendedprice AS v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       MAX(n) AS n,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN v END) AS p50,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN v END) AS p90,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN v END) AS p99
FROM ranked
GROUP BY l_returnflag
""",
)
def group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (p50/p90/p99 of extendedprice per
    returnflag) — the lower-ceil rank definition with a (orderkey,
    linenumber) tiebreak, computed by HISTOGRAM REFINEMENT so it stays
    parallel on a low-cardinality group key.

    The naive plan (row_number over partitionBy(returnflag)) collapses
    to |groups| single-threaded sort tasks: measured 85s / 115x at the
    100x tier (3 flags x 20M rows each).  This plan never sorts a full
    group: the value bucket is a FIXED monotone function of v —
    floor(128·log2(1+v)) — so per-(group, bucket) counts are the one
    full-data aggregation (parallel hash agg, map-side partials).  The
    whole bucket-count table is COLLECTED — bounded by
    |groups|·|buckets|, and |buckets| is bounded by the value DOMAIN
    (128 per octave: ≤ ~131k even for full-range doubles), never by
    row count — and the cumulative/target arithmetic runs driver-side
    in plain Python, which saves the r5 form's extra tiny-table window
    job (measured 0.71s -> 0.33s for the target pass at sf0.1).  The
    refinement pass then reads only the target buckets: a LITERAL
    MERGED list of flag-free v-ranges (widened to [vb(b-1), vb(b+2))
    to guard float skew between log2 and pow at bucket boundaries) is
    the pushdown-able coarse filter — ranges mostly coincide across
    groups, so the per-row predicate is a handful of double compares
    with no string ops (0.69s -> ~0.4s scan at sf0.1) — and the exact
    recomputed (group, bucket-id) membership keeps the candidate set
    identical to the agg pass.  Only those ~0.4% of rows are
    window-ranked.  Log-bucketing is monotone and equal values share a
    bucket, so in-bucket rank + preceding-bucket count reproduces the
    global rank exactly — same values as the oracle's global
    ROW_NUMBER.  (vs the round-4 broadcast-hash-probe form: 100x-tier
    refinement 4.7s -> 0.6s, ratio ~10x -> ~3x; this r6 revision
    recovers the sf0.1 wall the r5 rewrite spent, 1.55s -> ~1.1s warm,
    without changing the 100x shape.)

    r14 A/B (VERDICT r13 item 7): a fully-distributed two-pass — the
    bucket-count table kept as a DataFrame, targets located by window
    cumulative + cross-join with the quantile literals, candidates
    selected by broadcast join instead of the literal coarse filter —
    produces identical rows but measured SLOWER at both tiers (sf0.1
    0.93s -> 1.16s, 10x tier 1.07s -> 1.72s): the driver arithmetic is
    domain-bounded (~4k rows) while the join form computes the log2
    bucket for every row and loses the pushdown-able range predicate.
    The collect-based refinement stays."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = (0.5, 0.9, 0.99)

    ev = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        "l_orderkey",
        "l_linenumber",
    )
    # fixed monotone bucketing: no data-dependent min/max pre-pass
    bucket = F.floor(F.lit(128.0) * F.log2(F.lit(1.0) + F.col("v"))).cast("int")
    binned = ev.withColumn("bkt", bucket)
    # the one full-data job: per-(group, bucket) counts, map-side partials
    bc = (
        binned.groupBy("l_returnflag", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    # driver-side target location over the domain-bounded count table:
    # one (group, bucket, in-bucket-rank) row per quantile
    per: dict[str, dict[int, int]] = {}
    for r in bc:
        per.setdefault(r.l_returnflag, {})[r.bkt] = r.c
    trows = []  # (flag, bkt, q, n, rib)
    for flag, d in per.items():
        n = sum(d.values())
        cum = 0
        for b in sorted(d):
            c = d[b]
            for q in qs:
                t_rn = math.ceil(n * q)
                if cum < t_rn <= cum + c:
                    trows.append((flag, b, q, n, t_rn - cum))
            cum += c

    def _vb(b: int) -> float:
        return 2.0 ** (b / 128.0) - 1.0

    # coarse filter: merged flag-free v-ranges (pushdown-able, no
    # string compares in the hot per-row predicate)
    ivs = sorted((_vb(b - 1), _vb(b + 2)) for (_, b, _, _, _) in trows)
    merged = [list(ivs[0])]
    for lo, hi in ivs[1:]:
        if lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    coarse = None
    for lo, hi in merged:
        t = (F.col("v") >= lo) & (F.col("v") < hi)
        coarse = t if coarse is None else (coarse | t)
    # exact filter: recomputed bucket id against the per-group target
    # buckets — membership identical to the agg pass
    byflag: dict[str, list[int]] = {}
    for flag, b, _, _, _ in trows:
        byflag.setdefault(flag, []).append(b)
    exact = None
    for flag, bs in byflag.items():
        t = (F.col("l_returnflag") == flag) & (F.col("bkt").isin(bs))
        exact = t if exact is None else (exact | t)
    cand = ev.filter(coarse).withColumn("bkt", bucket).filter(exact)
    tdf = spark.createDataFrame(
        [(flag, b, float(q), n, rib) for (flag, b, q, n, rib) in trows],
        "l_returnflag string, bkt int, q double, n bigint, rib bigint",
    )
    wb = Window.partitionBy("l_returnflag", "bkt").orderBy(
        "v", "l_orderkey", "l_linenumber"
    )
    picked = (
        cand.withColumn("rn_b", F.row_number().over(wb))
        .join(F.broadcast(tdf), ["l_returnflag", "bkt"])
        .filter(F.col("rn_b") == F.col("rib"))
    )
    return picked.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("q") == 0.5, F.col("v"))).alias("p50"),
        F.max(F.when(F.col("q") == 0.9, F.col("v"))).alias("p90"),
        F.max(F.when(F.col("q") == 0.99, F.col("v"))).alias("p99"),
    )


@register("group_quantiles_approx", None)  # sketch output: rows-only check
def group_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of `group_quantiles`: t-digest style
    approx_percentile — one pass, mergeable partials, no per-group sort;
    the plan every 100 TB percentile job should run.  Rows-only checked
    (sketches are engine-specific); exactness is bounded by the
    `accuracy` knob and the exact query is the verifier.

    Output is three scalar ``double`` columns (not one ``array<double>``):
    the driver's rows-only canonicalizer pandas-sorts every column and
    cannot hash list cells (CORRECTNESS_r06 ``unhashable type: 'list'``).
    The aggregate still builds ONE shared sketch per group (the array
    form), then a post-agg projection unpacks it with element_at."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.9, 0.99], 10000
        ).alias("pq"),
    )
    return sk.select(
        "l_returnflag",
        "n",
        F.element_at("pq", 1).alias("p50"),
        F.element_at("pq", 2).alias("p90"),
        F.element_at("pq", 3).alias("p99"),
    )


@register(
    "analytic_windows",
    """
SELECT o_custkey,
       o_orderkey,
       NTILE(4) OVER w AS spend_quartile,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       ROUND(o_totalprice - LAG(o_totalprice, 1, 0.0) OVER w, 2) AS delta_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def analytic_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window-function coverage beyond ranking: NTILE buckets,
    CUME_DIST, and LAG deltas per customer — one sort-shuffle on the
    partition key serves all three frames (WINDOW clause reuse; Spark
    plans a single Window node)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 2
        ).alias("delta_prev"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_types",
    """
SELECT user_id,
       ROUND(AVG(value) FILTER (WHERE event_type = 'click'), 6) AS click,
       ROUND(AVG(value) FILTER (WHERE event_type = 'error'), 6) AS error,
       ROUND(AVG(value) FILTER (WHERE event_type = 'purchase'), 6) AS purchase,
       ROUND(AVG(value) FILTER (WHERE event_type = 'signup'), 6) AS signup,
       ROUND(AVG(value) FILTER (WHERE event_type = 'view'), 6) AS view
FROM events
GROUP BY user_id
""",
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long event rows -> one wide row per user with the average
    value per event type.  The pivot values are declared explicitly, so
    Spark skips the distinct-discovery job and plans ONE hash aggregate
    with five conditional aggs — identical shuffle shape to a plain
    groupBy, scale-safe (the oracle is the FILTER-clause spelling of the
    same conditional aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.round(F.avg("value"), 6))
    )
    return piv


@register(
    "unpivot_event_types",
    """
SELECT user_id, event_type, ROUND(AVG(value), 6) AS avg_value
FROM events
GROUP BY user_id, event_type
""",
)
def unpivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-user table back to long rows.
    Composing pivot -> unpivot and checking against a direct group-by
    oracle proves the round trip is lossless (NULL cells — types the
    user never emitted — are dropped, exactly the rows the direct
    group-by never produces).  ``unpivot`` is a zero-shuffle projection
    (each wide row expands map-side)."""
    wide = pivot_event_types(spark, sf_dir)
    return (
        wide.unpivot(["user_id"], list(_EVENT_TYPES), "event_type", "avg_value")
        .filter(F.col("avg_value").isNotNull())
        .select("user_id", "event_type", F.round("avg_value", 6).alias("avg_value"))
    )


@register(
    "distinct_counts",
    """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
""",
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct cardinality per group — Spark plans the two-level
    expand + partial-distinct aggregation (map-side dedup before the
    shuffle).  The exact form is the verifier for the HLL sketch twin
    below."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register("distinct_counts_approx", None)  # sketch output: rows-only check
def distinct_counts_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of `distinct_counts`: HyperLogLog++
    approx_count_distinct — one pass, fixed-size mergeable sketches, no
    distinct expansion; the plan every 100 TB cardinality job should
    run.  Rows-only checked (sketch estimates are engine-specific); the
    relative-error bound vs the exact twin is pytest-pinned."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "results_upsert",
    with_ctes(SUP_METRICS_CTE)
    + """,
base AS (SELECT * FROM sup_metrics),
delta AS (
  SELECT n_epochs, model, batch_size, ROUND(roc_auc + 0.01, 6) AS roc_auc
  FROM base WHERE model = 'T_CPC'
)
SELECT COALESCE(d.n_epochs, b.n_epochs) AS n_epochs,
       COALESCE(d.model, b.model) AS model,
       COALESCE(d.batch_size, b.batch_size) AS batch_size,
       COALESCE(d.roc_auc, b.roc_auc) AS roc_auc,
       CASE WHEN d.model IS NOT NULL THEN 1 ELSE 0 END AS updated
FROM base b FULL OUTER JOIN delta d
  ON b.n_epochs = d.n_epochs AND b.model = d.model
 AND b.batch_size = d.batch_size
""",
)
def results_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics over the results table (engine extension —
    the reference only ever appends, `unsupervised.py:478-479`): a delta
    batch of re-run metrics replaces matching (n_epochs, model,
    batch_size) rows and would insert unmatched ones.  Expressed as a
    key-equi FULL OUTER JOIN + COALESCE — the shuffle is on the merge
    key, which is how a lakehouse MERGE INTO executes at scale (Spark
    alone has no transactional sink; a production deployment backs this
    with a format that does).  The `updated` flag marks replaced rows."""
    from tsengine.operators.relational import sup_metrics

    base = sup_metrics(spark, sf_dir)
    delta = base.filter(F.col("model") == "T_CPC").select(
        "n_epochs",
        "model",
        "batch_size",
        F.round(F.col("roc_auc") + 0.01, 6).alias("roc_auc"),
    )
    b = base.alias("b")
    d = delta.alias("d")
    cond = (
        (F.col("b.n_epochs") == F.col("d.n_epochs"))
        & (F.col("b.model") == F.col("d.model"))
        & (F.col("b.batch_size") == F.col("d.batch_size"))
    )
    return b.join(d, cond, "full_outer").select(
        F.coalesce(F.col("d.n_epochs"), F.col("b.n_epochs")).alias("n_epochs"),
        F.coalesce(F.col("d.model"), F.col("b.model")).alias("model"),
        F.coalesce(F.col("d.batch_size"), F.col("b.batch_size")).alias("batch_size"),
        F.coalesce(F.col("d.roc_auc"), F.col("b.roc_auc")).alias("roc_auc"),
        F.when(F.col("d.model").isNotNull(), 1).otherwise(0).alias("updated"),
    )


@register(
    "semi_join",
    """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (SQL EXISTS): customers that placed at least one
    order.  The build side carries only the join key, so at 100 TB the
    semi join shuffles a single bigint column — never the payload — and
    short-circuits on first match (no row multiplication).

    shuffle_hash pinned (r7, VERDICT r6 item 6): the build side is the
    UNFILTERED orders key column — proportional to the fact table, so
    it can never broadcast at the design scale; locally it sat just
    under the 64 MB threshold at the 100x tier and the driver
    collect+broadcast inflated the tail ratio to 25.8x (SCALING_TAIL's
    documented artifact; the r7 shuffle-probe row read 5.3x, the r8
    re-probe 4.3x — same noise band, both far under the artifact).
    Pinning makes the local plan THE cluster plan —
    same rationale as perplexity_filter's LM join.  Contrast
    `anti_join`, whose build side is a selective filter and stays
    AQE-chosen."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(
        o.hint("shuffle_hash"), c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@register(
    "anti_join",
    """
SELECT c_custkey, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
""",
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (SQL NOT EXISTS): customers with no high-value
    order — the TPC-H Q22 shape, and the relational primitive under
    ``decontaminate``'s benchmark exclusion (corpus.py).  The price
    filter pushes to the orders scan BEFORE the join, so the build side
    is pre-pruned keys only (non-empty on driver fixtures: 30 customers
    at sf0.01, so the check exercises values, not an empty match)."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_acctbal")


# ---------------------------------------------------------------------------
# runtime bloom-filter join pruning
# ---------------------------------------------------------------------------

# Conf bundle under which Catalyst's InjectRuntimeFilter rule rewrites
# the semi join below into: bloom_filter_agg over the (selective) build
# side -> a might_contain(...) filter pushed onto the probe-side SCAN.
# The thresholds exist because runtime filters only pay off when the
# probe side is huge — exactly the 100 TB design point; production would
# keep the defaults (creation side <= 10 MB, probe scan >= 10 GB) and
# get the rewrite automatically.  Locally the tables are far below the
# probe threshold, so the query plans on a child session with these
# confs and binds eagerly to demonstrate the plan a cluster would run.
_BLOOM_CONFS = {
    # force the shuffle join (runtime filters never fire on broadcasts —
    # a broadcast build side IS already a perfect filter)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}


def _bloom_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@register(
    "bloom_pruned_join",
    """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey
                AND o.o_totalprice > 400000)
GROUP BY l_returnflag
""",
)
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning — the 100 TB join-reduction
    pattern: revenue of line items belonging to high-value orders, as a
    shuffle semi join whose probe side is pre-filtered AT THE SCAN by a
    bloom filter built from the selective build side (Catalyst's
    InjectRuntimeFilter: ``bloom_filter_agg`` on the orders keys feeds a
    ``might_contain`` predicate pushed onto the lineitem scan, so ~90%
    of probe rows die before the shuffle instead of after it).  The
    bloom is a pre-filter only — false positives are removed by the
    exact join — so results are identical to the plain semi join, which
    is the oracle.

    The rewrite is an optimizer-time rule gated on size thresholds
    (default: probe scan >= 10 GB), so this query plans on a
    ``scoped_session`` child carrying ``_BLOOM_CONFS`` and binds its
    3-row aggregate EAGERLY (localCheckpoint) there; production at the
    design scale runs the identical declarative join with default confs
    and gets the same plan from the optimizer.  tests/test_plan_contracts.py
    pins the bloom filter's presence in the optimized plan."""
    child = scoped_session(spark, _BLOOM_CONFS)
    return _bloom_join_df(child, sf_dir).localCheckpoint(eager=True)


_PROFILE_NUM = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR = ("o_orderstatus", "o_orderpriority", "o_odate")

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       {f'CAST(MIN({c}) AS DOUBLE)' if c in _PROFILE_NUM else 'CAST(NULL AS DOUBLE)'} AS min_num,
       {f'CAST(MAX({c}) AS DOUBLE)' if c in _PROFILE_NUM else 'CAST(NULL AS DOUBLE)'} AS max_num,
       {f'MIN({c})' if c not in _PROFILE_NUM else 'CAST(NULL AS VARCHAR)'} AS min_str,
       {f'MAX({c})' if c not in _PROFILE_NUM else 'CAST(NULL AS VARCHAR)'} AS max_str
FROM (SELECT *, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_odate FROM orders)"""
    for c in _PROFILE_NUM + _PROFILE_STR
)


@register("table_profile", _PROFILE_ORACLE)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style single-pass column profiling of ``orders`` —
    per-column null count, exact distinct count, and min/max (numeric
    columns in ``min_num/max_num``, string-typed ones, incl. the ISO
    date rendering of o_orderdate, in ``min_str/max_str``; types are
    kept in separate columns so no float ever round-trips through a
    string).  The profile every ingestion pipeline runs before
    trusting a new 100 TB drop.

    Scale shape: ONE scan + one global aggregation.  The mixed exact
    COUNT(DISTINCT) set makes Catalyst plan a single Expand (x7 rows,
    map-side partials still apply) rather than 6 scans; the approx
    alternative for when x7 is too hot is ``distinct_counts_approx``.
    The wide 1-row agg result is then unpivoted driver-free with
    ``stack``."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_odate", F.col("o_orderdate").cast("date").cast("string")
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs.append(F.count(c).alias(f"_c_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
        if c in _PROFILE_NUM:
            aggs.append(F.min(c).cast("double").alias(f"_mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"_mx_{c}"))
        else:
            aggs.append(F.min(c).alias(f"_mn_{c}"))
            aggs.append(F.max(c).alias(f"_mx_{c}"))
    wide = o.agg(*aggs)
    rows = ", ".join(
        f"'{c}', _n - _c_{c}, _d_{c}, "
        + (
            f"_mn_{c}, _mx_{c}, CAST(NULL AS STRING), CAST(NULL AS STRING)"
            if c in _PROFILE_NUM
            else f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), _mn_{c}, _mx_{c}"
        )
        for c in _PROFILE_NUM + _PROFILE_STR
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_NUM + _PROFILE_STR)}, {rows}) AS "
        "(col_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
    )


_Z_BITS = 16
_Z_FILE_SHIFT = 20  # fixed 2^20-wide z-ranges ("files")
_Z_TERMS_SQL = " | ".join(
    f"(((cx >> {i}) & 1) << {2 * i}) | (((dy >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@register(
    "zorder_layout",
    f"""
WITH dims AS (
  SELECT (o_custkey & 65535) AS cx,
         (datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535) AS dy
  FROM orders
),
z AS (SELECT cx, dy, ({_Z_TERMS_SQL}) AS zv FROM dims)
SELECT zv >> {_Z_FILE_SHIFT} AS file_id, COUNT(*) AS n_rows,
       MIN(cx) AS min_cust, MAX(cx) AS max_cust,
       MIN(dy) AS min_day, MAX(dy) AS max_day
FROM z GROUP BY 1
""",
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-code) layout planner over orders on the
    (customer, order-day) pair: interleave the low 16 bits of each
    dimension into a 32-bit z-value, assign rows to fixed 2^20-wide
    z-ranges ("files"; range count scales with the occupied z domain), and report each file's min/max per dimension —
    the data-skipping footprint a reader's min-max pruning would see.

    This is how you lay out 100 TB for TWO-dimensional predicate
    pruning when partitioning can only give you one dimension: in
    production the same z column feeds
    ``repartitionByRange(n_files, zv).sortWithinPartitions(zv)`` before the
    parquet write (cf. ``sink_partitioned``); this registered query
    computes the layout plus its effectiveness stats as one
    shuffle-once aggregation.  The bit interleave is a pure integer
    projection — whole-stage codegen on both engines, bit-identical
    across Spark and DuckDB."""
    o = load_table(spark, sf_dir, "orders")
    cx = F.col("o_custkey").bitwiseAND(F.lit(65535))
    dy = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .bitwiseAND(F.lit(65535))
    )
    dims = o.select(cx.alias("cx"), dy.alias("dy"))
    zv = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        zv = zv.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("cx"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("dy"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    z = dims.withColumn("zv", zv)
    return z.groupBy(F.shiftright(F.col("zv"), _Z_FILE_SHIFT).alias("file_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cx").alias("min_cust"),
        F.max("cx").alias("max_cust"),
        F.min("dy").alias("min_day"),
        F.max("dy").alias("max_day"),
    )


@register(
    "grouping_sets_agg",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                        (l_returnflag, l_linestatus))
""",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the non-hierarchical sibling of
    ``rollup_agg``/``cube_agg`` (marginals over EACH dimension plus the
    full cross, without CUBE's grand total): one Expand + one hash agg,
    partial aggregation intact.  GROUPING() markers disambiguate a
    subtotal's NULL from a data NULL — the canonical pattern for
    dashboard marginals computed in one corpus pass instead of three."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )
