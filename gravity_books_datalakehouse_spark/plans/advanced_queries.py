"""Advanced relational shapes: grouping sets, histograms, range joins.

Extends the proven aggregate/join surface (operator_queries) with three
shapes the reference lacks entirely (SURVEY.md §2.4/§2.7 mark grouping
variants and non-equi joins ABSENT) but that any warehouse user expects:

- GROUPING SETS — the general form of the already-covered ROLLUP/CUBE.
- fixed-width histogram — the profiling companion to op_profile_columns.
- time-range self-join — bucketized into an equi-join, the ONLY way a
  range join survives 100 TB (a raw non-equi join is a nested-loop /
  IEJoin that cannot hash-partition).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

from gravity_books_datalakehouse_spark.plans._cache import session_memo
from gravity_books_datalakehouse_spark.plans.operator_queries import (
    _cents,
    _money,
    _money_sum,
    register,
)
from gravity_books_datalakehouse_spark.sources.catalog import load_table


@register(
    "op_a_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
              GROUPING(o_orderstatus, o_orderpriority) AS gid,
              COUNT(*) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
)
def op_a_grouping_sets(spark, sf_dir):
    """GROUPING SETS — arbitrary aggregation lattices beyond the ROLLUP/
    CUBE hierarchies (op_a_rollup/op_a_cube): per-status totals,
    per-priority totals, and the grand total, with NO (status, priority)
    cross cells. Spark expands the sets before a single partial+final
    hash aggregate — one fact scan, one shuffle, however many sets.
    grouping_id bit order matches DuckDB's GROUPING(a, b)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  grouping_id(o_orderstatus, o_orderpriority) AS gid,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM v_orders_gs
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
    )


@register(
    "op_f_histogram",
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS price_bucket,
              COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS bucket_total
       FROM orders
       GROUP BY 1
       ORDER BY price_bucket""",
)
def op_f_histogram(spark, sf_dir):
    """Fixed-width histogram (50 k buckets over order value, ~10 bins at
    this data's [1 k, 500 k] range) — the distribution half of data
    profiling. floor of an IEEE double division is bit-identical across
    engines, so the bucket edges need no rounding discipline. Single
    scan, partial+final agg; bucket count is data-range-bound, not
    row-count-bound, so the plan is SF-invariant."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(50000.0))
            .cast("bigint")
            .alias("price_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum(_cents("o_totalprice"), 2).cast("double").alias("bucket_total"),
        )
        .transform(bounded_sort, "price_bucket")
    )


#: Range-join window: events within the preceding 10 minutes.
_RANGE_US = 600_000_000


@register(
    "op_j_range_bucketed",
    """SELECT p.event_id, COUNT(e.ts) AS n_recent
       FROM events p
       LEFT JOIN events e
         ON e.user_id = p.user_id
        AND e.ts::TIMESTAMP < p.ts::TIMESTAMP
        AND e.ts::TIMESTAMP >= p.ts::TIMESTAMP - INTERVAL '10 minutes'
       WHERE p.event_type = 'purchase'
       GROUP BY p.event_id""",
)
def op_j_range_bucketed(spark, sf_dir):
    """Time-range self-join, bucketized: for every purchase, how many
    same-user events landed in the preceding 10 minutes.

    The oracle states it as a non-equi join (DuckDB runs an IEJoin). A
    non-equi join cannot hash-partition, so at 100 TB Spark would fall
    back to a broadcast-nested-loop over the whole events table — the
    classic scale cliff. The Spark plan here converts it to an EQUI-join:
    both sides bucket ts into 10-minute epochs; probe events announce
    themselves to their own bucket and the next one (a purchase in bucket
    k can only see events from buckets k-1 and k), so every qualifying
    pair meets on exactly one (user_id, bucket) key, the residual range
    predicate filters within the 2× candidate fan-out, and the join
    shuffles/hashes on (user_id, bucket) like any other equi-join. The
    left join keeps zero-activity purchases (COUNT over the probe ts
    ignores nulls in both engines)."""
    from gravity_books_datalakehouse_spark.streaming.event_queries import load_events

    ev = load_events(spark, sf_dir)
    bucket = lambda c: (F.unix_micros(F.col(c)) / F.lit(_RANGE_US)).cast("bigint")  # noqa: E731
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        bucket("ts").alias("p_bucket"),
    )
    probes = ev.select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
        F.explode(
            F.array(bucket("ts"), bucket("ts") + F.lit(1))
        ).alias("e_bucket"),
    )
    joined = purchases.join(
        probes,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("p_bucket") == F.col("e_bucket"))
        & (F.col("e_ts") < F.col("p_ts"))
        & (
            F.unix_micros(F.col("e_ts"))
            >= F.unix_micros(F.col("p_ts")) - F.lit(_RANGE_US)
        ),
        "left",
    )
    return joined.groupBy("event_id").agg(F.count("e_ts").alias("n_recent"))


@register(
    "op_w_trailing_range_frame",
    """SELECT nation_name, day_int,
              CAST(day_rev AS DOUBLE) AS day_rev,
              CAST(SUM(day_rev) OVER (
                     PARTITION BY nation_name ORDER BY day_int
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS trailing_7d_rev
       FROM (
         SELECT n.n_name AS nation_name,
                CAST(date_diff('day', DATE '1970-01-01',
                               CAST(o.o_orderdate AS DATE)) AS BIGINT) AS day_int,
                SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS day_rev
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2
       )""",
)
def op_w_trailing_range_frame(spark, sf_dir):
    """RANGE-frame window: per-nation trailing 7-DAY revenue — a frame
    defined by the ORDER-BY *value* (calendar distance), not row count,
    so gaps in the date sequence are handled correctly (a ROWS frame
    would silently span more than a week across missing days).

    Two-level plan: daily pre-aggregation first (shuffle carries one row
    per nation×day, not per order), then the window over the compacted
    frame — the shuffle-minimizing decomposition for windowed rollups at
    any scale. The inner sums stay exact decimal; doubles appear only in
    the output casts, so the trailing sums are bit-equal cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_int"),
        )
        .agg(_money_sum(_cents("o_totalprice"), 2).alias("day_rev"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("nation_name")
        .orderBy("day_int")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "nation_name",
        "day_int",
        F.col("day_rev").cast("double").alias("day_rev"),
        F.sum("day_rev").over(w).cast("double").alias("trailing_7d_rev"),
    )


@register(
    "op_w_value_functions",
    """SELECT c_mktsegment, c_custkey,
              ROUND(percent_rank() OVER w, 6) AS bal_pct_rank,
              first_value(c_custkey) OVER w2 AS richest_custkey,
              last_value(c_custkey) OVER w2 AS poorest_custkey
       FROM customer
       WINDOW w  AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey ASC),
              w2 AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)""",
)
def op_w_value_functions(spark, sf_dir):
    """Window value functions: percent_rank (relative standing) plus
    first/last_value over an explicitly unbounded frame — last_value
    with the DEFAULT frame (… AND CURRENT ROW) is the classic silent
    bug, returning each row's own value; both engines share that
    default, so the explicit frame is the portable spelling. The
    tie-broken ORDER BY makes percent_rank's rank (and thus the whole
    output) deterministic. One shuffle on the partition key serves all
    three functions (same window spec family)."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    order = [F.desc("c_acctbal"), F.asc("c_custkey")]
    w = Window.partitionBy("c_mktsegment").orderBy(*order)
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.first("c_custkey").over(w2).alias("richest_custkey"),
        F.last("c_custkey").over(w2).alias("poorest_custkey"),
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "op_unpivot_roundtrip",
    """SELECT t.event_type,
              CAST(SUM(COALESCE(c.n, 0)) AS BIGINT) AS total_events,
              CAST(SUM(CASE WHEN COALESCE(c.n, 0) = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_users_zero
       FROM (SELECT DISTINCT user_id FROM events) u
       CROSS JOIN (SELECT unnest(['click','view','purchase','signup','error'])
                     AS event_type) t
       LEFT JOIN (SELECT user_id, event_type, COUNT(*) AS n
                  FROM events GROUP BY 1, 2) c
         ON c.user_id = u.user_id AND c.event_type = t.event_type
       GROUP BY t.event_type""",
)
def op_unpivot_roundtrip(spark, sf_dir):
    """UNPIVOT (wide→long), the inverse of op_pivot_event_counts: per-user
    counts are pivoted wide (zero-filled), unpivoted back to long, and
    summarized per type — including how many users have ZERO of each
    type, a row that exists only because the wide form densifies the
    (user × type) matrix. Spark's ``unpivot`` is a zero-shuffle expand
    (each wide row emits |value columns| long rows in place); the oracle
    reconstructs the densified matrix relationally with a cross join."""
    from gravity_books_datalakehouse_spark.streaming.event_queries import load_events

    ev = load_events(spark, sf_dir)
    wide = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    wide = wide.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in _EVENT_TYPES],
    )
    long = wide.unpivot("user_id", _EVENT_TYPES, "event_type", "n")
    return long.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total_events"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_users_zero"),
    )


@register(
    "op_fk_orphan_audit",
    """SELECT 'lineitem.l_orderkey->orders' AS fk, COUNT(*) AS n_orphans
       FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
       UNION ALL
       SELECT 'orders.o_custkey->customer' AS fk, COUNT(*) AS n_orphans
       FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
       UNION ALL
       SELECT 'customer.c_nationkey->nation' AS fk, COUNT(*) AS n_orphans
       FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey
       ORDER BY fk""",
)
def op_fk_orphan_audit(spark, sf_dir):
    """Referential-integrity audit: orphan counts for every FK edge of
    the star, as one unioned report — the post-load data-quality gate a
    lakehouse runs where an RDBMS would enforce constraints (Parquet
    enforces nothing; the reference leans on MySQL FKs, SURVEY §1.3).
    Each check is a left-anti join that only MATERIALIZES misses, so a
    clean 100 TB audit streams through without buffering matches; the
    dim-sided builds broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def check(child, parent, cond, label):
        return child.join(parent, cond, "left_anti").agg(
            F.lit(label).alias("fk"), F.count(F.lit(1)).alias("n_orphans")
        )

    return (
        check(li, o, li.l_orderkey == o.o_orderkey, "lineitem.l_orderkey->orders")
        .unionByName(
            check(o, c, o.o_custkey == c.c_custkey, "orders.o_custkey->customer")
        )
        .unionByName(
            check(c, n, c.c_nationkey == n.n_nationkey, "customer.c_nationkey->nation")
        )
        .orderBy("fk")
    )


@register(
    "op_w_gap_fill_forward",
    """WITH daily AS (
         SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         FROM orders GROUP BY 1, 2),
       bounds AS (
         SELECT o_orderpriority, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
       spine AS (
         SELECT o_orderpriority,
                CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
         FROM bounds),
       j AS (
         SELECT s.o_orderpriority, s.d, daily.rev
         FROM spine s LEFT JOIN daily USING (o_orderpriority, d))
       SELECT o_orderpriority, d,
              ROUND(last_value(rev IGNORE NULLS) OVER (
                PARTITION BY o_orderpriority ORDER BY d
                ROWS UNBOUNDED PRECEDING), 2) AS rev_filled,
              rev IS NULL AS was_filled
       FROM j""",
)
def op_w_gap_fill_forward(spark, sf_dir):
    """Time-series regularization: a complete per-series daily date spine
    with forward-filled values (LOCF) — the gap-fill every downstream
    rolling metric needs before it can assume dense time. Three stages,
    all bounded: per-(series, day) pre-aggregation (exact decimal), a
    spine generated from each series' own [min, max] date range
    (sequence + explode — rows proportional to the CALENDAR, not the
    fact table), and one ordered window per series with
    last(ignorenulls) as the fill. The window partitions by series key,
    so fill state never crosses series and the sort is per-partition."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("d"),
            _cents("o_totalprice").alias("p_c"),
        )
        .groupBy("o_orderpriority", "d")
        .agg(_money_sum(F.col("p_c"), 2).cast("double").alias("rev"))
    )
    bounds = daily.groupBy("o_orderpriority").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "o_orderpriority",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    j = spine.join(daily, ["o_orderpriority", "d"], "left")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "o_orderpriority",
        "d",
        F.round(F.last("rev", ignorenulls=True).over(w), 2).alias("rev_filled"),
        F.col("rev").isNull().alias("was_filled"),
    )


@register(
    "op_outliers_mad",
    """WITH pb AS (
         SELECT p.p_brand, l.l_extendedprice AS x
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       med AS (
         SELECT p_brand, quantile_disc(x, 0.5) AS med FROM pb GROUP BY 1),
       mad AS (
         SELECT p_brand, quantile_disc(abs(x - med), 0.5) AS mad
         FROM pb JOIN med USING (p_brand) GROUP BY p_brand)
       SELECT p_brand,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(MAX(med), 2) AS median_price,
              ROUND(MAX(mad), 2) AS mad_price,
              CAST(SUM(CASE WHEN abs(x - med) > 3 * mad THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_outliers
       FROM pb JOIN med USING (p_brand) JOIN mad USING (p_brand)
       GROUP BY p_brand
       ORDER BY p_brand""",
)
def op_outliers_mad(spark, sf_dir):
    """Robust per-group outlier detection: median / MAD (median absolute
    deviation) per part brand, rows beyond 3 MAD flagged — the
    outlier rule that, unlike mean/stddev z-scores, is not itself
    dragged by the outliers it hunts. DISCRETE quantiles (actual data
    values, no midpoint interpolation) keep the statistic bit-identical
    across engines — interpolated medians differ in the last ulp and
    flip roundings at .xx5 boundaries. Exact MAD is inherently
    two-pass (the deviation median needs the median first); both
    passes are partial-aggregated percentiles keyed by brand, and the
    per-brand medians ride back as broadcast joins. This is the EXACT
    oracle variant — it shuffles the raw per-brand values for the
    discrete percentile; ``op_outliers_mad_tdigest`` below is the
    100-TB path (same shape, t-digest sketch partials, shuffle is
    per-brand digests instead of raw prices; tolerance-band-tested
    against this query in tests/test_sketches.py).

    Considered and measured (round 7): a bounded-domain histogram form
    (the q_order_to_ship_lag technique — prices are 2-dp so the
    per-brand value histogram saturates at ~10^7 entries) is exact and
    removes the raw-value buffering, but at this value density the
    histogram barely compresses (583k distinct of 600k at sf0.1), the
    wall-clock is identical, and its 4-window pipeline OOMs under the
    bench's forced-spill pressure probe where this form degrades
    gracefully. The sketch twin stays the scale answer for continuous
    domains; the histogram is applied where the domain is genuinely
    small (ship-lag days)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Round 14 (VERDICT r13 item 6): the med, mad and final aggregates
    # each consumed their own scan of lineitem + broadcast join + their
    # own (brand, x) exchange into a SortAggregate — three passes over
    # the fact table for one 25-brand result. One explicit brand-hash
    # repartition, localCheckpoint'd, feeds all three aggregates
    # shuffle-free (the checkpointed relation keeps its HashPartitioning,
    # which satisfies every downstream groupBy("p_brand") distribution);
    # the per-brand med/mad still ride back as broadcast joins. Values
    # unchanged: repartitioning permutes rows only, and every aggregate
    # here (discrete percentile = order statistic, count, sum of
    # integer flags) is row-order-invariant.
    pb = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("p_brand", F.col("l_extendedprice").alias("x"))
        .repartition(spark.sparkContext.defaultParallelism, "p_brand")
        .localCheckpoint()
    )
    med = pb.groupBy("p_brand").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)").alias("med")
    )
    with_med = pb.join(F.broadcast(med), "p_brand")
    mad = with_med.groupBy("p_brand").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(x - med))").alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.max("med"), 2).alias("median_price"),
            F.round(F.max("mad"), 2).alias("mad_price"),
            F.sum(
                F.when(F.abs(F.col("x") - F.col("med")) > 3 * F.col("mad"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .transform(bounded_sort, "p_brand")
    )


@register("op_outliers_mad_tdigest", None)  # rows-only: sketch estimates
def op_outliers_mad_tdigest(spark, sf_dir):
    """The 100-TB variant of ``op_outliers_mad``: identical semantics
    and output schema, but both percentile passes use the t-digest
    sketch (``percentile_approx``) instead of the exact discrete
    percentile. The exact variant's SortAggregate must shuffle every
    raw per-brand price (10.9 MB at sf0.1, ~10 TB at target scale);
    here each pass partial-aggregates a bounded t-digest per partition
    and shuffles only per-brand digests — O(brands x accuracy)
    regardless of row count. No SQL oracle by design (sketch estimates
    are implementation-specific); tests/test_sketches.py asserts a
    tolerance band against the exact query on real data."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    acc = 10_000
    pb = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand", F.col("l_extendedprice").cast("double").alias("x")
    )
    med = pb.groupBy("p_brand").agg(
        F.percentile_approx("x", F.lit(0.5), F.lit(acc)).alias("med")
    )
    with_med = pb.join(F.broadcast(med), "p_brand")
    mad = with_med.groupBy("p_brand").agg(
        F.percentile_approx(
            F.abs(F.col("x") - F.col("med")), F.lit(0.5), F.lit(acc)
        ).alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.max("med"), 2).alias("median_price"),
            F.round(F.max("mad"), 2).alias("mad_price"),
            F.sum(
                F.when(F.abs(F.col("x") - F.col("med")) > 3 * F.col("mad"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .transform(bounded_sort, "p_brand")
    )


@register(
    "q_customer_rfm_segments",
    """WITH per_cust AS (
         SELECT o_custkey,
                MAX(CAST(o_orderdate AS DATE)) AS last_order,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
         FROM orders GROUP BY o_custkey),
       scored AS (
         SELECT o_custkey,
                ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
                ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS f,
                ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m,
                n_orders, monetary
         FROM per_cust)
       SELECT r, f, m,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(SUM(n_orders) AS BIGINT) AS total_orders,
              ROUND(SUM(monetary), 2) AS total_monetary
       FROM scored
       GROUP BY r, f, m
       ORDER BY r, f, m""",
)
def q_customer_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (recency/frequency/monetary quintiles)
    — the classic marketing-analytics rollup. One groupBy on customer,
    three global ntile windows over the customer-cardinality aggregate
    (dim-sized, never fact-sized — the windows sort |customers| rows,
    not |orders|), then a cell rollup. Deterministic quintiles via
    customer-id tiebreaks; exact-decimal monetary sums.

    Scale bound + escape hatch (the global-window contract): each
    unpartitioned ntile is a SINGLE-TASK sort of the per-customer
    aggregate — one executor must hold |customers| rows (~25 bytes/row
    here: three of these windows over 10⁸ customers ≈ a few GB on one
    task — survivable but the straggler). Past that, swap to broadcast
    `approx_percentile(x, array(0.2,0.4,0.6,0.8))` cut-points + CASE
    binning (map-side, no window; trades exact per-quintile
    cardinality under ties), or the two-pass bucketed rank
    ev_watermark_lateness_profile demonstrates (exact, 256-bucket
    histogram + per-bucket offset) when exact quintile populations
    must survive."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        _money_sum(_cents("o_totalprice"), 2).cast("double").alias("monetary"),
    )
    r = F.ntile(5).over(Window.orderBy(F.desc("last_order"), F.asc("o_custkey")))
    f = F.ntile(5).over(Window.orderBy(F.desc("n_orders"), F.asc("o_custkey")))
    m = F.ntile(5).over(Window.orderBy(F.desc("monetary"), F.asc("o_custkey")))
    scored = per_cust.select(
        "o_custkey", r.alias("r"), f.alias("f"), m.alias("m"), "n_orders", "monetary"
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("n_orders").cast("bigint").alias("total_orders"),
            F.round(F.sum("monetary"), 2).alias("total_monetary"),
        )
        .transform(bounded_sort, "r", "f", "m")
    )


@register(
    "q_revenue_pareto",
    """WITH per_cust AS (
         SELECT o_custkey,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
         FROM orders GROUP BY o_custkey),
       ranked AS (
         SELECT rev,
                SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                               ROWS UNBOUNDED PRECEDING) - rev AS cum_prev,
                SUM(rev) OVER () AS total
         FROM per_cust)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(COUNT(CASE WHEN cum_prev * 2 < total THEN 1 END) AS BIGINT)
                AS n_for_50pct,
              CAST(COUNT(CASE WHEN cum_prev * 5 < total * 4 THEN 1 END) AS BIGINT)
                AS n_for_80pct,
              CAST(COUNT(CASE WHEN cum_prev * 10 < total * 9 THEN 1 END) AS BIGINT)
                AS n_for_90pct
       FROM ranked""",
)
def q_revenue_pareto(spark, sf_dir):
    """Revenue concentration (Pareto): the smallest number of customers
    covering 50/80/90% of total revenue — the who-matters question every
    account team asks. Cumulative share via one window over the
    customer-cardinality aggregate; the threshold tests are EXACT
    integer-scaled decimal comparisons (cum*2 < total, etc.), so no
    float share ever decides a boundary customer differently across
    engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        _money_sum(_cents("o_totalprice"), 2).alias("rev")
    )
    w = Window.orderBy(F.desc("rev"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = per_cust.select(
        "rev",
        (F.sum("rev").over(w) - F.col("rev")).alias("cum_prev"),
        F.sum("rev").over(
            Window.partitionBy()
        ).alias("total"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.count(F.when(F.col("cum_prev") * 2 < F.col("total"), 1))
        .cast("bigint").alias("n_for_50pct"),
        F.count(F.when(F.col("cum_prev") * 5 < F.col("total") * 4, 1))
        .cast("bigint").alias("n_for_80pct"),
        F.count(F.when(F.col("cum_prev") * 10 < F.col("total") * 9, 1))
        .cast("bigint").alias("n_for_90pct"),
    )


@register(
    "q_order_to_ship_lag",
    """SELECT o.o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(quantile_disc(
                     date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)), 0.5) AS BIGINT)
                AS median_lag_days,
              CAST(quantile_disc(
                     date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)), 0.9) AS BIGINT)
                AS p90_lag_days
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY o.o_orderpriority
       ORDER BY o.o_orderpriority""",
)
def q_order_to_ship_lag(spark, sf_dir):
    """Fulfilment latency per order priority: median/p90 days between
    order and line shipment — the operational SLA rollup.

    The discrete percentile is computed from a (priority, lag_days)
    HISTOGRAM, not percentile_disc over raw rows: lag is a small-domain
    integer, so the fact collapses map-side to <= priorities x lags
    partial counts before the one tiny shuffle, and the percentile is
    the smallest lag whose cume_dist >= p over the cumulative counts.
    percentile_disc would instead buffer EVERY row's value inside an
    ObjectHashAggregate per group — at 100 TB that is an executor OOM,
    and even at 30M rows it is the query's dominant cost. The
    cume_dist >= p selection (double compare, same as Spark's own
    percentile_disc rule — fuzz-verified bit-equal in
    tests/test_percentile_hist.py; shared operator
    operators/percentile_hist.py) keeps the statistic bit-identical
    to the DuckDB quantile_disc oracle."""
    from gravity_books_datalakehouse_spark.operators.percentile_hist import (
        grouped_disc_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    gaps = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", lag.alias("lag_days")
    )
    stats = grouped_disc_percentiles(
        gaps, ["o_orderpriority"], "lag_days", [0.5, 0.9],
        ["median_lag_days", "p90_lag_days"], n_alias="n_lines",
    )
    return stats.select(
        "o_orderpriority",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("median_lag_days").cast("bigint").alias("median_lag_days"),
        F.col("p90_lag_days").cast("bigint").alias("p90_lag_days"),
    ).transform(bounded_sort, "o_orderpriority")


@register(
    "q_basket_copurchase_lift",
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
       cnt AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
               FROM items GROUP BY 1),
       pairs AS (
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                CAST(COUNT(*) AS BIGINT) AS pair_cnt
         FROM items a JOIN items b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2)
       SELECT p.part_a, p.part_b, pa.p_name AS name_a, pb.p_name AS name_b,
              p.pair_cnt, ca.c AS cnt_a, cb.c AS cnt_b,
              CAST(p.pair_cnt * n.n_orders AS DOUBLE) / (ca.c * cb.c) AS lift,
              CAST(p.pair_cnt AS DOUBLE) / ca.c AS conf_a_to_b
       FROM pairs p
       CROSS JOIN n
       JOIN cnt ca ON ca.l_partkey = p.part_a
       JOIN cnt cb ON cb.l_partkey = p.part_b
       JOIN part pa ON pa.p_partkey = p.part_a
       JOIN part pb ON pb.p_partkey = p.part_b
       WHERE p.pair_cnt >= 2
       ORDER BY lift DESC, p.part_a, p.part_b
       LIMIT 50""",
)
def q_basket_copurchase_lift(spark, sf_dir):
    """Market-basket co-purchase association: the top-50 part pairs by
    lift among pairs bought together in >= 2 orders, with confidence —
    the bookstore "customers who bought X also bought Y" rollup the
    reference's retail schema begs for but never ships (SURVEY.md §2
    has no co-occurrence shape; test_queries.py stops at top-sellers).

    Plan shape — pair generation WITHOUT an all-pairs self-join:
    baskets are built with one ``collect_set`` groupBy on l_orderkey
    (map-side partial, one shuffle) and ``localCheckpoint``'ed ONCE —
    the single fact materialization that all three downstream consumers
    (pair counts, per-part marginals, the n_orders scalar) read, so the
    fact is scanned exactly once and nothing is re-derived (filter
    pushdown specializes re-derived branches' Exchange subtrees, so
    Catalyst cannot ReuseExchange them: the first cut paid 3 scans + 3
    explode pipelines). Pairs come from a double ``explode`` of each
    basket against itself filtered ``a < b`` — a NARROW per-row
    expansion bounded by basket_size², never a shuffle join — and the
    min-support filter sits DIRECTLY on the pair aggregate, so only
    surviving pairs (a tiny set) reach the marginal joins. The
    marginals are one single-explode aggregate (node-sized output);
    both marginal joins are left to AQE, which broadcasts whichever
    runtime side is small. (A previous form read the marginals off the
    co-occurrence diagonal with two window passes; that shuffled AND
    sorted the full ~Σ basket² matrix twice before the support filter
    could shrink it — measured 2.3 s vs 1.7 s at sf0.1.) Lift =
    pair_cnt * N / (cnt_a * cnt_b) is pure integer math until a single
    IEEE division (bit-identical to the oracle); the final top-50 is a
    TakeOrderedAndProject on (lift DESC, part_a, part_b) — fully
    parallel, no global sort.

    Scale notes: the explode is quadratic in BASKET size, not corpus
    size — baskets are order line counts (<= 13 parts in this data;
    bounded by order UI/business rules in any retail schema), so the
    expansion is a small constant per order. The pair-count aggregate
    keys on (part_a, part_b) — the natural co-occurrence matrix
    partitioning, uniform under hash unless one part is in a large
    share of ALL orders (a promo SKU). Part names arrive via dim joins
    on the post-support pair set at the very end."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    ).localCheckpoint()
    n_orders = baskets.agg(F.count("*").cast("bigint").alias("n_orders"))
    cnt = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pairs = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 2)
    )
    names = part.select("p_partkey", "p_name")
    return (
        pairs.join(
            cnt.select(F.col("pk").alias("part_a"), F.col("c").alias("cnt_a")),
            "part_a",
        )
        .join(
            cnt.select(F.col("pk").alias("part_b"), F.col("c").alias("cnt_b")),
            "part_b",
        )
        .join(F.broadcast(n_orders))
        .join(
            names.withColumnRenamed("p_name", "name_a"),
            F.col("part_a") == F.col("p_partkey"),
        )
        .drop("p_partkey")
        .join(
            names.withColumnRenamed("p_name", "name_b"),
            F.col("part_b") == F.col("p_partkey"),
        )
        .select(
            "part_a",
            "part_b",
            "name_a",
            "name_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            (
                (F.col("pair_cnt") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
            (F.col("pair_cnt").cast("double") / F.col("cnt_a")).alias(
                "conf_a_to_b"
            ),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(50)
    )


@register(
    "op_drift_psi_events",
    """WITH v AS (
         SELECT event_type,
                CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0
                     ELSE 1 END AS cur,
                GREATEST(0, LEAST(CAST(FLOOR(value / 50) AS INT), 9)) AS bin
         FROM events WHERE value IS NOT NULL),
       types AS (SELECT DISTINCT event_type FROM v),
       spine AS (SELECT t.event_type, CAST(r.range AS INT) AS bin
                 FROM types t, range(10) r),
       cnt AS (SELECT event_type, bin,
                      SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS nref,
                      SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS ncur
               FROM v GROUP BY 1, 2),
       cells AS (SELECT s.event_type, s.bin,
                        COALESCE(c.nref, 0) AS nref,
                        COALESCE(c.ncur, 0) AS ncur
                 FROM spine s LEFT JOIN cnt c
                   ON c.event_type = s.event_type AND c.bin = s.bin),
       tot AS (SELECT event_type,
                      SUM(nref) AS tref, SUM(ncur) AS tcur
               FROM cells GROUP BY 1)
       SELECT c.event_type,
              CAST(t.tref AS BIGINT) AS n_ref,
              CAST(t.tcur AS BIGINT) AS n_cur,
              ROUND(SUM(
                ((c.nref + 1.0) / (t.tref + 10)
                 - (c.ncur + 1.0) / (t.tcur + 10))
                * LN(((c.nref + 1.0) / (t.tref + 10))
                     / ((c.ncur + 1.0) / (t.tcur + 10)))), 6) AS psi,
              ROUND(SUM(
                ((c.nref + 1.0) / (t.tref + 10)
                 - (c.ncur + 1.0) / (t.tcur + 10))
                * LN(((c.nref + 1.0) / (t.tref + 10))
                     / ((c.ncur + 1.0) / (t.tcur + 10)))), 6) >= 0.1
                AS drift_flag
       FROM cells c JOIN tot t ON t.event_type = c.event_type
       GROUP BY c.event_type, t.tref, t.tcur
       ORDER BY c.event_type""",
)
def op_drift_psi_events(spark, sf_dir):
    """Population Stability Index per event type: the training-data
    drift monitor. The event-value distribution in the CURRENT window
    (second half of the month) is compared against the REFERENCE window
    (first half) over 10 fixed-width value bins; PSI = sum over bins of
    (p_i - q_i) * ln(p_i / q_i) with add-one smoothing so empty bins
    contribute finitely. The standard industry reading: psi < 0.1
    stable, >= 0.1 drifting — the flag is derived from the ROUNDED psi
    so both engines decide it from the identical value.

    Plan shape — ONE fact scan, one chain, no self-joins: the partial
    aggregate collapses the scan map-side to <= types x 10 cells (the
    shuffle carries <= 100 rows at ANY corpus size), then a per-type
    rollup gathers (tref, tcur, cell list) in one row per type and a
    bounded in-row fold (<= 10 elements) sums the PSI terms. Absent
    bins never materialize: each would contribute the CONSTANT
    smoothing-only term, so the fold adds (10 - |present|) x term(0,0)
    in closed form — algebraically identical to the oracle's dense
    spine (the oracle keeps the relational spine/join form, which is
    what a SQL engine wants; totals over the dense spine equal totals
    over present cells since absent cells hold zeros).

    Float caveat (house margin style): ln() differs across engines by
    <= 1 ulp and the 10-term sum order varies (collect_list order is
    partition-dependent), so psi drifts ~1e-15; rounding at 6 dp sits
    ~9 orders above the drift, and the drift FLAG is derived from the
    rounded value on both engines. The binning itself
    (floor(value/50) on IEEE doubles) is bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("cur"),
        # clamped BOTH ends (negative values -> bin 0) so the Spark fold
        # and the oracle's range(10) spine agree on any value domain —
        # without the floor clamp a negative value would fall off the
        # oracle spine while still counting toward the Spark totals
        F.greatest(
            F.lit(0),
            F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9)),
        ).alias("bin"),
    )
    cnt = v.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("cur") == 0, 1).otherwise(0)).alias("nref"),
        F.sum(F.when(F.col("cur") == 1, 1).otherwise(0)).alias("ncur"),
    )
    per = cnt.groupBy("event_type").agg(
        F.sum("nref").alias("tref"),
        F.sum("ncur").alias("tcur"),
        F.collect_list(F.struct("nref", "ncur")).alias("cells"),
    )

    def term(nr, nc):
        p = (nr + 1.0) / (F.col("tref") + 10)
        q = (nc + 1.0) / (F.col("tcur") + 10)
        return (p - q) * F.log(p / q)

    psi_raw = F.aggregate(
        "cells",
        F.lit(0.0),
        lambda acc, c: acc + term(c.getField("nref"), c.getField("ncur")),
    ) + (F.lit(10) - F.size("cells")) * term(F.lit(0), F.lit(0))
    return (
        per.select(
            "event_type",
            F.col("tref").cast("bigint").alias("n_ref"),
            F.col("tcur").cast("bigint").alias("n_cur"),
            F.round(psi_raw, 6).alias("psi"),
        )
        .withColumn("drift_flag", F.col("psi") >= 0.1)
        .transform(bounded_sort, "event_type")
    )


# --------------------------------------------------------------------------
# Pareto frontier / skyline (Börzsönyi et al., ICDE 2001 "The Skyline
# Operator"): the non-dominated set under maximize-revenue /
# minimize-avg-discount. The operator SQL engines lack natively and the
# canonical example of a query whose naive form is an O(n²) self-join.

_SKYLINE_SQL = """WITH agg AS (
    SELECT l_suppkey AS s_suppkey,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
               (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS rev_u,
           (SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) * 1000000)
             // COUNT(*) AS d_u,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_suppkey
  )
  SELECT a.s_suppkey, s.s_name, a.revenue,
         a.d_u / 100000000.0 AS avg_discount,
         CAST(a.n AS BIGINT) AS n_lineitems
  FROM agg a
  JOIN supplier s ON s.s_suppkey = a.s_suppkey
  WHERE NOT EXISTS (
    SELECT 1 FROM agg b
    WHERE b.rev_u >= a.rev_u AND b.d_u <= a.d_u
      AND (b.rev_u > a.rev_u OR b.d_u < a.d_u)
  )
  ORDER BY a.revenue DESC, a.s_suppkey"""


@register("op_skyline_suppliers", _SKYLINE_SQL)
def op_skyline_suppliers(spark, sf_dir):
    """Supplier Pareto frontier: suppliers not dominated on (revenue
    max, average discount min) — "who earns the most while discounting
    the least", the efficiency frontier a sourcing team acts on.

    Both dominance coordinates are EXACT integers so the frontier
    membership decision is engine-independent: revenue in 1e-4-unit
    longs (the _cents fast path) and average discount as
    ``(Σ disc_cents · 10⁶) div n`` — integer division, never a float
    that could straddle a rounding boundary. The only floats are
    display columns derived from those integers by one IEEE division.

    Plan shape: ONE fact shuffle (groupBy l_suppkey) reduces 100 TB of
    lineitem to a supplier-DIMENSION-sized frame; the skyline sweep is
    then two window minima over that bounded frame — the same
    dim-bounded-window contract as the surrogate-key windows:

      m_gt = MIN(d_u) OVER (ORDER BY rev_u DESC
                            RANGE UNBOUNDED PRECEDING .. 1 PRECEDING)
             — the best discount among STRICTLY higher-revenue
             suppliers (cross-engine frame parity verified in
             tests/test_skyline.py);
      m_eq = MIN(d_u) OVER (PARTITION BY rev_u)
             — the best discount at the SAME revenue.

    p is on the frontier iff m_gt is NULL or > d_u (nobody with more
    revenue discounts as little) AND m_eq == d_u (nobody with equal
    revenue discounts strictly less). Exact metric ties survive on
    both sides, matching the NOT-EXISTS dominance definition the
    oracle states independently (its O(n²) self-join is affordable at
    oracle scale only — the window form is O(n log n)).

    At 100 TB with a NON-dimension entity (e.g. per-document skyline)
    the sweep generalizes to the classic distributed 2-D skyline:
    range-partition on rev_u, per-partition local frontier, then merge
    under the partition-boundary prefix minima — same algebra, no
    global window. Not needed while the grouped side is a dimension.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev_u_row = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
    agg = (
        li.groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            _money_sum(rev_u_row, 4).cast("double").alias("revenue"),
            F.sum(rev_u_row).alias("rev_u"),
            F.sum(_cents("l_discount")).alias("d_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("d_u", F.expr("(d_sum * 1000000) div n"))
    )
    w_gt = Window.orderBy(F.col("rev_u").desc()).rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_eq = Window.partitionBy("rev_u")
    frontier = (
        agg.withColumn("m_gt", F.min("d_u").over(w_gt))
        .withColumn("m_eq", F.min("d_u").over(w_eq))
        .filter(
            (F.col("m_gt").isNull() | (F.col("m_gt") > F.col("d_u")))
            & (F.col("m_eq") == F.col("d_u"))
        )
    )
    return (
        frontier.join(F.broadcast(s), "s_suppkey")
        .select(
            "s_suppkey",
            "s_name",
            "revenue",
            (F.col("d_u") / F.lit(100000000.0)).alias("avg_discount"),
            F.col("n").cast("bigint").alias("n_lineitems"),
        )
        .transform(bounded_sort, F.desc("revenue"), F.asc("s_suppkey"))
    )


# --------------------------------------------------------------------------
# Categorical-distribution profiling: Shannon entropy / Gini-Simpson per
# column — the source-skew diagnostic a curation pipeline reads before
# choosing mixture weights (a column whose normalized entropy collapses
# toward 0 is dominated by one value; toward 1 is balanced).

_ENTROPY_COLS = ("lang", "source")


@register(
    "op_profile_entropy",
    f"""WITH stacked AS (
      SELECT 'lang' AS column_name, lang AS val FROM documents
      UNION ALL
      SELECT 'source' AS column_name, source AS val FROM documents),
    counts AS (
      SELECT column_name, val, CAST(COUNT(*) AS BIGINT) AS c
      FROM stacked GROUP BY 1, 2),
    tot AS (
      SELECT column_name, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS k
      FROM counts GROUP BY 1)
    SELECT t.column_name,
           CAST(t.n AS BIGINT) AS n_rows,
           t.k AS n_distinct,
           ROUND(-SUM((c.c / t.n) * ln(c.c / t.n)), 6) AS entropy,
           CASE WHEN t.k = 1 THEN NULL
                ELSE ROUND(-SUM((c.c / t.n) * ln(c.c / t.n)) / ln(t.k), 6)
           END AS norm_entropy,
           ROUND(1 - SUM((c.c / t.n) * (c.c / t.n)), 6) AS gini_simpson
    FROM counts c JOIN tot t ON t.column_name = c.column_name
    GROUP BY t.column_name, t.n, t.k
    ORDER BY t.column_name""",
)
def op_profile_entropy(spark, sf_dir):
    """Shannon entropy, normalized entropy (H/ln k), and Gini-Simpson
    index per profiled categorical column, from ONE table scan: the
    columns stack through a single explode into (column, value) rows,
    collapse map-side to value counts, and the three indices are sums
    over the ≤|domain| count rows. Float discipline: every term is
    (c/n)·ln(c/n) on exact integer inputs; summation-order drift
    (~1e-15) sits 9 orders below the 6-dp rounding — the PSI monitor's
    contract. Deequ-profile companion to op_profile_columns."""
    docs = load_table(spark, sf_dir, "documents")
    stacked = docs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"), F.col(c).alias("val")
                    )
                    for c in _ENTROPY_COLS
                ]
            )
        ).alias("e")
    ).select("e.column_name", "e.val")
    counts = stacked.groupBy("column_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = counts.groupBy("column_name").agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    j = counts.join(tot, "column_name")
    p = F.col("c") / F.col("n")
    h = -F.sum(p * F.log(p))
    return (
        j.groupBy("column_name", "n", "k")
        .agg(
            F.round(h, 6).alias("entropy"),
            F.when(F.col("k") == 1, F.lit(None)              )
            .otherwise(F.round(h / F.log(F.col("k").cast("double")), 6))
            .alias("norm_entropy"),
            F.round(F.lit(1) - F.sum(p * p), 6).alias("gini_simpson"),
        )
        .select(
            "column_name",
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("k").alias("n_distinct"),
            "entropy",
            "norm_entropy",
            "gini_simpson",
        )
        .transform(bounded_sort, "column_name")
    )


# --------------------------------------------------------------------------
# Winsorization (robust cleaning): clamp a measure to its per-group
# [p05, p95] discrete percentiles and report the effect. Everything —
# thresholds AND clamped means — derives from ONE value histogram, so
# the fact scans exactly once (the percentile_hist discipline) and all
# decisions are integer-exact.

_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


@register(
    "op_winsorize_quantity",
    f"""WITH hist AS (
      SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT flag, q, cnt,
             SUM(cnt) OVER (PARTITION BY flag ORDER BY q
                            ROWS UNBOUNDED PRECEDING) AS run,
             SUM(cnt) OVER (PARTITION BY flag) AS n
      FROM hist),
    thr AS (
      SELECT flag, MAX(n) AS n,
             MIN(CASE WHEN run / (1.0 * n) >= {_WINSOR_LO} THEN q END) AS p05,
             MIN(CASE WHEN run / (1.0 * n) >= {_WINSOR_HI} THEN q END) AS p95
      FROM cum GROUP BY flag)
    SELECT h.flag AS l_returnflag,
           CAST(t.n AS BIGINT) AS n,
           t.p05 AS p05_qty, t.p95 AS p95_qty,
           ROUND(SUM(h.q * h.cnt) / (1.0 * t.n), 6) AS mean_qty,
           ROUND(SUM(LEAST(GREATEST(h.q, t.p05), t.p95) * h.cnt)
                 / (1.0 * t.n), 6) AS mean_qty_winsorized,
           CAST(SUM(CASE WHEN h.q < t.p05 OR h.q > t.p95
                         THEN h.cnt ELSE 0 END) AS BIGINT) AS n_clamped
    FROM hist h JOIN thr t ON t.flag = h.flag
    GROUP BY h.flag, t.n, t.p05, t.p95
    ORDER BY h.flag""",
)
def op_winsorize_quantity(spark, sf_dir):
    """Per-returnflag winsorized quantity report: p05/p95 discrete
    percentiles (the percentile_hist cume-rule on the integer quantity
    histogram), mean before/after clamping, and how many rows the clamp
    touched.

    The histogram IS the whole computation: the fact collapses
    map-side to <=|flags|x50 cells in one scan; thresholds come from
    the cumulative window over those cells (same cume_dist>=p double
    comparison percentile_disc applies, see operators/percentile_hist)
    and the clamped mean is Σ clamp(v)·cnt over the SAME cells — no
    second fact pass, no per-row buffering, integer-exact sums with
    one final IEEE division per output cell."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # localCheckpoint: the histogram feeds BOTH the threshold branch and
    # the clamped-mean aggregate — without it Spark recomputes the
    # subtree and the fact scans twice (the plan test pins one scan).
    # The checkpointed frame is <=|flags|x50 rows, metadata-sized.
    hist = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("flag", "q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    w_cum = (
        Window.partitionBy("flag").orderBy("q").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    w_all = Window.partitionBy("flag")
    cum = hist.select(
        "flag",
        "q",
        "cnt",
        F.sum("cnt").over(w_cum).alias("run"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qual = F.col("run") / (F.lit(1.0) * F.col("n"))
    thr = cum.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.min(F.when(qual >= _WINSOR_LO, F.col("q"))).alias("p05"),
        F.min(F.when(qual >= _WINSOR_HI, F.col("q"))).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("q"), F.col("p05")), F.col("p95"))
    return (
        hist.join(F.broadcast(thr), "flag")
        .groupBy(
            F.col("flag").alias("l_returnflag"),
            F.col("n"),
            F.col("p05").alias("p05_qty"),
            F.col("p95").alias("p95_qty"),
        )
        .agg(
            F.round(
                F.sum(F.col("q") * F.col("cnt")) / (F.lit(1.0) * F.col("n")), 6
            ).alias("mean_qty"),
            F.round(
                F.sum(clamped * F.col("cnt")) / (F.lit(1.0) * F.col("n")), 6
            ).alias("mean_qty_winsorized"),
            F.sum(
                F.when(
                    (F.col("q") < F.col("p05")) | (F.col("q") > F.col("p95")),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_clamped"),
        )
        .select(
            "l_returnflag",
            F.col("n").cast("bigint").alias("n"),
            "p05_qty",
            "p95_qty",
            "mean_qty",
            "mean_qty_winsorized",
            "n_clamped",
        )
        .transform(bounded_sort, "l_returnflag")
    )


# --------------------------------------------------------------------------
# Quantile normalization across sources (the microarray-era batch-effect
# correction — Bolstad et al. 2003 — reread as corpus curation: make
# every source's length distribution comparable by mapping each
# document's WITHIN-SOURCE quantile onto the POOLED distribution).
# Every mapping decision is exact integer arithmetic: the target
# quantile r/n_s meets the pooled cumulative R_j/N as R_j*n_s >= r*N.

@session_memo
def _pooled_cum(spark, sf_dir) -> tuple[list, int]:
    """(entries, n_total): the collected pooled cumulative histogram.
    Model-state-sized (value-domain-bounded), so it memoizes per
    session/scale exactly like the k-means fit — repeat calls (bench
    best-of-2, a two-pass compare) skip the collect job."""
    docs = load_table(spark, sf_dir, "documents")
    pooled_rows = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("v")
        .collect()
    )
    run = 0
    entries = []
    for row in pooled_rows:
        run += row["c"]
        entries.append((int(row["v"]), run))
    return entries, run


def quantile_normalize_binned(spark, sf_dir, n_bins: int = 1024):
    """The LARGE-DOMAIN escape hatch of op_quantile_normalize_lengths,
    implemented (the registry query keeps the exact collected-histogram
    path — right for this value domain; this variant is what you switch
    to when |distinct values| outgrows model state).

    Library-only helper: deliberately NOT ``@register``-ed under the
    exact operator's name (round 8 briefly shipped with the decorator
    orphaned onto this function — the registry ran the 1024-bin
    approximation against the exact oracle, coincidentally hash-equal
    only because the n_chars span here is <= n_bins; fixed round 9, and
    tests/test_registry_invariants.py now pins name<->function binding
    registry-wide so a decorator can never silently migrate again).

    Fixed-WIDTH binning over [min, max] — fully deterministic (two
    scalar aggregates), unlike approx_percentile's partition-order-
    sensitive sketch. The pooled CDF then lives on B bins: each doc's
    within-source rank quantile maps to the upper edge of the first bin
    whose cumulative share reaches it. The mapped value therefore
    differs from the exact mapping by at most one bin width, and the
    per-source report converges to the exact one as B grows (pinned by
    the pytest). Same report schema; the only collect is the B-bounded
    bin histogram (B is a constant — model-state-sized at ANY corpus
    size or value domain)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(
        F.min("n_chars"), F.max("n_chars")
    ).collect()[0]
    span = max(int(hi) - int(lo), 1)
    # bin index in [0, n_bins): fixed width, integer arithmetic
    bin_col = F.least(
        F.lit(n_bins - 1),
        ((F.col("n_chars") - F.lit(int(lo))) * n_bins / span).cast("int"),
    )
    hist_rows = (
        docs.select(bin_col.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("b")
        .collect()
    )
    run = 0
    entries = []  # (bin upper-edge value, cumulative count)
    for r in hist_rows:
        run += r["c"]
        upper = int(lo) + (int(r["b"]) + 1) * span // n_bins
        entries.append((upper, run))
    n_total = run
    lit_pooled = F.expr(
        "array("
        + ",".join(f"struct({v}L as v, {rc}L as rc)" for v, rc in entries)
        + ")"
    )
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_src = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(w_src).alias("ns"),
    )
    hit = F.filter(
        lit_pooled,
        lambda s: s.getField("rc") * F.col("ns") >= F.col("r") * F.lit(n_total),
    )
    mapped = ranked.withColumn("v_mapped", F.element_at(hit, 1).getField("v"))
    return (
        mapped.groupBy("source")
        .agg(
            F.max("ns").cast("bigint").alias("n_docs"),
            F.round(F.sum("n_chars") / (F.lit(1.0) * F.max("ns")), 6).alias(
                "mean_len_raw"
            ),
            F.round(F.sum("v_mapped") / (F.lit(1.0) * F.max("ns")), 6).alias(
                "mean_len_mapped"
            ),
            F.round(
                F.sum(F.abs(F.col("v_mapped") - F.col("n_chars")))
                / (F.lit(1.0) * F.max("ns")),
                6,
            ).alias("mean_abs_shift"),
        )
        .orderBy("source")
    )


@register(
    "op_quantile_normalize_lengths",
    """WITH pooled AS (
      SELECT n_chars AS v,
             SUM(COUNT(*)) OVER (ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) AS r_cum
      FROM documents GROUP BY n_chars),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS ns
      FROM documents),
    mapped AS (
      SELECT source, n_chars, ns,
             (SELECT MIN(p.v) FROM pooled p
              WHERE p.r_cum * ranked.ns >= ranked.r * (SELECT n FROM tot))
               AS v_mapped
      FROM ranked)
    SELECT source,
           CAST(MAX(ns) AS BIGINT) AS n_docs,
           ROUND(SUM(n_chars) / (1.0 * MAX(ns)), 6) AS mean_len_raw,
           ROUND(SUM(v_mapped) / (1.0 * MAX(ns)), 6) AS mean_len_mapped,
           ROUND(SUM(ABS(v_mapped - n_chars)) / (1.0 * MAX(ns)), 6)
             AS mean_abs_shift
    FROM mapped
    GROUP BY source
    ORDER BY source""",
)
def op_quantile_normalize_lengths(spark, sf_dir):
    """Quantile-normalize document lengths across sources: each doc's
    within-source rank quantile r/n_s maps to the smallest pooled
    length whose cumulative share reaches it, and the per-source report
    shows how far each source's distribution sat from the pooled one
    (mean_abs_shift ~ 0 means the source was already representative).

    Exactness: ranks, cumulative counts, and the meeting rule
    R_j·n_s ≥ r·N are all integers — no float participates in any
    mapping decision; the three means are exact integer sums with one
    final IEEE division.

    Plan shape: per-source rank windows distribute on source; the
    pooled cumulative histogram is VALUE-DOMAIN-sized (document length
    caps bound it at any corpus size) and rides into the per-row
    lookup as a broadcast-collected literal array — the same
    model-state-sized collect contract as the k-means centroids
    (kmeans.py), NOT a data-sized collect. The in-row lookup is
    element_at(filter(lit_array, R*ns >= r*N), 1): O(|domain|) per
    row inside codegen, zero joins, zero extra shuffles. The oracle
    spells the same rule as a correlated MIN subquery.

    LARGE-DOMAIN ESCAPE HATCH (the collected-literal contract's bound):
    the collect and the per-row linear scan are justified only while
    the value domain stays model-state-sized — integer char lengths
    here, |domain| ≈ 10³. Past ~10⁵ distinct values (tens of MB of
    expression state, and the O(|domain|) in-row filter stops being
    cheap) the scale-safe form is: (a) keep exactness with a
    broadcast-joined CDF frame — sort-merge the per-source rank targets
    against the pooled cumulative histogram on a range condition
    (union the two sorted streams and forward-fill, the op_ks spine
    shape below), no literal, no collect; or (b) for unbounded/float
    domains, fixed-B binned quantiles (B ≈ 10⁴ equi-depth bins from
    approx_quantile), which bounds the mapping error by the bin mass.
    Neither changes the report schema."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    entries, n_total = _pooled_cum(spark, sf_dir)
    # ONE SQL expression string, not per-struct Column objects: the
    # value-domain histogram has O(100s) of entries and building it as
    # F.array(F.struct(F.lit, F.lit), ...) pays one py4j round trip per
    # literal (~1.5 s of pure driver time at sf0.1 — the kmeans
    # expression-build lesson, operators/kmeans.py).
    lit_pooled = F.expr(
        "array("
        + ",".join(
            f"struct({v}L as v, {rc}L as rc)" for v, rc in entries
        )
        + ")"
    )
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_src = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(w_src).alias("ns"),
    )
    hit = F.filter(
        lit_pooled,
        lambda s: s.getField("rc") * F.col("ns") >= F.col("r") * F.lit(n_total),
    )
    mapped = ranked.withColumn("v_mapped", F.element_at(hit, 1).getField("v"))
    return (
        mapped.groupBy("source")
        .agg(
            F.max("ns").cast("bigint").alias("n_docs"),
            F.round(F.sum("n_chars") / (F.lit(1.0) * F.max("ns")), 6).alias(
                "mean_len_raw"
            ),
            F.round(F.sum("v_mapped") / (F.lit(1.0) * F.max("ns")), 6).alias(
                "mean_len_mapped"
            ),
            F.round(
                F.sum(F.abs(F.col("v_mapped") - F.col("n_chars")))
                / (F.lit(1.0) * F.max("ns")),
                6,
            ).alias("mean_abs_shift"),
        )
        .transform(bounded_sort, "source")
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering (Sarwar et al., WWW 2001; the
# "customers who bought X also bought" neighborhood model): cosine over
# order-indicator vectors = c_ij / sqrt(c_i * c_j), i.e. co-purchase
# lift's sibling with degree normalization — hubs stop dominating the
# neighbor lists.

_CF_TOP_ITEMS = 20
_CF_TOP_NEIGHBORS = 5
_CF_MIN_SUPPORT = 2


@register(
    "q_item_item_similarity",
    f"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS c
             FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS cab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_CF_MIN_SUPPORT}),
    sym AS (SELECT pa AS q, pb AS nb, cab FROM pairs
            UNION ALL
            SELECT pb AS q, pa AS nb, cab FROM pairs),
    topq AS (SELECT pk, c FROM freq
             ORDER BY c DESC, pk LIMIT {_CF_TOP_ITEMS}),
    scored AS (
      SELECT s.q, s.nb, s.cab, tq.c AS cq, fn.c AS cn,
             s.cab / SQRT(tq.c * fn.c) AS sim,
             ROW_NUMBER() OVER (PARTITION BY s.q
                                ORDER BY s.cab / SQRT(tq.c * fn.c) DESC,
                                         s.nb ASC) AS rnk
      FROM sym s
      JOIN topq tq ON tq.pk = s.q
      JOIN freq fn ON fn.pk = s.nb)
    SELECT q AS part_key, nb AS neighbor_key, rnk AS rank,
           cab AS n_cobuys, ROUND(sim, 6) AS cosine_sim
    FROM scored WHERE rnk <= {_CF_TOP_NEIGHBORS}
    ORDER BY part_key, rank""",
)
def q_item_item_similarity(spark, sf_dir):
    """"Also-bought" neighborhoods: for the {top} most-purchased parts,
    the top-{k} co-purchase neighbors under COSINE normalization
    c_ij/√(c_i·c_j) — the degree correction that separates this from
    q_basket_copurchase_lift's probability-ratio view (popular parts no
    longer crowd every list).

    Determinism: all counts are integers; the similarity is one IEEE
    divide-plus-sqrt on identical integers in both engines, so even
    ranking on the float is engine-exact (no libm surface — sqrt is
    correctly rounded by IEEE 754), with (sim DESC, neighbor ASC)
    ties.

    Plan shape: basket-explode pair counts (bounded by basket², the
    q_basket contract) + an order-frequency aggregate off the same
    distinct (order, part) projection; the query side restricts to a
    {top}-row TakeOrdered list broadcast into the scored join, so the
    rank window partitions on ≤{top} keys. At 100 TB the full
    all-items neighbor table is the same plan minus the topq
    restriction, materialized wide rather than collected."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    items = li.select("l_orderkey", "l_partkey").distinct()
    freq = items.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    baskets = items.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    pairs = (
        baskets.select(F.explode("parts").alias("pa"), "parts")
        .select("pa", F.explode("parts").alias("pb"))
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
        .where(F.col("cab") >= _CF_MIN_SUPPORT)
    )
    sym = pairs.select(
        F.col("pa").alias("q"), F.col("pb").alias("nb"), "cab"
    ).unionByName(
        pairs.select(F.col("pb").alias("q"), F.col("pa").alias("nb"), "cab")
    )
    topq = (
        freq.orderBy(F.desc("c"), F.asc("pk"))
        .limit(_CF_TOP_ITEMS)
        .select(F.col("pk").alias("q"), F.col("c").alias("cq"))
    )
    fn = freq.select(F.col("pk").alias("nb"), F.col("c").alias("cn"))
    scored = (
        sym.join(F.broadcast(topq), "q")
        .join(fn, "nb")
        .withColumn(
            "sim", F.col("cab") / F.sqrt(F.col("cq") * F.col("cn"))
        )
    )
    w = Window.partitionBy("q").orderBy(F.desc("sim"), F.asc("nb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _CF_TOP_NEIGHBORS)
        .select(
            F.col("q").alias("part_key"),
            F.col("nb").alias("neighbor_key"),
            F.col("rank"),
            F.col("cab").alias("n_cobuys"),
            F.round("sim", 6).alias("cosine_sim"),
        )
        .orderBy("part_key", "rank")
    )


# --------------------------------------------------------------------------
# Exact two-sample Kolmogorov–Smirnov drift test per source: the EDF
# distance sup_x |F_s(x) - F_pool(x)|, computed entirely in integers —
# the exact companion to the binned PSI monitor (op_drift_psi_events).
# D's numerator |R_s(v)*N - R_p(v)*n_s| is an integer at every domain
# value, so the max, its argmax, and even the alpha=0.05 significance
# flag (squared critical-value comparison with the 1.358^2 = 1.844164
# literal as an exact rational) never touch a float.

_KS_CRIT2_NUM = 1844164  #: 1.358^2 * 1e6 — two-sided alpha=0.05
_KS_CRIT2_DEN = 1000000


@register(
    "op_ks_drift_by_source",
    f"""WITH domain AS (
      SELECT n_chars AS v,
             SUM(COUNT(*)) OVER (ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) AS rp
      FROM documents GROUP BY n_chars),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
             FROM documents GROUP BY source),
    scum AS (
      SELECT source, n_chars AS v,
             SUM(COUNT(*)) OVER (PARTITION BY source ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) AS rs
      FROM documents GROUP BY source, n_chars),
    spine AS (
      SELECT s.source, s.ns, d.v, d.rp,
             COALESCE(
               (SELECT MAX(rs) FROM scum c
                WHERE c.source = s.source AND c.v <= d.v), 0) AS rs
      FROM srcs s CROSS JOIN domain d),
    dev AS (
      SELECT source, ns, v,
             ABS(rs * (SELECT n FROM tot) - rp * ns) AS dnum
      FROM spine),
    best AS (
      SELECT source, ns, dnum, v,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY dnum DESC, v ASC) AS rnk
      FROM dev)
    SELECT b.source,
           b.ns AS n_docs,
           ROUND(b.dnum / (1.0 * b.ns * (SELECT n FROM tot)), 6) AS ks_d,
           CAST(b.v AS BIGINT) AS at_value,
           {_KS_CRIT2_DEN} * b.dnum::HUGEINT * b.dnum::HUGEINT
             > {_KS_CRIT2_NUM} * (b.ns + (SELECT n FROM tot))::HUGEINT
               * b.ns * (SELECT n FROM tot) AS drift_flag
    FROM best b WHERE b.rnk = 1
    ORDER BY b.source""",
)
def op_ks_drift_by_source(spark, sf_dir):
    """Per-source exact two-sample KS statistic against the pooled
    length distribution: D = sup_v |F_source(v) − F_pool(v)|, its
    argmax value, and the α=0.05 significance flag.

    Exactness end to end: both EDFs evaluate as integer cumulative
    counts on the shared value domain, the deviation numerator
    |R_s·N − R_p·n_s| is an integer, the sup and its argmax are
    integer selections, and the significance test squares the
    asymptotic critical value D > 1.358·√((n_s+N)/(n_s·N)) into
    10⁶·D_num² > 1.358²·10⁶·(n_s+N)·n_s·N — DECIMAL-exact on both
    engines (the only "float" is the shared rational literal). Unlike
    PSI (binned, smoothed) this is the exact distribution test; the
    two flags catch different drift shapes.

    Plan shape: two value-histogram aggregates (map-side collapsing,
    domain-sized outputs) + per-source cumulative windows; the source
    EDF back-fills onto the pooled domain through a sources×domain
    frame — STRATA×DOMAIN-bounded (the calendar-spine contract), never
    corpus-sized; the fill is last(ignorenulls) over the value order,
    not a per-row subquery (the oracle spells the same fill as a
    correlated MAX for independence).

    LARGE-DOMAIN ESCAPE HATCH: the pooled cumulative uses ONE
    unpartitioned Window.orderBy(v) — a single task, but over
    HISTOGRAM rows, which integer char lengths bound at ~10³ here.
    The contract breaks when |distinct v| itself outgrows one task
    (~10⁷ histogram rows; unbounded domains — timestamps, float
    lengths). Two scale-safe fallbacks, in preference order: (a) keep
    the test exact with a two-pass distributed prefix sum — range-
    partition the histogram by v, per-partition subtotals (tiny)
    broadcast back as offsets, exactly the ev_peak_concurrency
    carry pattern; (b) bin v into B ≈ 10⁴ equi-depth buckets first —
    the binned D is a lower bound on the true D with error ≤ the max
    bin mass (≈1/B), enough for a drift FLAG at any plausible alpha.
    Schema unchanged either way."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    domain = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rp",
            F.sum("c").over(
                Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("v", "rp")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    scum = (
        docs.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rs",
            F.sum("c").over(
                Window.partitionBy("source")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("source", "v", "rs")
    )
    spine = (
        srcs.crossJoin(F.broadcast(domain))
        .join(scum, ["source", "v"], "left")
        .withColumn(
            "rs_f",
            F.coalesce(
                F.last("rs", ignorenulls=True).over(
                    Window.partitionBy("source")
                    .orderBy("v")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ),
        )
    )
    dev = spine.join(F.broadcast(tot)).withColumn(
        "dnum", F.abs(F.col("rs_f") * F.col("n") - F.col("rp") * F.col("ns"))
    )
    w_best = Window.partitionBy("source").orderBy(F.desc("dnum"), F.asc("v"))
    best = dev.withColumn("rnk", F.row_number().over(w_best)).where(
        F.col("rnk") == 1
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return best.select(
        "source",
        F.col("ns").alias("n_docs"),
        F.round(
            F.col("dnum") / (F.lit(1.0) * F.col("ns") * F.col("n")), 6
        ).alias("ks_d"),
        F.col("v").cast("bigint").alias("at_value"),
        (
            F.lit(_KS_CRIT2_DEN) * d38(F.col("dnum")) * d38(F.col("dnum"))
            > F.lit(_KS_CRIT2_NUM)
            * d38(F.col("ns") + F.col("n"))
            * d38(F.col("ns"))
            * d38(F.col("n"))
        ).alias("drift_flag"),
    ).transform(bounded_sort, "source")


# --------------------------------------------------------------------------
# Exact Wasserstein-1 (earth mover) drift per source: the INTEGRAL EDF
# distance W1 = integral |F_s(x) - F_pool(x)| dx, the metric companion
# to KS's sup (op_ks_drift_by_source) and PSI's binned score — KS flags
# the single worst point, W1 weighs HOW MUCH total mass moved how far
# (the quantity a mixture-rebalance decision actually needs). On the
# shared integer value domain it is a finite sum: per consecutive
# domain value, |rs*N - rp*ns| * (v_next - v) — all integers, so the
# numerator is EXACT on both engines (HUGEINT / decimal(38,0) sums) and
# the single float is the final normalization by ns*N.

_W1_SQL = """WITH domain AS (
      SELECT n_chars AS v,
             SUM(COUNT(*)) OVER (ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) AS rp,
             LEAD(n_chars) OVER (ORDER BY n_chars) AS nxt
      FROM documents GROUP BY n_chars),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_chars) AS BIGINT) AS sx FROM documents),
    srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
                    CAST(SUM(n_chars) AS BIGINT) AS sxs
             FROM documents GROUP BY source),
    scum AS (
      SELECT source, n_chars AS v,
             SUM(COUNT(*)) OVER (PARTITION BY source ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) AS rs
      FROM documents GROUP BY source, n_chars),
    spine AS (
      SELECT s.source, s.ns, s.sxs, d.v, d.rp, d.nxt,
             COALESCE(
               (SELECT MAX(rs) FROM scum c
                WHERE c.source = s.source AND c.v <= d.v), 0) AS rs
      FROM srcs s CROSS JOIN domain d),
    seg AS (
      SELECT source, ns, sxs,
             ABS(rs * (SELECT n FROM tot) - rp * ns)::HUGEINT
               * (COALESCE(nxt, v) - v) AS dseg
      FROM spine),
    agg AS (
      SELECT source, ns, sxs, SUM(dseg) AS wnum
      FROM seg GROUP BY 1, 2, 3)
    SELECT source,
           ns AS n_docs,
           ROUND(wnum / (1.0 * ns * (SELECT n FROM tot)), 6)
             AS w1_distance,
           ROUND(sxs * 1.0 / ns - (SELECT sx * 1.0 / n FROM tot), 6)
             AS mean_shift
    FROM agg
    ORDER BY source"""


@register("op_drift_wasserstein_by_source", _W1_SQL)
def op_drift_wasserstein_by_source(spark, sf_dir):
    """Per-source exact Wasserstein-1 distance between the source's and
    the pooled length distribution, plus the signed mean shift:
    (source, n_docs, w1_distance, mean_shift). W1 >= |mean_shift|
    always (Jensen); a source with small mean_shift but large W1 moved
    mass symmetrically — the drift shape PSI's bins smear and KS's sup
    reduces to one point.

    Exactness: the per-value deviation |rs*N - rp*ns| and the domain
    gap (v_next - v) are integers; their products sum in decimal(38,0)
    (DuckDB HUGEINT), so the W1 numerator is exact end to end; the two
    displayed floats are one division each (identical IEEE on both
    engines) under the family's 6-dp display round.

    Plan shape: identical to op_ks_drift_by_source — two histogram
    aggregates (map-side collapsing to domain-sized outputs), the
    per-source cumulative window, the strata x domain spine fill via
    last(ignorenulls), then a map-side-combined SUM per source instead
    of the KS rank window. Same LARGE-DOMAIN ESCAPE HATCH as the KS op:
    the pooled cumulative is one task over HISTOGRAM rows (~10^3 here);
    beyond ~10^7 distinct values switch to the two-pass distributed
    prefix sum or equi-depth binning documented there."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    wd = Window.orderBy("v")
    domain = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rp",
            F.sum("c").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("nxt", F.lead("v").over(wd))
        .select("v", "rp", "nxt")
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sx"),
    )
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("n_chars").cast("bigint").alias("sxs"),
    )
    scum = (
        docs.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rs",
            F.sum("c").over(
                Window.partitionBy("source")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("source", "v", "rs")
    )
    spine = (
        srcs.crossJoin(F.broadcast(domain))
        .join(scum, ["source", "v"], "left")
        .withColumn(
            "rs_f",
            F.coalesce(
                F.last("rs", ignorenulls=True).over(
                    Window.partitionBy("source")
                    .orderBy("v")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ),
        )
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    seg = spine.join(F.broadcast(tot)).withColumn(
        "dseg",
        d38(F.abs(F.col("rs_f") * F.col("n") - F.col("rp") * F.col("ns")))
        * d38(F.coalesce(F.col("nxt"), F.col("v")) - F.col("v")),
    )
    agg = seg.groupBy("source", "ns", "sxs", "n", "sx").agg(
        F.sum("dseg").alias("wnum")
    )
    return agg.select(
        "source",
        F.col("ns").alias("n_docs"),
        F.round(
            F.col("wnum") / (F.lit(1.0) * F.col("ns") * F.col("n")), 6
        ).alias("w1_distance"),
        F.round(
            F.col("sxs") * F.lit(1.0) / F.col("ns")
            - F.col("sx") * F.lit(1.0) / F.col("n"),
            6,
        ).alias("mean_shift"),
    ).transform(bounded_sort, "source")


# --------------------------------------------------------------------------
# k-anonymity audit (Sweeney 2002): a released table is k-anonymous
# over a quasi-identifier set when every QI combination covers >= k
# rows. Training corpora ship with metadata tables; auditing the QI
# cells BEFORE release is the governance gate that catches singleton
# cells (one person per (segment, nation, balance-band) = re-identifiable).

_KANON_K = 5


@register(
    "op_k_anonymity",
    f"""WITH cells AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(FLOOR(c_acctbal / 1000.0) AS INT) AS band,
             CAST(COUNT(*) AS BIGINT) AS cell_k
      FROM customer
      GROUP BY 1, 2, 3)
    SELECT seg AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           MIN(cell_k) AS min_cell_size,
           CAST(SUM(CASE WHEN cell_k < {_KANON_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unsafe_cells,
           CAST(SUM(CASE WHEN cell_k < {_KANON_K} THEN cell_k ELSE 0 END)
                AS BIGINT) AS n_exposed_rows,
           MIN(cell_k) >= {_KANON_K} AS k_anonymous
    FROM cells
    GROUP BY seg
    ORDER BY seg""",
)
def op_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier triple (market
    segment, nation, account-balance band of width 1000): per segment,
    the QI cell count, the smallest cell, how many cells fall under
    k={_KANON_K}, how many ROWS those unsafe cells expose, and the
    verdict flag. Pure integer counting — the only float is the
    band cut FLOOR(acctbal/1000.0), exact in IEEE because a boundary
    can only occur at whole multiples of 1000.00, which widen from
    DECIMAL(15,2) to double exactly.

    Plan shape: one scan collapsing map-side to the QI histogram
    (|segments| x |nations| x |bands| cells — domain-bounded, the PSI
    spine contract), then a segment-sized rollup. At 100 TB identical:
    the shuffle carries cells, never customers. The remediation step
    this report drives (suppress or generalize unsafe cells) is a
    semi-join of the data against the unsafe cell list — cells, not
    rows, move."""
    c = load_table(spark, sf_dir, "customer")
    cells = (
        c.select(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").alias("nat"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("band"),
        )
        .groupBy("seg", "nat", "band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cell_k"))
    )
    return (
        cells.groupBy(F.col("seg").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.min("cell_k").alias("min_cell_size"),
            F.sum(F.when(F.col("cell_k") < _KANON_K, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unsafe_cells"),
            F.sum(
                F.when(F.col("cell_k") < _KANON_K, F.col("cell_k")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_exposed_rows"),
            (F.min("cell_k") >= _KANON_K).alias("k_anonymous"),
        )
        .transform(bounded_sort, "mktsegment")
    )


# --------------------------------------------------------------------------
# Pairwise Jeffreys-KL divergence matrix between per-source length
# distributions — the drift toolkit's third leg: PSI monitors ONE
# distribution over TIME, KS tests each source against the POOL, this
# compares sources TO EACH OTHER (which feeds mixture design: two
# sources with near-zero divergence are redundant coverage; a
# high-divergence pair spans the length space). Jeffreys J(P,Q) =
# sum (p-q)·ln(p/q) with add-one smoothing over the shared value domain.

@register(
    "op_kl_divergence_matrix",
    """WITH cells AS (
      SELECT source, n_chars AS v, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    dom AS (SELECT DISTINCT n_chars AS v FROM documents),
    dsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM dom),
    srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
             FROM documents GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, a.n AS na, b.source AS source_b, b.n AS nb
      FROM srcs a JOIN srcs b ON a.source < b.source),
    grid AS (
      SELECT p.source_a, p.na, p.source_b, p.nb, dom.v,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
      FROM pairs p
      CROSS JOIN dom
      LEFT JOIN cells ca ON ca.source = p.source_a AND ca.v = dom.v
      LEFT JOIN cells cb ON cb.source = p.source_b AND cb.v = dom.v)
    SELECT source_a, source_b,
           ROUND(SUM(
             ((ca + 1.0) / (na + (SELECT d FROM dsz))
              - (cb + 1.0) / (nb + (SELECT d FROM dsz)))
             * LN(((ca + 1.0) / (na + (SELECT d FROM dsz)))
                  / ((cb + 1.0) / (nb + (SELECT d FROM dsz))))), 6)
             AS jeffreys_kl
    FROM grid
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b""",
)
def op_kl_divergence_matrix(spark, sf_dir):
    """Upper-triangle source-pair Jeffreys divergence over doc-length
    histograms with add-one smoothing on the shared value domain. Every
    count is exact; the float surface is ln over identical rationals
    (≤1 ulp cross-engine) summed in engine-specific order (~1e-15
    drift) against a 6-dp rounding boundary — the PSI margin contract.

    Plan shape: one scan collapses map-side to (source, value) cells
    (strata×domain-bounded); the pair grid is |S|²/2 × |domain| rows —
    domain-bounded at ANY corpus size (the PSI spine contract squared
    over strata, still dashboard-scale); two left joins fill absent
    cells with zeros, so the smoothing term is uniform and exact. At an
    unbounded value domain the same fixed-B binning escape hatch as
    op_quantile_normalize_lengths applies."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    dom = docs.select(F.col("n_chars").alias("v")).distinct()
    dsz = dom.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = srcs.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    b = srcs.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))
    grid = (
        pairs.crossJoin(F.broadcast(dom))
        .join(
            F.broadcast(
                cells.select(
                    F.col("source").alias("source_a"),
                    "v",
                    F.col("c").alias("ca"),
                )
            ),
            ["source_a", "v"],
            "left",
        )
        .join(
            F.broadcast(
                cells.select(
                    F.col("source").alias("source_b"),
                    "v",
                    F.col("c").alias("cb"),
                )
            ),
            ["source_b", "v"],
            "left",
        )
        .join(F.broadcast(dsz))
        .na.fill({"ca": 0, "cb": 0})
    )
    p = (F.col("ca") + 1.0) / (F.col("na") + F.col("d"))
    q = (F.col("cb") + 1.0) / (F.col("nb") + F.col("d"))
    return (
        grid.groupBy("source_a", "source_b")
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("jeffreys_kl"))
        .transform(bounded_sort, "source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Functional-dependency violation audit — the data-contract check before
# a table is trusted as a dimension or a join key: for each DECLARED
# dependency LHS -> RHS, how many LHS groups exist and how many carry
# more than one distinct RHS value. (This corpus deliberately violates
# (l_orderkey, l_linenumber) -> l_partkey — TESTDATA.md's duplicate
# line-number pairs — so the audit has a real positive to catch.)

_FD_SPECS = (
    # (name, table, lhs cols, rhs col)
    ("lineitem_line_to_part", "lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
    ("orders_key_to_cust", "orders", ("o_orderkey",), "o_custkey"),
    ("customer_key_to_nation", "customer", ("c_custkey",), "c_nationkey"),
    ("part_key_to_brand", "part", ("p_partkey",), "p_brand"),
)


def _fd_oracle_sql() -> str:
    legs = []
    for name, table, lhs, rhs in _FD_SPECS:
        keys = ", ".join(lhs)
        legs.append(
            f"""SELECT '{name}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       ROUND(CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS violation_rate
FROM (SELECT {keys}, COUNT(DISTINCT {rhs}) AS n_rhs
      FROM {table} GROUP BY {keys})"""
        )
    return "\nUNION ALL\n".join(legs) + "\nORDER BY fd"


@register("op_fd_violation_audit", _fd_oracle_sql())
def op_fd_violation_audit(spark, sf_dir):
    """Violation counts for four declared functional dependencies: per
    FD, the LHS group count, groups carrying >1 distinct RHS, and the
    violation rate. Three FDs hold by construction (key -> attribute);
    the lineitem line-number FD is a REAL violation planted in this
    testdata (duplicate (orderkey, linenumber) pairs — the round-3
    oracle bug source), so the audit's positive path is exercised, not
    just asserted empty.

    Plan shape per FD: one scan collapsing map-side to LHS-group
    partials (two-phase distinct-count aggregate), then a 1-row rollup;
    the four legs union to a 4-row report. Pure integers plus one
    display division."""
    legs = []
    for name, table, lhs, rhs in _FD_SPECS:
        t = load_table(spark, sf_dir, table)
        grouped = t.groupBy(*[F.col(c) for c in lhs]).agg(
            F.countDistinct(rhs).alias("n_rhs")
        )
        legs.append(
            grouped.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating"),
                F.round(
                    F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("violation_rate"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.transform(bounded_sort, "fd")


# --------------------------------------------------------------------------
# Year-over-year part revenue growth — the "top movers" report: which
# parts gained the most revenue share year over year. Demand-shift
# analytics every retail warehouse ships; the plan couples the
# integer-cents exact money path with a compact (part, year) window.

_GROWTH_TOP = 20
_GROWTH_MIN_REV = 1000.00  #: current-year floor: growth on noise is noise


@register(
    "q_top_growth_parts",
    f"""WITH py AS (
      SELECT l_partkey,
             EXTRACT(year FROM o_orderdate) AS yr,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    w AS (
      SELECT l_partkey, yr, rev,
             LAG(rev) OVER (PARTITION BY l_partkey ORDER BY yr) AS prev,
             LAG(yr) OVER (PARTITION BY l_partkey ORDER BY yr) AS prev_yr
      FROM py)
    SELECT w.l_partkey AS part_key, p.p_name AS part_name,
           CAST(w.yr AS INT) AS yr,
           CAST(w.rev AS DOUBLE) AS revenue,
           CAST(w.prev AS DOUBLE) AS prev_revenue,
           ROUND(CAST(w.rev - w.prev AS DOUBLE) / CAST(w.prev AS DOUBLE), 6)
             AS growth
    FROM w
    JOIN part p ON p.p_partkey = w.l_partkey
    WHERE w.prev IS NOT NULL AND w.prev_yr = w.yr - 1
      AND w.prev > 0 AND w.rev >= {_GROWTH_MIN_REV}
    ORDER BY CAST(w.rev - w.prev AS DOUBLE) / CAST(w.prev AS DOUBLE) DESC,
             part_key, yr
    LIMIT {_GROWTH_TOP}""",
)
def q_top_growth_parts(spark, sf_dir):
    """Top-{20} parts by year-over-year revenue growth (consecutive
    years only, current revenue >= the noise floor). Revenue sums run
    the integer-cents exact path, so rev and prev are bit-identical to
    the oracle's DECIMAL sums; growth is one IEEE division of exact
    decimals widened to double, identical on both engines.

    Plan shape: fact joins orders (the one big join), collapses
    map-side to the (part, year) frame — |parts|x|years|, dim-sized —
    then ONE window pass partitioned by part over that compact frame
    (never over raw lineitem: the round-7 trailing-frame lesson), a
    broadcast name join, and TakeOrderedAndProject."""
    from pyspark.sql import Window as W

    from gravity_books_datalakehouse_spark.plans.operator_queries import (
        _cents,
        _money_sum,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", _cents("l_extendedprice").alias("p_c")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    py = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_partkey", "yr")
        .agg(_money_sum(F.col("p_c"), 2).alias("rev"))
    )
    w = W.partitionBy("l_partkey").orderBy("yr")
    wd = py.select(
        "l_partkey",
        "yr",
        "rev",
        F.lag("rev").over(w).alias("prev"),
        F.lag("yr").over(w).alias("prev_yr"),
    )
    names = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        wd.where(
            F.col("prev").isNotNull()
            & (F.col("prev_yr") == F.col("yr") - 1)
            & (F.col("prev") > 0)
            & (F.col("rev") >= _GROWTH_MIN_REV)
        )
        .join(F.broadcast(names), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("part_key"),
            F.col("p_name").alias("part_name"),
            F.col("yr").cast("int").alias("yr"),
            F.col("rev").cast("double").alias("revenue"),
            F.col("prev").cast("double").alias("prev_revenue"),
            F.round(
                (F.col("rev") - F.col("prev")).cast("double")
                / F.col("prev").cast("double"),
                6,
            ).alias("growth"),
        )
        # order by the UNROUNDED ratio: exact decimal inputs make the
        # division bit-identical cross-engine, so the top-20 cut is
        # deterministic; the displayed column stays rounded
        .withColumn(
            "_g",
            (F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue"),
        )
        .orderBy(F.desc("_g"), F.asc("part_key"), F.asc("yr"))
        .limit(_GROWTH_TOP)
        .drop("_g")
    )


@register(
    "op_gini_revenue_concentration",
    """WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))
                      AS DECIMAL(18,4))) AS total_rev
      FROM lineitem GROUP BY l_suppkey),
    ranked AS (
      SELECT n.n_name AS nation, r.total_rev,
             ROW_NUMBER() OVER (PARTITION BY n.n_name
                                ORDER BY r.total_rev, r.l_suppkey) AS i
      FROM rev r
      JOIN supplier s ON s.s_suppkey = r.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey),
    agg AS (
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(total_rev) AS DOUBLE) AS total_rev,
             CAST(SUM(i * total_rev) AS DOUBLE) AS s1
      FROM ranked GROUP BY nation)
    SELECT nation, n_suppliers, total_rev,
           ROUND((2.0 * s1 - (n_suppliers + 1.0) * total_rev)
                 / (n_suppliers * total_rev), 6) AS gini
    FROM agg ORDER BY nation""",
)
def op_gini_revenue_concentration(spark, sf_dir):
    """Gini coefficient of supplier revenue per nation — the standard
    inequality statistic over an exact integer-money base, via the rank
    formula G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) with x sorted ascending
    (Sen 1973's computational form; no O(n²) pairwise differences).
    The corpus-curation reading is the same operator over per-source
    token counts: how concentrated is the training mix.

    Exactness: revenues are exact DECIMAL sums of integer 1e-4 units
    (the _money_sum fast path), the rank ordering (total_rev, suppkey)
    is a total order on exact values — identical on both engines — and
    Σi·xᵢ stays decimal-exact; only the final Gini expression folds to
    DOUBLE, with the same expression tree on both sides.

    Scale shape: one lineitem shuffle (groupBy suppkey), broadcast
    supplier→nation lookup, per-nation rank window (suppliers per
    nation, NOT lineitem rows), |nations|-row output. The decimal
    Σi·xᵢ overflows 38 digits only past ~10¹⁴ supplier-rank × revenue
    products per nation — far beyond any real dimension size."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    from gravity_books_datalakehouse_spark.plans.tpch_queries import (
        _disc_price_u,
    )
    from gravity_books_datalakehouse_spark.plans.operator_queries import (
        _money_sum,
    )
    from pyspark.sql import Window

    rev = li.groupBy("l_suppkey").agg(
        _money_sum(_disc_price_u(), 4).alias("total_rev")
    )
    ranked = (
        rev.join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"), "total_rev", "l_suppkey"
        )
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("nation").orderBy(
                    "total_rev", "l_suppkey"
                )
            ),
        )
    )
    agg = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("total_rev").cast("double").alias("total_rev"),
        F.sum(
            F.col("i") * F.col("total_rev").cast("decimal(38,4)")
        )
        .cast("double")
        .alias("s1"),
    )
    return agg.select(
        "nation",
        "n_suppliers",
        "total_rev",
        F.round(
            (
                F.lit(2.0) * F.col("s1")
                - (F.col("n_suppliers") + F.lit(1.0)) * F.col("total_rev")
            )
            / (F.col("n_suppliers") * F.col("total_rev")),
            6,
        ).alias("gini"),
    ).transform(bounded_sort, "nation")


_MIGRATE_CUTOFF = "1998-01-01"  #: mid-range of the testdata's 1995-2001 order dates


@register(
    "q_customer_segment_migration",
    f"""WITH per AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) < DATE '{_MIGRATE_CUTOFF}' AS before,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY 1, 2),
    b AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_before
      FROM per WHERE before),
    a AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_after
      FROM per WHERE NOT before),
    j AS (
      SELECT b.m_before, a.m_after
      FROM b JOIN a ON a.o_custkey = b.o_custkey)
    SELECT m_before, m_after,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(COUNT(*) * 1.0 /
                 SUM(COUNT(*)) OVER (PARTITION BY m_before), 6)
             AS row_share
    FROM j GROUP BY m_before, m_after
    ORDER BY m_before, m_after""",
)
def q_customer_segment_migration(spark, sf_dir):
    """Customer value-segment migration matrix: monetary quintile before
    vs after the _MIGRATE_CUTOFF date split (mid-range of the order
    history), for customers active in both periods —
    the retention-marketing transition table (diagonal = stable value,
    below-diagonal = upgraders, the top-right cell = churn risk among
    former top spenders). Row share normalizes each origin quintile to
    a transition probability.

    Determinism: per-period monetary totals are exact decimal sums;
    quintiles use the customer-id tiebreak (the RFM contract). The
    ntile windows run over the CUSTOMER-cardinality per-period frames —
    dim-sized, never order-row-sized. One orders scan, one customer
    groupBy, a self-join on customer id, 25-cell rollup.

    Scale bound + escape hatch: same single-task-window contract as
    q_customer_rfm_segments — each global ntile sorts |customers| rows
    on one task (fine to ~10⁸ customers, then the straggler); the
    documented fallbacks there (broadcast approx_percentile cut-points
    + CASE binning, or the lateness profile's two-pass bucketed rank)
    apply verbatim, per period."""
    o = load_table(spark, sf_dir, "orders")
    from gravity_books_datalakehouse_spark.plans.operator_queries import (
        _cents,
        _money_sum,
    )
    from pyspark.sql import Window

    per = (
        o.groupBy(
            "o_custkey",
            (
                F.col("o_orderdate").cast("date")
                < F.lit(_MIGRATE_CUTOFF).cast("date")
            ).alias("before"),
        )
        .agg(_money_sum(_cents("o_totalprice"), 2).alias("monetary"))
    )
    w = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    b = per.where(F.col("before")).select(
        "o_custkey", F.ntile(5).over(w).alias("m_before")
    )
    a = per.where(~F.col("before")).select(
        F.col("o_custkey").alias("ck"), F.ntile(5).over(w).alias("m_after")
    )
    j = b.join(a, b.o_custkey == a.ck)
    cells = j.groupBy("m_before", "m_after").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    w_row = Window.partitionBy("m_before")
    return (
        cells.select(
            "m_before",
            "m_after",
            "n_customers",
            F.round(
                F.col("n_customers")
                * F.lit(1.0)
                / F.sum("n_customers").over(w_row),
                6,
            ).alias("row_share"),
        )
        .transform(bounded_sort, "m_before", "m_after")
    )


# --------------------------------------------------------------------------
# Join-key skew diagnosis — the planning report that DECIDES the salt
# factor op_j_skewed_salted demonstrates. Every shuffle join/agg hashes
# on its key; one hot key serializes into one reducer task. This
# publishes, per candidate join key, the exact numbers the mitigation
# choice needs: hot-key mass (top-1/top-10 share), the max/avg ratio,
# the p50/p99 of the per-key row distribution, and the integer salt
# factor ceil(max_key_rows / avg_rows_per_key) that would level the
# hottest key to an average-sized partition slice.


def _skew_leg_sql(table: str, key: str) -> str:
    return f"""(
  WITH kc AS (
    SELECT {key} AS k, CAST(COUNT(*) AS BIGINT) AS c
    FROM {table} GROUP BY {key}),
  tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_c
    FROM kc),
  cum AS (
    SELECT c, SUM(nk) OVER (ORDER BY c) AS cum_keys
    FROM (SELECT c, COUNT(*) AS nk FROM kc GROUP BY c)),
  pct AS (
    SELECT
      CAST(MIN(CASE WHEN cum_keys * 2 >= (SELECT n_keys FROM tot)
               THEN c END) AS BIGINT) AS p50,
      CAST(MIN(CASE WHEN cum_keys * 100 >= 99 * (SELECT n_keys FROM tot)
               THEN c END) AS BIGINT) AS p99
    FROM cum),
  top AS (
    SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS top10
    FROM (SELECT c FROM kc ORDER BY c DESC, k ASC LIMIT 10))
  SELECT '{table}.{key}' AS key_col,
         tot.n_rows, tot.n_keys,
         tot.max_c AS max_key_rows,
         pct.p50 AS p50_key_rows,
         pct.p99 AS p99_key_rows,
         ROUND(tot.max_c * 1.0 / tot.n_rows, 6) AS top1_share,
         ROUND(top.top10 * 1.0 / tot.n_rows, 6) AS top10_share,
         ROUND(tot.max_c * tot.n_keys * 1.0 / tot.n_rows, 6)
           AS skew_max_over_avg,
         CAST((tot.max_c * tot.n_keys + tot.n_rows - 1) // tot.n_rows
              AS BIGINT) AS salt_factor
  FROM tot, pct, top)"""


@register(
    "op_join_skew_diagnosis",
    _skew_leg_sql("events", "user_id")
    + "\nUNION ALL\n"
    + _skew_leg_sql("lineitem", "l_suppkey")
    + "\nORDER BY key_col",
)
def op_join_skew_diagnosis(spark, sf_dir):
    """Per-join-key skew report for the two highest-volume shuffle keys
    (events.user_id, lineitem.l_suppkey): exact per-key row percentiles,
    hot-key shares, and the integer salt factor that levels the hottest
    key — the measurement that decides between plain hash partitioning,
    AQE skew-join, and explicit salting (op_j_skewed_salted is the
    mitigation this report sizes).

    Exactness: counts and percentiles are pure integers (pNN = smallest
    per-key count whose cumulative key coverage reaches ceil(q*n_keys),
    decided as cum*100 >= q*100*n_keys — no interpolation ambiguity);
    shares are single IEEE divisions rounded 6. Scale shape: one
    key-hashed groupBy per relation (map-side partial agg absorbs the
    hot key itself), percentiles run on the value-domain-bounded
    per-key-count HISTOGRAM (never a key-cardinality window), and the
    top-10 mass uses TakeOrderedAndProject — no global sort, no
    key-cardinality single task anywhere."""
    from pyspark.sql import DataFrame, Window

    def leg(df: DataFrame, key: str, label: str) -> DataFrame:
        kc = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        tot = kc.agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("c").cast("bigint").alias("max_c"),
        )
        hist = kc.groupBy("c").agg(F.count(F.lit(1)).alias("nk"))
        wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.select("c", F.sum("nk").over(wc).alias("cum_keys"))
        pct = cum.crossJoin(F.broadcast(tot.select("n_keys"))).agg(
            F.min(
                F.when(F.col("cum_keys") * 2 >= F.col("n_keys"), F.col("c"))
            )
            .cast("bigint")
            .alias("p50"),
            F.min(
                F.when(
                    F.col("cum_keys") * 100 >= 99 * F.col("n_keys"),
                    F.col("c"),
                )
            )
            .cast("bigint")
            .alias("p99"),
        )
        top = (
            kc.orderBy(F.desc("c"), F.asc("k"))
            .limit(10)
            .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("top10"))
        )
        return (
            tot.crossJoin(pct)
            .crossJoin(top)
            .select(
                F.lit(label).alias("key_col"),
                "n_rows",
                "n_keys",
                F.col("max_c").alias("max_key_rows"),
                F.col("p50").alias("p50_key_rows"),
                F.col("p99").alias("p99_key_rows"),
                F.round(F.col("max_c") * F.lit(1.0) / F.col("n_rows"), 6).alias(
                    "top1_share"
                ),
                F.round(F.col("top10") * F.lit(1.0) / F.col("n_rows"), 6).alias(
                    "top10_share"
                ),
                F.round(
                    F.col("max_c") * F.col("n_keys") * F.lit(1.0) / F.col("n_rows"),
                    6,
                ).alias("skew_max_over_avg"),
                F.expr("(max_c * n_keys + n_rows - 1) div n_rows")
                .cast("bigint")
                .alias("salt_factor"),
            )
        )

    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        leg(ev, "user_id", "events.user_id")
        .unionByName(leg(li, "l_suppkey", "lineitem.l_suppkey"))
        .transform(bounded_sort, "key_col")
    )
