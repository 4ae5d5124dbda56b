"""Kimball star schema over the testdata, mirroring the reference gold layer.

Role mapping (FIXTURES.md §3): the reference's gold star
(etl_script_dlh/etl_lakehouse.py:84-134 — dim_customer, dim_book,
dim_shipping, dim_date + fact_book_sales) is re-expressed over the
driver's TPC-H-ish tables:

- dim_customer  ← customer ⋈ nation ⋈ region   (reference J1–J4 chain)
- dim_part      ← part                          (dim_book role)
- dim_priority  ← DISTINCT orders.o_orderpriority (dim_shipping role, A3)
- dim_date      ← sequence(min..max o_orderdate) (F1–F4)
- fact_sales    ← lineitem ⋈ orders + SK lookups (J9, J11–J14, P3–P5)

Surrogate keys are dense 1..N over the natural key (P6) — exactly
replayable by the DuckDB oracle (``row_number() OVER (ORDER BY k)``) —
generated with the distributed ``dense`` method (range partition + local
row_number + broadcast offsets, operators/surrogate_keys.py): no global
single-task window, so the dim build survives billion-row dimensions.
The *fact* never gets a global SK — it carries dim SKs only, as in the
reference.

Physical shape at 100 TB: fact-side joins to every dim are broadcast
(dims ≤ millions of rows); the only large shuffle in the whole star build
is lineitem ⋈ orders on orderkey, which AQE handles (and bucketing both
tables by orderkey would eliminate — see plans/medallion.py).

Money math: measure aggregates run on the integer-cents fast path
(operator_queries._cents/_money_sum — primitive long per-row arithmetic,
exact-decimal recombine per group, DOUBLE only at the boundary), which
is bit-equal to DuckDB's DECIMAL(18,2)-cast SUM + DOUBLE cast (double
summation order would otherwise differ cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.plans._cache import session_memo
from gravity_books_datalakehouse_spark.functions.datekit import date_dim_from_bounds
from gravity_books_datalakehouse_spark.operators.joins import equi_join
from gravity_books_datalakehouse_spark.operators.surrogate_keys import add_surrogate_key
from gravity_books_datalakehouse_spark.sources.catalog import load_table


def _money(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


def _cents_sum(col: str) -> F.Column:
    """Exact money sum on the integer-cents fast path (see
    operator_queries._cents/_money_sum): bit-identical to
    F.sum(_money(col)).cast("double") at primitive-long per-row cost
    over the cached fact."""
    from gravity_books_datalakehouse_spark.plans.operator_queries import (
        _cents,
        _money_sum,
    )

    return _money_sum(_cents(col), 2).cast("double")


#: Measured columnar-cache footprint of one fact row (4 int SKs + 4
#: decimal measures: InMemoryRelation stats showed 27.5 MiB / 600 k rows
#: at sf0.1). Used only to size cache partitions — never for planning.
_FACT_ROW_BYTES = 48
_MIN_CACHE_PARTITION_BYTES = 2 << 20


def _fact_cache_partitions(spark: SparkSession, n_rows: int) -> int:
    """Partition count for the persisted fact: defaultParallelism for
    full-cluster scans, capped so no partition is smaller than ~4 MB
    (below that, per-task scheduling overhead exceeds the scan work)."""
    by_size = -(-n_rows * _FACT_ROW_BYTES // _MIN_CACHE_PARTITION_BYTES)
    return int(max(2, min(spark.sparkContext.defaultParallelism, by_size)))


@session_memo
def build_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The five star tables, persisted and memoized per session/scale. The
    five reference queries (and any user session) share one
    materialization of the star — the reference gets the same effect from
    its gold-layer Parquet round-trip; here persist() keeps it columnar in
    executor memory/disk. ``_build_star_plans`` gives fresh un-persisted
    plans."""
    tables = _build_star_plans(spark, sf_dir)
    for df in tables.values():
        df.persist()
    return tables


def _build_star_plans(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    # dim_customer — J1..J4 analog; nation/region broadcast (25 / 5 rows).
    cust_enriched = equi_join(
        equi_join(
            customer,
            nation.select("n_nationkey", F.col("n_name").alias("nation_name"), "n_regionkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
            broadcast_right=True,
        ).drop("n_nationkey"),
        region.select("r_regionkey", F.col("r_name").alias("region_name")),
        F.col("n_regionkey") == F.col("r_regionkey"),
        broadcast_right=True,
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal", "nation_name", "region_name")
    dim_customer = add_surrogate_key(
        cust_enriched, "c_custkey", "customer_sk", method="dense"
    )

    # dim_part — dim_book role (P1 projection + P6 SK).
    dim_part = add_surrogate_key(
        part.select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
        "p_partkey",
        "part_sk",
        method="dense",
    )

    # dim_priority — dim_shipping role: DISTINCT from the fact feed (A3).
    dim_priority = add_surrogate_key(
        orders.select(F.col("o_orderpriority").alias("order_priority")).distinct(),
        "order_priority",
        "priority_sk",
        method="dense",
    )

    # dim_date — F1..F4 from order-date bounds.
    dim_date = date_dim_from_bounds(orders, "o_orderdate")

    # fact_sales — J9 (lineitem ⋈ orders) then SK lookups J11..J14,
    # dropna → int casts (P3 before P4, reference order).
    base = equi_join(
        lineitem.select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        ),
        orders.select(
            "o_orderkey", "o_custkey", "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("order_date"),
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    fact = (
        base
        .join(
            F.broadcast(dim_customer.select("customer_sk", "c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"), "left",
        )
        .join(
            F.broadcast(dim_part.select("part_sk", "p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"), "left",
        )
        .join(
            F.broadcast(dim_priority),
            F.col("o_orderpriority") == F.col("order_priority"), "left",
        )
        .join(
            F.broadcast(dim_date.select("date_sk", "full_date")),
            F.col("order_date") == F.col("full_date"), "left",
        )
        .select(
            "customer_sk", "part_sk", "priority_sk", "date_sk",
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
        .na.drop(subset=["customer_sk", "part_sk", "priority_sk", "date_sk"])
        .withColumns({c: F.col(c).cast("int") for c in ["customer_sk", "part_sk", "priority_sk", "date_sk"]})
        # Rebalance BEFORE the persist: AQE coalesces the lineitem⋈orders
        # shuffle output to advisory-sized partitions (3 at sf0.1, one
        # holding ~90% of rows), and a cache freezes that layout — every
        # downstream star query would then pay a near-single-threaded
        # fact scan (measured: a 524 ms straggler task vs 4 ms p50).
        # The rebalance HASH-PARTITIONS ON part_sk (not round-robin):
        # Catalyst sees hashpartitioning(part_sk) satisfied through the
        # InMemoryRelation, so the best-seller rollup (q2's groupBy
        # part_sk) plans as a single exchange-free full aggregate —
        # measured at sf0.1: 0.24 s vs 0.46 s round-robin, because the
        # partial-agg pass otherwise emits |groups|×|partitions| rows
        # into a shuffle. part_sk is uniform (~|fact|/|part| rows per
        # key), so the cache layout stays even; a dominant hot part
        # would call for round-robin + AQE instead — pick the layout key
        # per the fact's most-frequent uniform agg/join key, exactly the
        # bucketing decision a 100 TB gold table makes (plans/medallion
        # buckets by orderkey for the same reason). The count is
        # SIZE-AWARE: defaultParallelism, capped so no cached partition
        # falls below ~2 MB — a flat defaultParallelism produced 32 ×
        # 750 KB partitions at sf0.1 whose per-task scheduling cost
        # dominated every star query (measured: full fact scan 0.22 s at
        # 32 partitions vs 0.12-0.14 s at 14-16). At production scale the
        # size floor is a no-op (the cap binds only when the fact is
        # small relative to the cluster).
        .repartition(_fact_cache_partitions(spark, lineitem.count()), F.col("part_sk"))
    )

    return {
        "dim_customer": dim_customer,
        "dim_part": dim_part,
        "dim_priority": dim_priority,
        "dim_date": dim_date,
        "fact_sales": fact,
    }


#: DuckDB oracle prefix reconstructing the identical star (prepended to
#: each star query's oracle SQL). Deterministic: SKs are row_number over
#: unique natural keys on both engines.
STAR_CTE_SQL = """
WITH dim_customer AS (
  SELECT row_number() OVER (ORDER BY c_custkey) AS customer_sk,
         c_custkey, c_name, c_mktsegment, c_acctbal,
         n_name AS nation_name, r_name AS region_name
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
dim_part AS (
  SELECT row_number() OVER (ORDER BY p_partkey) AS part_sk,
         p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
  FROM part
),
dim_priority AS (
  SELECT row_number() OVER (ORDER BY order_priority) AS priority_sk, order_priority
  FROM (SELECT DISTINCT o_orderpriority AS order_priority FROM orders)
),
dim_date AS (
  SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_sk,
         CAST(d AS DATE) AS full_date,
         day(d) AS day_val, month(d) AS month_val, year(d) AS year_val,
         quarter(d) AS quarter_val, dayname(d) AS day_name, monthname(d) AS month_name
  FROM (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
    FROM (SELECT CAST(MIN(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS lo,
                 CAST(MAX(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS hi
          FROM orders)
  )
),
fact_sales AS (
  SELECT dc.customer_sk, dp.part_sk, dpr.priority_sk, dd.date_sk,
         l.l_quantity AS quantity, l.l_extendedprice AS extendedprice,
         l.l_discount AS discount, l.l_tax AS tax
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN dim_customer dc ON o.o_custkey = dc.c_custkey
  LEFT JOIN dim_part dp ON l.l_partkey = dp.p_partkey
  LEFT JOIN dim_priority dpr ON o.o_orderpriority = dpr.order_priority
  LEFT JOIN dim_date dd ON CAST(o.o_orderdate AS DATE) = dd.full_date
  WHERE dc.customer_sk IS NOT NULL AND dp.part_sk IS NOT NULL
    AND dpr.priority_sk IS NOT NULL AND dd.date_sk IS NOT NULL
)
"""


# ---------------------------------------------------------------------------
# The five reference validation queries (test_queries/test_queries.py:15-68)
# re-expressed over the star. Aliases match the oracle SQL exactly.
# ---------------------------------------------------------------------------

def q1_monthly_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q1 (test_queries.py:16-26): units + revenue per year/month.

    Output is bounded by the calendar (≤ ~84 year-months for the TPC-H
    date span at ANY fact size), so the final ordering uses
    ``coalesce(1).sortWithinPartitions`` — identical result order to a
    global orderBy, but a single-task local sort over ≤ 84 rows instead
    of a RangePartitioning exchange plus its separate sampling job
    (measured: −0.10 s per query at sf0.1). Only valid because the
    aggregate output, not the input, is tiny."""
    s = build_star(spark, sf_dir)
    return (
        s["fact_sales"]
        .join(F.broadcast(s["dim_date"]), "date_sk")
        .groupBy("year_val", "month_val", "month_name")
        .agg(
            F.count("part_sk").alias("num_sold"),
            _cents_sum("extendedprice").alias("revenue"),
        )
        .coalesce(1)
        .sortWithinPartitions("year_val", "month_val")
    )


def q2_top10_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q2 (test_queries.py:27-37): top-10 best sellers + tiebreak.

    Aggregate-then-join, EXCHANGE-FREE aggregate: the fact cache is
    hash-partitioned on ``part_sk`` (see the build comment), so the
    groupBy plans as one full HashAggregate directly over the cache
    scan — no partial/final split, no shuffle, no rank window.

    Exchange-free holds ONCE THE CACHE IS MATERIALIZED (i.e. from the
    first executed star query onward) and is INDEPENDENT of the session
    shape: ``hashpartitioning(part_sk, N)`` satisfies the aggregate's
    ClusteredDistribution for ANY N, so no equality with
    ``spark.sql.shuffle.partitions`` is required (pinned by
    test_star_q2_aggregate_is_exchange_free, whose session's shuffle
    partition count deliberately differs from the cache's). A STATIC
    explain taken before any execution does show one conservative
    ENSURE_REQUIREMENTS exchange: the un-materialized cache's subplan is
    a non-final AdaptiveSparkPlan whose output partitioning Catalyst
    can't yet see. That exchange never runs in practice — materializing
    the cache (which the first action does) finalizes the subplan and
    re-planning drops it. The
    dim-bounded counts then join dim_part for name/brand and the answer
    falls out of a single ``TakeOrderedAndProject(10)`` over |dim_part|
    joined rows — fully parallel, tree-reduced, no single-task sort.

    Why no rank()<=10 pre-cut (rounds 4-6 used one): a row with ≥10
    rows strictly ahead on units_sold can never enter the final
    (units_sold DESC, p_name, part_sk) top-10, and every tie the rank
    filter kept is kept by the top-k comparator too — so filtering is
    pure overhead, and the unpartitioned window it needed forced a
    one-task sort plus an extra exchange (measured: 0.79 s → 0.24 s at
    sf0.1, from 2.0× DuckDB to ~0.9×).

    The counts side is broadcast (|dim_part| rows of (int,long) — KB to
    low MB up to ~10M parts). For a part dim past broadcast range, drop
    the hint: counts is already partitioned on part_sk, so the join
    shuffles only dim_part and stays co-located."""
    s = build_star(spark, sf_dir)
    counts = (
        s["fact_sales"]
        .groupBy("part_sk")
        .agg(F.count("part_sk").alias("units_sold"))
    )
    return (
        F.broadcast(counts)
        .join(s["dim_part"].select("part_sk", "p_name", "p_brand"), "part_sk")
        .select("part_sk", "p_name", "p_brand", "units_sold")
        .orderBy(F.desc("units_sold"), F.asc("p_name"), F.asc("part_sk"))
        .limit(10)
    )


def q3_top5_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q3 (test_queries.py:38-49): top-5 spenders, SUM of an
    arithmetic expression (A6/F6: price net of discount).

    Plan shape: AGGREGATE-THEN-JOIN. The naive form joins the full fact
    to dim_customer first, paying a wide-row (fact x customer attrs)
    aggregation; here the fact is aggregated on the narrow int
    ``customer_sk`` alone, top-5 is taken via TakeOrderedAndProject, and
    only the 5 surviving rows are joined (broadcast) back to
    dim_customer for ``c_name``/``nation_name``. At 100 TB this turns a
    join of the whole fact stream into a 5-row dim lookup.
    """
    s = build_star(spark, sf_dir)
    # Integer-cents fast path (operator_queries._cents/_money_sum): the
    # per-row multiply is pure long math — price_cents x (100 -
    # disc_cents) in exact 1e-4 units — replacing the earlier narrowed
    # decimal(12,2) x decimal(3,2) form. Exact for TPC-H money values,
    # so the DuckDB oracle (same exact rationals) still hash-matches.
    from gravity_books_datalakehouse_spark.plans.operator_queries import (
        _cents,
        _money_sum,
    )

    net = _money_sum(
        _cents("extendedprice") * (F.lit(100) - _cents("discount")), 4
    ).cast("double")
    top5 = (
        s["fact_sales"]
        .groupBy("customer_sk")
        .agg(net.alias("total_spend"))
        .orderBy(F.desc("total_spend"), F.asc("customer_sk"))
        .limit(5)
    )
    return (
        F.broadcast(top5)
        .join(
            s["dim_customer"].select("customer_sk", "c_name", "nation_name"),
            "customer_sk",
        )
        .select("customer_sk", "c_name", "nation_name", "total_spend")
        # re-establish the output order over the 5 joined rows; with the
        # limit this plans as TakeOrderedAndProject — a plain orderBy
        # would add a rangepartitioning exchange plus its sampling job
        .orderBy(F.desc("total_spend"), F.asc("customer_sk"))
        .limit(5)
    )


def q4_sales_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q4 (test_queries.py:50-58): revenue by customer country.

    The dim side is projected to exactly (customer_sk, nation_name)
    before the explicit broadcast — the build-side hash table carries 8
    bytes + one dictionary-encoded string per customer instead of the
    full 6-column dim row. Output is |nation|-bounded (25 rows), so the
    ordering is a single-task local sort (see q1)."""
    s = build_star(spark, sf_dir)
    return (
        s["fact_sales"]
        .join(
            F.broadcast(s["dim_customer"].select("customer_sk", "nation_name")),
            "customer_sk",
        )
        .groupBy("nation_name")
        .agg(_cents_sum("extendedprice").alias("total_sales"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("total_sales"), F.asc("nation_name"))
    )


def q5_priority_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q5 (test_queries.py:59-67): COUNT(*) by shipping-method role.

    Output is |dim_priority|-bounded (5 rows) → single-task local sort
    ending (see q1)."""
    s = build_star(spark, sf_dir)
    return (
        s["fact_sales"]
        .join(F.broadcast(s["dim_priority"]), "priority_sk")
        .groupBy("order_priority")
        .agg(F.count(F.lit(1)).alias("num_uses"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("num_uses"), F.asc("order_priority"))
    )


def star_queries() -> dict:
    """name → (spark, sf_dir) → DataFrame, for __spark_entry__.queries()."""
    return {
        "star_q1_monthly_sales": q1_monthly_sales,
        "star_q2_top10_parts": q2_top10_parts,
        "star_q3_top5_customers": q3_top5_customers,
        "star_q4_sales_by_nation": q4_sales_by_nation,
        "star_q5_priority_popularity": q5_priority_popularity,
    }


def star_oracle_sql() -> dict[str, str]:
    """Matching DuckDB SQL (column names aliased identically)."""
    return {
        "star_q1_monthly_sales": STAR_CTE_SQL + """
            SELECT dd.year_val, dd.month_val, dd.month_name,
                   COUNT(f.part_sk) AS num_sold,
                   CAST(SUM(CAST(f.extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM fact_sales f JOIN dim_date dd ON f.date_sk = dd.date_sk
            GROUP BY dd.year_val, dd.month_val, dd.month_name
            ORDER BY dd.year_val, dd.month_val
        """,
        "star_q2_top10_parts": STAR_CTE_SQL + """
            SELECT f.part_sk, p.p_name, p.p_brand, COUNT(f.part_sk) AS units_sold
            FROM fact_sales f JOIN dim_part p ON f.part_sk = p.part_sk
            GROUP BY f.part_sk, p.p_name, p.p_brand
            ORDER BY units_sold DESC, p.p_name ASC, f.part_sk ASC
            LIMIT 10
        """,
        "star_q3_top5_customers": STAR_CTE_SQL + """
            SELECT f.customer_sk, c.c_name, c.nation_name,
                   CAST(SUM(CAST(f.extendedprice AS DECIMAL(18,2)) *
                            (1 - CAST(f.discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_spend
            FROM fact_sales f JOIN dim_customer c ON f.customer_sk = c.customer_sk
            GROUP BY f.customer_sk, c.c_name, c.nation_name
            ORDER BY total_spend DESC, f.customer_sk ASC
            LIMIT 5
        """,
        "star_q4_sales_by_nation": STAR_CTE_SQL + """
            SELECT c.nation_name,
                   CAST(SUM(CAST(f.extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
            FROM fact_sales f JOIN dim_customer c ON f.customer_sk = c.customer_sk
            GROUP BY c.nation_name
            ORDER BY total_sales DESC, c.nation_name ASC
        """,
        "star_q5_priority_popularity": STAR_CTE_SQL + """
            SELECT p.order_priority, COUNT(*) AS num_uses
            FROM fact_sales f JOIN dim_priority p ON f.priority_sk = p.priority_sk
            GROUP BY p.order_priority
            ORDER BY num_uses DESC, p.order_priority ASC
        """,
    }
