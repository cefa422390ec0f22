"""Extended TPC-H-shaped relational queries (SURVEY.md §2.B widening).

The fixture schema is a TPC-H subset (no partsupp, no
l_shipmode/l_commitdate/l_receiptdate, no c_phone — FIXTURES.md), so
shapes that depend on missing columns are adapted to equivalent plan
structures over the columns that exist. What matters for engine
coverage is the *plan shape* each query exercises:

- Q2  : correlated MIN decorrelated onto a relationship-grain
        projection, joined back on (key, min) equality
- Q7  : two-sided dimension filter with OR across join branches
- Q8  : market-share ratio (conditional agg over a multi-join star)
- Q9  : subtractive profit aggregate, fixed-pointed to DECIMAL so
        the sum is order-insensitive across engines
- Q10 : top-k revenue grouping over a 4-way join
- Q11 : HAVING against a global scalar subquery of the same aggregate
- Q12 : date-arithmetic lateness classes with conditional counts
- Q13 : left outer join + grouped count → distribution of counts
- Q14 : conditional-aggregate ratio (promo share)
- Q15 : aggregate view joined against its own global max
- Q16 : multi-column distinct-count grouping with exclusion filter
- Q18 : grouped HAVING-IN semi-join on the fact's own aggregation
- Q19 : disjunction of conjunctive predicates across join sides
- Q20 : nested IN chains as broadcast semi joins over an aggregate
- Q21 : EXISTS + NOT EXISTS on one shared projection (semi + anti)
- Q22 : global-average scalar subquery + windowed anti join

(With q1/q3/q4/q5/q6/q17 in relational.py this covers all 22 TPC-H
query shapes, adapted where the fixture schema lacks columns.)

Every query broadcasts dimension sides explicitly and keeps the fact
table on a single shuffle path, which is the shape that survives a
100 TB fact scan: dims ship to executors once, the fact never
re-shuffles except on its join/group key.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..exact import sum_exact, sum_pinned, to_units
from ..io import load, materialize, width
from ..registry import query


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _sum_rev():
    """Order-free revenue sum: exact limb-summed reduction emitted as
    double (see relational.sum_revenue / exact.py)."""
    from .relational import sum_revenue

    return sum_revenue().cast("double")


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
               CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(18,4)) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations.

    The OR predicate spans both join branches, so it can only be
    applied after both nation joins — each nation dim (25 rows, fixed
    at any SF) is pre-filtered to the two named nations and broadcast.
    supplier and customer scale with SF, so they carry no static hint:
    AQE broadcasts them at runtime only when actually small.
    """
    nations = ("NATION_1", "NATION_2")
    n1 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    n2 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    df = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n1.select(F.col("n_nationkey").alias("nk1"),
                                  F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("nk1"),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n2.select(F.col("n_nationkey").alias("nk2"),
                                  F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("nk2"),
        )
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        df.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            _revenue().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum_pinned(F.col("volume"), 4).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(18,4)) AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional revenue per year.

    Ratio-of-conditional-sums over an 8-table star. Only the
    fixed-size dims (nation=25, region=5) are statically broadcast;
    part, supplier, and customer scale with SF and are left unhinted
    for AQE to broadcast at runtime when small. The part filter
    (p_type) still prunes the fact at the first join, so downstream
    joins see only matching lineitems.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation")
    n2 = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    df = (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n1.select(F.col("n_nationkey").alias("cnk"),
                                  F.col("n_regionkey").alias("crk"))),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .join(F.broadcast(r), F.col("crk") == F.col("r_regionkey"))
        .join(
            F.broadcast(n2.select(F.col("n_nationkey").alias("snk"),
                                  F.col("n_name").alias("nation"))),
            F.col("s_nationkey") == F.col("snk"),
        )
    )
    return (
        df.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _revenue().alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                sum_pinned(
                    F.when(F.col("nation") == "NATION_3", F.col("volume"))
                    .otherwise(F.lit(0.0)),
                    4,
                ).cast("double")
                / sum_pinned(F.col("volume"), 4).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue.

    orderBy+limit plans as TakeOrderedAndProject — each partition
    keeps its local top 20, the driver merges k·partitions rows, and
    the full sorted result never materializes. Ties broken by
    c_custkey so the top-20 cut is deterministic.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_sum_rev().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(FLOOR(l_extendedprice * l_quantity * 100 + 0.5)
                        AS BIGINT)) AS value_units
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(value_units) AS sum_units, COUNT(*) AS n FROM pv)
    SELECT l_partkey AS p_partkey,
           CAST(value_units AS DOUBLE) / 100 AS part_value
    FROM pv, tot
    WHERE CAST(value_units AS HUGEINT) * 2 * n > sum_units * 3
    ORDER BY part_value DESC, p_partkey
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (adapted: no partsupp — inventory value from
    lineitem): parts whose value exceeds 1.5× the average part value.
    The avg-relative threshold (vs TPC-H's fraction-of-total) keeps
    the selectivity scale-free, so the query returns rows at every sf.

    HAVING against a scalar of the same aggregation: the per-part agg
    is computed once and cached, the global total reduces it to one
    row, and a broadcast cross join applies the threshold without
    re-aggregating — one fact shuffle total.

    The membership test is integer-exact: per-part cents stay DECIMAL
    until the comparison, and ``value > sum/n · 1.5`` is evaluated as
    ``value_units · 2n > sum_units · 3`` — no double reduction feeds
    the threshold, so membership can't flip on an ulp cross-engine
    (the agg_heavy_hitters convention). The displayed value is a
    single IEEE division of an exactly-representable integer.
    """
    li = load(spark, sf_dir, "lineitem")
    pv = materialize(
        li.groupBy("l_partkey").agg(
            sum_exact(
                to_units(
                    F.col("l_extendedprice") * F.col("l_quantity"), 2
                )
            ).alias("value_units")
        )
    )
    total = pv.agg(
        F.sum("value_units").cast("decimal(38,0)").alias("sum_units"),
        F.count("*").alias("n"),
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_units") * 2 * F.col("n")
            > F.col("sum_units") * 3
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_units").cast("double") / 100).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@query(
    "q12_late_shipments",
    oracle="""
    SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'high' ELSE 'low' END AS prio_class,
           COUNT(*) AS n_items,
           CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY prio_class
    ORDER BY prio_class
    """,
)
def q12_late_shipments(spark, sf_dir):
    """TPC-H Q12 shape (adapted: no l_shipmode/receiptdate — lateness
    = shipped >60 days after order date): late-shipment counts by
    priority class.

    Conditional counts fold into one pass over the join; the
    two-class projection collapses the group key to near-zero
    cardinality so the final shuffle is trivial.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    prio = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
    ).otherwise("low")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(prio.alias("prio_class"), late.alias("late"))
        .groupBy("prio_class")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("late").alias("n_late"),
        )
        .orderBy("prio_class")
    )


@query(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of per-customer order counts.

    The left join keeps order-less customers (count 0); the join
    predicate's extra filter must live in the ON clause, not WHERE —
    a WHERE filter would silently turn the join inner. Second agg
    groups by the count itself: cardinality collapses from customers
    to distinct counts, so the second shuffle is tiny.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT ROUND(
        100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_pct,
        COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-03-01 00:00:00'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share over a ship-date window.

    The date filter pushes to the parquet scan; part scales with SF
    (200k rows per SF) so it is left unhinted — AQE broadcasts the
    2-column projection at runtime when small, shuffles otherwise.
    The ratio is a single global agg, so the reduce side is one
    partial per task.
    """
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-03-01")
    )
    rev = _revenue()
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.round(
            100.0
            * sum_pinned(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0.0)
                ),
                4,
            ).cast("double")
            / sum_pinned(rev, 4).cast("double"),
            6,
        ).alias("promo_pct"),
        F.count("*").alias("n"),
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.

    The revenue aggregation is computed once (cached), reduced to its
    global max, and the max re-joins as a broadcast scalar (1 row,
    constant at any SF — the only static hint here). supplier scales
    with SF and is unhinted; the max-filtered revenue side is a
    handful of rows at runtime, which AQE sees and broadcasts.
    Revenue is rounded *before* the max comparison on both sides so
    float equality is exact.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load(spark, sf_dir, "supplier")
    rev = materialize(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_sum_rev().alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#15'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
)
def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (adapted: supplier relationships from lineitem,
    not partsupp): distinct suppliers per brand/size bucket.

    countDistinct plans as a two-phase expand/agg: partial distinct
    per partition first, so the shuffle carries unique
    (brand, size, suppkey) triples, not raw lineitems.
    """
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: customers with very large orders (IN over the
    fact's own HAVING aggregation → semi join).

    One pass over the fact: the HAVING aggregate already holds each
    qualifying order's quantity sum, so it joins back as the value
    itself rather than semi-filtering and re-aggregating raw lineitem
    (the naive plan reads and shuffles the fact twice; this one
    shuffles it once). The qualifying-order set and customer both
    grow with SF, so neither is statically broadcast — the HAVING
    filter is highly selective, and AQE broadcasts the surviving rows
    at runtime when they fit. The SQL oracle keeps the textbook
    GROUP BY — one row per order either way, so results are
    identical.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive predicates spanning
    both join sides.

    The part-only disjunction (brand ∨ brand ∨ brand) is applied to
    the dimension up front — the derivable prefix of the OR — so the
    join side holds only candidate parts; the full mixed predicate
    filters after the join. part scales with SF so it carries no
    static broadcast hint; the brand filter makes the side small at
    runtime, which AQE sees and broadcasts.
    """
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#14", "Brand#16")
    )
    li = load(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#16")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            _sum_rev().alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q22_dormant_customers",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    )
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (adapted: dormancy = no orders since 1999, since
    every fixture customer has some order): wealthy customers with no
    recent orders, by nation.

    Global-average scalar broadcasts into the filter (1 row, constant
    at any SF). The NOT EXISTS left-anti side is the date-pruned
    orders scan, which SCALES with SF — it carries no static hint and
    AQE decides broadcast-vs-shuffle at runtime (at 100 TB it is a
    shuffled anti join on custkey; only the fixture scale makes it a
    broadcast). The avg threshold is pinned as exact-decimal sum over
    count (one IEEE division) so membership is engine-exact.
    """
    c = load(spark, sf_dir, "customer")
    o_recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            sum_pinned(F.col("c_acctbal"), 2).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_recent, c.c_custkey == o_recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            sum_pinned(F.col("c_acctbal"), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    costs AS (
        SELECT ps.l_partkey, s.s_suppkey, s.s_acctbal, s.s_name, n.n_name
        FROM ps
        JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT c.l_partkey AS p_partkey, p.p_name, c.s_name, c.n_name,
           ROUND(c.s_acctbal, 2) AS s_acctbal
    FROM costs c
    JOIN part p ON p.p_partkey = c.l_partkey AND p.p_size = 15
    WHERE c.s_acctbal = (
        SELECT MIN(c2.s_acctbal) FROM costs c2
        WHERE c2.l_partkey = c.l_partkey
    )
    ORDER BY s_acctbal, p_partkey, c.s_name
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: no partsupp — supplier relationships
    from lineitem, account balance standing in for supply cost): per
    part, the cheapest qualifying regional supplier.

    The correlated MIN decorrelates to a per-part window minimum —
    one shuffle by part, one pass, no self-join and nothing cached
    (the agg + join-back formulation scanned the costs branch twice).
    The selective part predicate (p_size=15, ~2% of parts) semi-joins
    the FACT before the distinct, so the relationship-grain collapse
    and every dimension join run on the 2%, not the full fact — the
    transitive-predicate-first rule the q5/q19 plans follow. Static
    broadcast hints only on nation/region (fixed-size); part and
    supplier scale with SF, so AQE decides those at runtime (the
    p_size filter keeps part small in practice). No float arithmetic
    touches s_acctbal before the equality, so the raw-double
    comparison is exact in both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    ps = (
        li.join(
            p.select("p_partkey"),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    costs = (
        ps.join(s, ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    w = Window.partitionBy("l_partkey")
    return (
        costs.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
        .orderBy("s_acctbal", "p_partkey", "s_name")
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity
                     AS DECIMAL(18, 4))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (adapted: supply cost proxied as 60% of retail
    price — no partsupp): profit by supplier nation and year for a
    part-name family.

    The LIKE filter prunes part first, which then prunes the fact at
    the first join — the selective dimension goes first. part and
    supplier scale with SF so they carry no static broadcast hint
    (AQE converts at runtime when the filtered side fits); nation is
    fixed-size and stays hinted. Profit arithmetic is a single
    projected expression inside codegen; the only shuffle is
    orders↔lineitem.

    The profit expression subtracts two same-magnitude products, so a
    double SUM's last-ulp order sensitivity can straddle a rounding
    boundary across engines (observed: one cent at sf0.01). Each
    item's profit is therefore fixed-pointed to DECIMAL(18,4) —
    identical per-row rounding in both engines — and summed exactly
    (decimal addition is associative), then emitted as double.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("profit_item"),
        )
        .groupBy("nation", "o_year")
        .agg(
            sum_pinned(F.col("profit_item"), 4)
            .cast("double")
            .alias("profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q20_excess_shippers",
    oracle="""
    WITH ship AS (
        SELECT l.l_suppkey, SUM(l.l_quantity) AS qty
        FROM lineitem l
        WHERE l.l_partkey IN (
            SELECT p_partkey FROM part WHERE p_type = 'SMALL'
        )
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey
    )
    SELECT s.s_name, s.s_suppkey
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM ship
        WHERE qty > (SELECT CAST(SUM(qty) AS DOUBLE) / COUNT(*) * 1.5
                     FROM ship)
    )
    ORDER BY s.s_suppkey
    """,
)
def q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape: nested IN chains — suppliers who shipped an
    excess volume (>1.5x the average per-supplier volume) of a part
    class in a year.

    The threshold is AVG-RELATIVE, not absolute: per-supplier volume
    grows linearly with SF, so a fixed cut (the earlier ``> 100``)
    saturated to 100% of suppliers at sf0.1+ and the semi join
    filtered nothing — the inverse of the absolute-band bug class.
    The relative cut keeps selectivity scale-free. Both INs become
    semi joins: part's filter feeds a semi join that prunes the fact
    before the per-supplier aggregation, and the threshold output
    semi-joins supplier. Both semi-join build sides scale with SF
    (part subset, qualifying suppliers), so neither is statically
    broadcast — AQE converts at runtime when they fit; the threshold
    itself is a 1-row broadcast scalar. The fact is scanned once,
    aggregated once, and never joined row-to-row with supplier.
    Quantities are integer-valued, so the sums are exact in double
    and the single avg division is engine-identical.
    """
    s = load(spark, sf_dir, "supplier")
    p_small = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "SMALL")
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    ship = materialize(
        li.join(p_small, li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    thr = ship.agg(
        (F.sum("qty").cast("double") / F.count("*") * 1.5).alias("thr")
    )
    big_shippers = (
        ship.crossJoin(F.broadcast(thr))
        .filter(F.col("qty") > F.col("thr"))
        .select("l_suppkey")
    )
    return (
        s.join(big_shippers, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_suppkey")
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (adapted: lateness = shipped >90 days after
    order date): suppliers who were the SOLE late shipper of
    multi-supplier orders.

    The EXISTS ("another supplier shipped this order") and NOT EXISTS
    ("no OTHER supplier was late") both collapse to ONE order-grain
    aggregate: an order qualifies iff distinct-late-suppliers == 1
    and distinct-suppliers > 1, and the sole late supplier is then
    min(late suppkey). The distinct counts are computed as TWO stacked
    plain aggregations — (orderkey, suppkey, max(late)) then
    order-grain count/sum/min — instead of two countDistinct in one
    groupBy: multiple distinct aggregates plan as an Expand that
    triples every joined fact row before any reduction and then
    deduplicates on a 4-part key, while the stacked form gets map-side
    partial aggregation at the supplier grain and (at fact scale,
    where lineitem⋈orders is a co-partitioned SMJ on orderkey) both
    aggregations ride the join's orderkey partitioning with no extra
    exchange. No semi/anti joins, no cached projection — every
    exchange carries aggregates, the shape that survives a fact-sized
    corpus.
    Every join is deliberately unhinted: orders is a fact table
    (1.5M rows/sf1 — forcing a broadcast OOMs executors at 100×), so
    lineitem⋈orders runs as a co-partitioned SMJ on orderkey; and
    supplier, while dimension-shaped, still scales with SF (10k
    rows/sf — 10^7 at the 100 TB target), so AQE decides that join at
    runtime too. Hints are reserved for nation/region, which are
    constant-size at any SF.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o2 = o.select("o_orderkey", "o_orderdate")
    is_late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    # ONE fact pass: join once, reduce to the (order, supplier) grain
    # with a plain max, then take the order-grain counts from that —
    # no countDistinct, so no Expand: partial aggregation shrinks the
    # fact rows before any shuffle, and partitioning by orderkey (the
    # SMJ output at fact scale) satisfies both group-bys
    # pin the fact exchange at the session's parallelism (the
    # udf_grouped_map pattern, r14): the join + both stacked
    # aggregations are expression-heavy (date arithmetic per fact
    # row) but their compressed shuffle input is small, so AQE's
    # byte-based coalescing ran the whole fact stage on 3 tasks
    # (profiled: 1.3 s of the key's 2.3 s wall; task/wall said 0.3 s
    # of ideal compute). Same key as the join ⇒ still exactly one
    # exchange per side, and both group-bys ride it; at fact scale
    # the exchange exists anyway.
    li2 = li.select("l_orderkey", "l_suppkey", "l_shipdate").repartition(
        width(spark), "l_orderkey"
    )
    pair = (
        li2.join(o2, li2.l_orderkey == o2.o_orderkey)
        .select("l_orderkey", "l_suppkey", is_late.alias("is_late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("late"))
    )
    qualifying = (
        pair.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum(F.col("late").cast("int")).alias("n_late"),
            F.min(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).alias("suppkey"),
        )
        .filter((F.col("n_late") == 1) & (F.col("n_supp") > 1))
    )
    return (
        qualifying.join(s, F.col("suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )
