"""Aggregation family (SURVEY.md §2.B).

All are groupBy().agg() over built-ins, so Spark plans partial
(map-side) + final hash aggregation automatically — the shuffle
carries only group keys × partial states, which is what makes these
O(groups) not O(rows) at 100 TB. Float aggregates are rounded to pin
the oracle hash (sum-of-doubles is order-sensitive in the last ulps).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..exact import sum_exact, sum_exact_sql, sum_pinned
from ..io import load, table_bytes, width
from ..registry import query


@query(
    "agg_basic",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price,
           floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5)/1000000 AS avg_price,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_basic(spark, sf_dir):
    # o_totalprice sits on a 4-dp grid (probed: 0/15000 off-grid):
    # fixed-point per row and SUM as DECIMAL (associative → order-free
    # cross-engine), then one IEEE division for the mean — SUM/AVG
    # over raw doubles then ROUND was the partition-merge-order flake
    # class (q1's proven pattern). The mean is floor-pinned
    # (floor(x·1e6+0.5)/1e6) like agg_cube/agg_unpivot: ROUND on a
    # double diverges between Spark HALF_UP and DuckDB scaled-binary
    # at exact .5 boundaries, so the registry uses one convention.
    sum_price = sum_pinned(F.col("o_totalprice"), 4)
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            sum_price.cast("double").alias("sum_price"),
            (
                F.floor(
                    sum_price.cast("double") / F.count("*") * 1_000_000
                    + 0.5
                )
                / 1_000_000
            ).alias("avg_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark, sf_dir):
    """Exact distinct counts — planned as expand + two-phase agg."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@query("agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def agg_approx_distinct(spark, sf_dir):
    """HLL approximate distinct — the 100 TB path for cardinality.

    Sketch values are engine-specific, so this key ships without an
    oracle; the exact twin (`agg_distinct`) carries correctness and
    ``tests/test_approx.py`` bounds the relative error vs exact.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("n_parts_approx"))
    )


@query("agg_approx_median")  # rows-only: sketch values are engine-specific
def agg_approx_median(spark, sf_dir):
    """Sketch-based percentile — the 100 TB twin of ``agg_median``.

    Exact percentile buffers every value per group; the
    ``percentile_approx`` sketch is constant-size and mergeable, so
    the shuffle carries sketches, not values. Accuracy parameter 1000
    ⇒ rank error ≤ ~0.1%. The exact twin carries the oracle;
    tests/test_approx.py bounds this key's deviation against it.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias(
                "median_approx"
            ),
            F.percentile_approx("l_extendedprice", 0.9, 1000).alias(
                "p90_approx"
            ),
        )
    )


def _qty_price_sums(li):
    """Exact per-returnflag sufficient statistics for (l_quantity,
    l_extendedprice): quantity in units (integer-valued), price in
    cents (2-dp grid → ``floor(x*100+0.5)`` is exact). Every sum is an
    order-free integer/DECIMAL reduction, so the variance /
    correlation / regression identities downstream run ONCE per group
    on bit-identical operands in both engines — Spark's and DuckDB's
    merged-moment aggregates (stddev/corr/regr_*) differ in last ulps
    with partition order, which was the ROUND flake class.

    Shape notes (r7 profile): unit columns and their products are
    projected ONCE before the aggregate (the scan-stage projection
    names them, so no aggregate input re-derives the floor pin), and
    the limb sums ship as SQL text (``sum_exact_sql``) — the Column
    form cost ~0.3 s of py4j/analysis plan-build per key at bench
    time, pure driver-side fixed cost."""
    pre = li.selectExpr(
        "l_returnflag",
        "CAST(l_quantity AS BIGINT) AS q",
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c",
    ).selectExpr("l_returnflag", "q", "c", "q*q AS qq", "c*c AS cc",
                 "c*q AS cq")
    # cents sums widen past int64 around 1e12 rows; limb sums
    # (exact.py) keep the reduction exact at any SF with primitive
    # long buffers (a DECIMAL(38,0) SUM measured ~3x slower here).
    # Per-row products stay inside int64: cents^2 <= ~1.2e14 and
    # cents*qty <= ~5.5e8, so only the REDUCTION needs widening.
    return pre.groupBy("l_returnflag").agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr("SUM(q)").alias("sq"),
        F.expr("SUM(qq)").alias("sq2"),
        F.expr(sum_exact_sql("c")).alias("sp"),
        F.expr(sum_exact_sql("cc", limbs=3)).alias("sp2"),
        F.expr(sum_exact_sql("cq", limbs=2)).alias("spq"),
    )


#: Spark-side twin of the oracle's `d` CTE: double-cast discriminants
#: from the exact sufficient statistics, evaluated once per group.
#: DECIMAL(38,0) products match the oracle's HUGEINT arithmetic up to
#: ~1e12 rows/group (ANSI: overflow throws, never silently wraps).
_D_EXPRS = (
    "l_returnflag",
    "n",
    "CAST(n AS DOUBLE) AS dn",
    "CAST(CAST(n AS DECIMAL(38,0)) * sq2 - CAST(sq AS DECIMAL(38,0)) * sq"
    " AS DOUBLE) AS vqn",
    "CAST(CAST(n AS DECIMAL(38,0)) * sp2 - sp * sp AS DOUBLE) AS vpn",
    "CAST(CAST(n AS DECIMAL(38,0)) * spq - CAST(sq AS DECIMAL(38,0)) * sp"
    " AS DOUBLE) AS cvn",
    "CAST(sq AS DOUBLE) AS dsq",
    "CAST(sp AS DOUBLE) AS dsp",
)

#: the same sufficient-statistics CTE for oracle SQL. DuckDB SUM over
#: BIGINT returns HUGEINT, so the squared-cents sums stay exact too.
_QTY_PRICE_SUMS_SQL = """
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sq,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                 AS sq2,
             SUM(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS sp,
             SUM(CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                 * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS sp2,
             SUM(CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                 * CAST(l_quantity AS BIGINT)) AS spq
      FROM lineitem GROUP BY l_returnflag
    ),
    d AS (
      SELECT l_returnflag, n,
             CAST(n AS DOUBLE) AS dn,
             CAST(n*sq2 - sq*sq AS DOUBLE) AS vqn,
             CAST(n*sp2 - sp*sp AS DOUBLE) AS vpn,
             CAST(n*spq - sq*sp AS DOUBLE) AS cvn,
             CAST(sq AS DOUBLE) AS dsq,
             CAST(sp AS DOUBLE) AS dsp
      FROM s
    )
"""


@query(
    "agg_stats",
    oracle="""
    WITH """ + _QTY_PRICE_SUMS_SQL + """
    SELECT l_returnflag,
           CASE WHEN n > 1 AND vqn > 0
                THEN floor(sqrt(vqn / (dn*(dn-1))) * 1000000 + 0.5)/1000000
           END AS std_qty,
           CASE WHEN n > 1
                THEN floor(vqn / (dn*(dn-1)) * 1000000 + 0.5)/1000000
           END AS var_qty,
           CASE WHEN vqn > 0 AND vpn > 0
                THEN floor(cvn / sqrt(vqn*vpn) * 1000000 + 0.5)/1000000
           END AS corr_qty_price,
           CASE WHEN n > 1
                THEN floor(cvn / (dn*(dn-1)) / 100 * 10000 + 0.5)/10000
           END AS covar_qty_price
    FROM d
    """,
)
def agg_stats(spark, sf_dir):
    """Sample stddev/variance, correlation, and covariance from EXACT
    sufficient statistics (see ``_qty_price_sums``); the identities
    are fixed IEEE expressions over identical operands, floor-pinned.
    Zero-variance / single-row groups yield NULL on both engines (the
    raw division would be an ANSI DIVIDE_BY_ZERO job kill in Spark
    but a silent NULL in DuckDB)."""
    s = _qty_price_sums(load(spark, sf_dir, "lineitem"))
    # identity projections as SQL text — the SAME text as the oracle's
    # `d` CTE / final select, and one py4j call per projection instead
    # of one per operator (the r7 plan-build profile)
    d = s.selectExpr(*_D_EXPRS)
    return d.selectExpr(
        "l_returnflag",
        "CASE WHEN n > 1 AND vqn > 0"
        " THEN floor(sqrt(vqn / (dn*(dn-1))) * 1000000 + 0.5)/1000000"
        " END AS std_qty",
        "CASE WHEN n > 1"
        " THEN floor(vqn / (dn*(dn-1)) * 1000000 + 0.5)/1000000"
        " END AS var_qty",
        "CASE WHEN vqn > 0 AND vpn > 0"
        " THEN floor(cvn / sqrt(vqn*vpn) * 1000000 + 0.5)/1000000"
        " END AS corr_qty_price",
        "CASE WHEN n > 1"
        " THEN floor(cvn / (dn*(dn-1)) / 100 * 10000 + 0.5)/10000"
        " END AS covar_qty_price",
    )


@query(
    "agg_median",
    oracle="""
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 4) AS median_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_median(spark, sf_dir):
    """Exact median / continuous quantile (interpolating, both engines).

    ``percentile_approx`` is the sketch-based scale path; like the HLL
    key it cannot hash-match another engine, so the declared key uses
    the exact forms and the approx variant is bounded in tests.

    Exact percentile buffers every value, so the two needed columns
    are projected BEFORE the parallelizing repartition — the spread
    shuffle carries 2 columns, not 16 (the general rule for any
    full-buffering aggregate: cut width before the exchange).
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    tasks = width(spark, table_bytes(sf_dir, "lineitem"))
    if tasks > 1:
        li = li.repartition(tasks)
    return (
        li
        .groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_extendedprice"), 4).alias("median_price"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias(
                "p90_price"
            ),
        )
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    ),
    c2 AS (
      SELECT l_returnflag, q, n,
             SUM(n) OVER (PARTITION BY l_returnflag) AS tot,
             SUM(n) OVER (PARTITION BY l_returnflag ORDER BY q
                          ROWS UNBOUNDED PRECEDING) AS cum,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, q) AS rn
      FROM c
    )
    SELECT l_returnflag,
           MIN(CASE WHEN rn = 1 THEN q END) AS mode_qty,
           CAST(MIN(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS mode_n,
           MIN(CASE WHEN 2 * cum >= tot THEN q END) AS p50_disc_qty,
           MIN(CASE WHEN 4 * cum >= 3 * tot THEN q END) AS p75_disc_qty
    FROM c2 GROUP BY l_returnflag
    """,
)
def agg_mode(spark, sf_dir):
    """Exact mode and discrete percentiles per group, with fully
    pinned tie semantics: the mode is the SMALLEST value among those
    with maximal frequency (engine-native ``mode()`` functions pick an
    arbitrary tie winner, which can never hash-match across engines),
    and percentile_disc(q) is the smallest value whose cumulative
    frequency reaches q — expressed identically in both engines
    instead of trusting two implementations' boundary conventions.

    Scale shape: one map-side-combinable groupBy on (group, value) —
    the only pass over the fact table — then windows and the final
    rollup all run on the value-histogram, whose size is
    |groups| x |distinct values|, independent of row count. This is
    the histogram-first pattern for any exact order statistic over a
    low-cardinality value domain.
    """
    c = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag", F.col("l_quantity").cast("long").alias("q")
        )
        .groupBy("l_returnflag", "q")
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("l_returnflag")
    c2 = c.select(
        "l_returnflag",
        "q",
        "n",
        F.sum("n").over(wp).alias("tot"),
        F.sum("n")
        .over(wp.orderBy("q").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.row_number()
        .over(wp.orderBy(F.col("n").desc(), F.col("q")))
        .alias("rn"),
    )
    return c2.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("rn") == 1, F.col("q"))).alias("mode_qty"),
        F.min(F.when(F.col("rn") == 1, F.col("n"))).alias("mode_n"),
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("q"))).alias(
            "p50_disc_qty"
        ),
        F.min(
            F.when(4 * F.col("cum") >= 3 * F.col("tot"), F.col("q"))
        ).alias("p75_disc_qty"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT o_orderstatus,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT o_orderpriority)), ',')
               AS priorities
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_collect(spark, sf_dir):
    """collect_set → sorted → joined to a string (type-stable hash)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities")
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark, sf_dir):
    """Hierarchical subtotals — planned as a single Expand + agg."""
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           floor(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5)/1000000 AS avg_bal
    FROM customer
    GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
)
def agg_cube(spark, sf_dir):
    # c_acctbal is on a 2-dp grid: exact decimal sum, one IEEE
    # division, floor-pinned mean (AVG of doubles is order-dependent
    # cross-engine — the flake class)
    sum_bal = sum_pinned(F.col("c_acctbal"), 2)
    return (
        load(spark, sf_dir, "customer")
        .cube("c_mktsegment", "c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            (
                F.floor(
                    sum_bal.cast("double") / F.count("*")
                    * 1_000_000
                    + 0.5
                )
                / 1_000_000
            ).alias("avg_bal"),
        )
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark, sf_dir):
    """Pivot with pinned value list (no extra pass to discover values).

    Missing combinations become 0 on both sides (``na.fill`` here,
    COUNT CASE there) so nullable-int pandas dtype drift can't break
    the hash.
    """
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "agg_unpivot",
    oracle="""
    SELECT o_orderpriority, measure, val
    FROM (
      SELECT o_orderpriority,
             floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   * 100 + 0.5)/100 AS total_price,
             floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*) * 100 + 0.5)/100 AS avg_price,
             floor(MAX(o_totalprice) * 100 + 0.5)/100 AS max_price
      FROM orders GROUP BY o_orderpriority
    )
    UNPIVOT (val FOR measure IN (total_price, avg_price, max_price))
    """,
)
def agg_unpivot(spark, sf_dir):
    """UNPIVOT (melt): wide per-group measures into long
    (group, measure, value) rows — the inverse of `agg_pivot`.

    The unpivot runs AFTER aggregation, so the 3x row expansion
    applies to group-level rows only (tiny); melting raw fact rows
    would triple the shuffle volume instead. Expand-based, stays in
    codegen, no extra exchange.
    """
    # o_totalprice is on a 4-dp grid: exact decimal sums; every
    # 2-dp emission is floor-pinned because a 4-dp quantity lands on
    # an exact 2-dp .5 boundary ~1/100 of the time and Spark/DuckDB
    # ROUND diverge there (shortest-repr HALF_UP vs scaled binary)
    sum_price = sum_pinned(F.col("o_totalprice"), 4)
    pin2 = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    wide = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            pin2(sum_price.cast("double")).alias("total_price"),
            pin2(sum_price.cast("double") / F.count("*")).alias(
                "avg_price"
            ),
            pin2(F.max("o_totalprice")).alias("max_price"),
        )
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["total_price", "avg_price", "max_price"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ), n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                    CAST(COUNT(*) AS BIGINT) AS nk FROM c)
    SELECT l_partkey, cnt,
           floor(cnt * 10000.0 / (SELECT total FROM n) * 10000 + 0.5)/10000
               AS per_10k
    FROM c
    WHERE CAST(cnt AS HUGEINT) * (SELECT nk FROM n) * 2
          >= 3 * (SELECT total FROM n)
    """,
)
def agg_heavy_hitters(spark, sf_dir):
    """Exact frequent-item detection: part keys appearing >= 1.5x as
    often as the mean key (scale-free selectivity: 16 keys at sf0.01,
    138 at sf0.1, 1380 at sf1 — an absolute share cut empties as the
    key count grows with SF), with per-10k share.

    Scan + map-side-combined count + a 1-row total broadcast: the
    exact anchor for frequency estimation. The bounded-memory twin for
    cardinalities where even the counting groupBy is too wide is
    Misra-Gries (test_analytics.py proves a k-summary mapInPandas
    merge finds every true heavy hitter on this fixture) — sketch
    summaries merge associatively, so re-aggregation stays O(k) per
    partition at any scale.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    counts = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    # total derived FROM the counts (Σcnt == COUNT(*)) so the fact
    # table is scanned once: the driver-side li.count() this replaces
    # was a second full pass; the identical partial-agg exchange is
    # reused by Catalyst (ReusedExchange) and the 1-row total rides a
    # broadcast nested-loop join — the declared scalar-broadcast shape
    total = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("nk")
    )
    # threshold is RELATIVE to the mean count per key (>= 1.5x, as an
    # integer-exact 2*cnt*nk >= 3*total test): the old absolute-share
    # cut (cnt/total >= 0.08%) emptied as the key count grew with SF
    # (0 rows at sf1) — scale-degenerate, the q20 class. DECIMAL keeps
    # the product exact past int64 at extreme cnt x nk.
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(
            F.col("cnt").cast("decimal(38,0)") * F.col("nk") * 2
            >= 3 * F.col("total").cast("decimal(38,0)")
        )
        .select(
            "l_partkey",
            "cnt",
            (
                F.floor(
                    F.col("cnt") * 10000.0 / F.col("total") * 10_000 + 0.5
                )
                / 10_000
            ).alias("per_10k"),
        )
    )


@query(
    "agg_linreg",
    oracle="""
    WITH """ + _QTY_PRICE_SUMS_SQL + """,
    r AS (
      SELECT l_returnflag, n, dn, dsq, dsp, vqn, vpn, cvn,
             CASE WHEN vqn > 0 THEN cvn / vqn / 100 END AS slope_raw
      FROM d
    )
    SELECT l_returnflag, n,
           CASE WHEN vqn > 0
                THEN floor(slope_raw * 10000 + 0.5)/10000
           END AS slope,
           CASE WHEN vqn > 0
                THEN floor((dsp / dn / 100 - slope_raw * (dsq / dn))
                           * 10000 + 0.5)/10000
           END AS intercept,
           CASE WHEN vqn > 0 AND vpn > 0
                THEN floor(cvn * cvn / (vqn * vpn) * 1000000 + 0.5)/1000000
           END AS r2,
           floor(dsq / dn * 10000 + 0.5)/10000 AS avg_x,
           floor(dsp / dn / 100 * 10000 + 0.5)/10000 AS avg_y
    FROM r
    """,
)
def agg_linreg(spark, sf_dir):
    """SQL:2003 linear-regression surface (regr_count/slope/intercept/
    r2/avgx/avgy semantics): price-vs-quantity fit per return flag,
    computed from the SAME exact sufficient statistics as ``agg_stats``
    — Spark's built-in ``regr_*`` merge central-moment streams whose
    last ulps depend on partition order, the cross-engine flake class.
    One scan, map-side-combined integer sums, identities evaluated
    once per group and floor-pinned; degenerate groups (zero x- or
    y-variance) yield NULL on both engines."""
    s = _qty_price_sums(load(spark, sf_dir, "lineitem"))
    # SQL-text identity projections: same text as the oracle's `r` CTE
    # and final select (plan-build cost, r7 profile — see agg_stats)
    r = s.selectExpr(*_D_EXPRS).selectExpr(
        "*",
        "CASE WHEN vqn > 0 THEN cvn / vqn / 100 END AS slope_raw",
    )
    return r.selectExpr(
        "l_returnflag",
        "n",
        "CASE WHEN vqn > 0"
        " THEN floor(slope_raw * 10000 + 0.5)/10000"
        " END AS slope",
        "CASE WHEN vqn > 0"
        " THEN floor((dsp / dn / 100 - slope_raw * (dsq / dn))"
        " * 10000 + 0.5)/10000"
        " END AS intercept",
        "CASE WHEN vqn > 0 AND vpn > 0"
        " THEN floor(cvn * cvn / (vqn * vpn) * 1000000 + 0.5)/1000000"
        " END AS r2",
        "floor(dsq / dn * 10000 + 0.5)/10000 AS avg_x",
        "floor(dsp / dn / 100 * 10000 + 0.5)/10000 AS avg_y",
    )


@query(
    "agg_listagg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_listagg(spark, sf_dir):
    """Ordered string aggregation (SQL:2016 LISTAGG, new in Spark 4):
    comma-joined nation list per region, deterministic via WITHIN
    GROUP ordering. Ordered aggregates buffer per group — bounded
    here by design (group members are a dimension); for unbounded
    groups the scale answer is collect -> sort -> slice with an
    explicit cap, never an unordered concat (retry-unstable)."""
    load(spark, sf_dir, "region").createOrReplaceTempView("_la_region")
    load(spark, sf_dir, "nation").createOrReplaceTempView("_la_nation")
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                   AS nations,
               COUNT(*) AS n_nations
        FROM _la_region r JOIN _la_nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_totalprice > 100000) AS BIGINT)
             AS n_big,
           BOOL_AND(o_totalprice > 900) AS all_over_900,
           BOOL_OR(o_orderstatus = 'F') AS any_finished,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_boolean(spark, sf_dir):
    """Boolean/conditional aggregate family: count_if, every (bool_and),
    some (bool_or), and a DETERMINISTIC any_value stand-in. All four
    are map-side combinable single-bit or single-value states — the
    cheapest aggregates there are; `any_value` itself is
    intentionally avoided in favor of min(): "any" is
    partition-order-dependent and therefore retry-unstable, the same
    reason unordered concat is banned from the LISTAGG key.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.every(F.col("o_totalprice") > 900).alias("all_over_900"),
        F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.min("o_orderkey").alias("first_key"),
    )


@query("agg_sketch_hll_merge")  # rows-only: DataSketches binary has no DuckDB twin
def agg_sketch_hll_merge(spark, sf_dir):
    """Mergeable HLL sketches (Apache DataSketches, Spark 4 built-in):
    per-nation customer sketches unioned up to region level, estimates
    next to exact ground truth.

    This is the re-aggregatable-rollup pattern a 100 TB cube needs:
    the nation-level sketch is a few KB of mergeable state, so the
    region (or global) NDV re-aggregates from stored partials by
    sketch union — no second pass over raw data, unlike
    COUNT(DISTINCT) which cannot compose from per-group results.
    HLL register updates are max-merges, so the estimate is
    order/partitioning-independent — but the sketch encoding is
    engine-specific, hence rows-only; the accuracy contract
    (|est − exact| ≤ 5 %) is pinned in pytest instead.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    per_nation = (
        c.groupBy(F.col("c_nationkey"))
        .agg(
            F.hll_sketch_agg("c_custkey", F.lit(12)).alias("sk"),
            F.countDistinct("c_custkey").alias("exact_nd"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        per_nation.groupBy(F.col("n_regionkey").alias("region_key"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("est_ndv"),
            # custkeys are globally unique, so nation exacts sum to the
            # region exact — the ground truth rides the same rollup
            F.sum("exact_nd").alias("exact_ndv"),
        )
        .select("region_key", "est_ndv", "exact_ndv")
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark, sf_dir):
    """CUBE with ``grouping_id()``/``grouping()`` — the bitmask that
    tells a consumer WHICH aggregation level each output row belongs
    to (0 = detail, 3 = grand total), so one cube pass can feed
    level-specific downstream logic without re-aggregating. The oracle
    composes the id from GROUPING() bits explicitly
    (g(status)·2 + g(priority)), pinning the bit order against
    engine-convention drift. Single Expand + partial agg, same shape
    as agg_cube.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.col("gid").cast("long").alias("gid"),
            "g_status",
            "n_orders",
            "sum_price",
        )
    )


@query(
    "agg_argminmax",
    oracle="""
    SELECT o_orderpriority,
           CAST(MIN_BY(o_orderkey,
                       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       * 10000000 + o_orderkey) AS BIGINT)
               AS cheapest_order,
           CAST(MAX_BY(o_orderkey,
                       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       * 10000000 + o_orderkey) AS BIGINT)
               AS priciest_order,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_argminmax(spark, sf_dir):
    """argmin/argmax aggregates (``min_by``/``max_by``): the order id
    carrying each priority's extreme price — one pass, no join-back
    and no per-group sort, the single-shuffle alternative to the
    window-rank idiom when only the extreme row's key is needed.

    Determinism: price ties would make bare min_by engine-arbitrary,
    so the ordering key is the integer composite cents·10⁷ + orderkey
    — a total order (exact cents, orderkey < 10⁷ at every fixture SF)
    encoded identically on both engines, since DuckDB's min_by cannot
    order by a struct.
    """
    o = load(spark, sf_dir, "orders")
    ordkey = (
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long") * 10_000_000
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", ordkey).cast("long").alias("cheapest_order"),
        F.max_by("o_orderkey", ordkey).cast("long").alias("priciest_order"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "agg_moments",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events
    ),
    m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2,
               CAST(SUM(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
               CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
        FROM c GROUP BY event_type
    ),
    m2 AS (
        SELECT event_type, n,
               CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS v,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS r2m,
               CAST(s3 AS DOUBLE) / n AS r3m,
               CAST(s4 AS DOUBLE) / n AS r4m
        FROM m
    )
    SELECT event_type, n,
           floor(v * 10000 + 0.5) / 10000 AS var_pop4,
           CASE WHEN v > 0 THEN
             floor((r3m - 3 * mu * r2m + 2 * mu * mu * mu)
                   / pow(v, 1.5) * 1000000 + 0.5) / 1000000
           END AS skewness6,
           CASE WHEN v > 0 THEN
             floor((r4m - 4 * mu * r3m + 6 * mu * mu * r2m
                    - 3 * mu * mu * mu * mu)
                   / (v * v) * 1000000 + 0.5) / 1000000
           END AS kurtosis6
    FROM m2
    """,
)
def agg_moments(spark, sf_dir):
    """Population skewness and kurtosis per event type from EXACT raw
    moment sums — higher-order distribution shape beyond
    ``agg_stats``'s variance/correlation.

    Raw moments Σx..Σx⁴ accumulate as integers over cents (x ≤ 10⁴
    cents ⇒ x⁴ ≤ 10¹⁶; partial sums stay in range at fixture scales
    and the reduction is order-independent — unlike merged
    central-moment streams, whose last-ulp depends on partition
    order). The central-moment identities then run in float once per
    GROUP (not per row), a fixed IEEE expression both engines
    evaluate identically; outputs are floor-pinned. Map-side
    combinable like any sum — the single-pass mergeable-moments
    pattern (same family as agg_linreg).
    """
    ev = load(spark, sf_dir, "events")
    c = ev.selectExpr(
        "event_type", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS x"
    )
    # All four moment sums reduce with primitive long buffers
    # (exact.py limb sums — the decimal(38,0) SUM form pays the heap
    # buffer tax). Per-row bounds, ANSI-guarded (overflow THROWS, it
    # cannot silently wrap — the sf0.1 bench once caught a silent
    # per-row x⁴ wrap at 560.21 maxima, hence the care here):
    #   x²,x³ as long products: exact for |x| < 2^21 cents ($20 971
    #   per event value — 37× the fixture maxima);
    #   x⁴ NEVER fits int64 at real maxima (9.85e18 > 2^63), so it is
    #   square-split: p₂ = x² = a·2^21 + b ⇒ x⁴ = a²·2^42 + ab·2^22
    #   + b², three long-product sums recombined in DECIMAL per group.
    # Row bounds: every limb sum safe past 4e12 rows/group (exact.py).
    # Products projected once before the agg; limb sums and identity
    # projections ship as SQL text (r7 plan-build profile — one py4j
    # call per expression instead of one per operator).
    pre = c.selectExpr("event_type", "x", "x*x AS p2").selectExpr(
        "event_type",
        "x",
        "p2",
        "p2 * x AS p3",
        "SHIFTRIGHT(p2, 21) AS a4",
        f"PMOD(p2, {1 << 21}) AS b4",
    ).selectExpr(
        "event_type", "x", "p2", "p3",
        "a4*a4 AS aa", "a4*b4 AS ab", "b4*b4 AS bb",
    )
    m = pre.groupBy("event_type").agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr("SUM(x)").alias("s1"),
        F.expr(sum_exact_sql("p2", limbs=2)).alias("s2"),
        F.expr(sum_exact_sql("p3", limbs=3)).alias("s3"),
        F.expr(
            f"CAST({sum_exact_sql('aa', limbs=2)} * {1 << 42}"
            f" + {sum_exact_sql('ab', limbs=3)} * {1 << 22}"
            f" + {sum_exact_sql('bb', limbs=3)} AS DECIMAL(38,0))"
        ).alias("s4"),
    )
    # zero-variance groups (single row / constant value): the skew and
    # kurtosis divisions would be an ANSI DIVIDE_BY_ZERO job kill in
    # Spark but a silent NULL in DuckDB — guard both engines to NULL.
    # Identity text mirrors the oracle's m2 CTE / final select exactly.
    m2 = m.selectExpr(
        "event_type",
        "n",
        "CAST(s2 AS DOUBLE) / n"
        " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS v",
        "CAST(s1 AS DOUBLE) / n AS mu",
        "CAST(s2 AS DOUBLE) / n AS r2m",
        "CAST(s3 AS DOUBLE) / n AS r3m",
        "CAST(s4 AS DOUBLE) / n AS r4m",
    )
    return m2.selectExpr(
        "event_type",
        "n",
        "floor(v * 10000 + 0.5) / 10000 AS var_pop4",
        "CASE WHEN v > 0 THEN"
        " floor((r3m - 3 * mu * r2m + 2 * mu * mu * mu)"
        " / pow(v, 1.5) * 1000000 + 0.5) / 1000000"
        " END AS skewness6",
        "CASE WHEN v > 0 THEN"
        " floor((r4m - 4 * mu * r3m + 6 * mu * mu * r2m"
        " - 3 * mu * mu * mu * mu)"
        " / (v * v) * 1000000 + 0.5) / 1000000"
        " END AS kurtosis6",
    )


@query(
    "agg_quantile_disc",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                THEN FLOOR(o_totalprice * 100 + 0.5) END) AS BIGINT)
               AS p50_c,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                THEN FLOOR(o_totalprice * 100 + 0.5) END) AS BIGINT)
               AS p90_c,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                THEN FLOOR(o_totalprice * 100 + 0.5) END) AS BIGINT)
               AS p99_c
    FROM r GROUP BY o_orderpriority
    """,
)
def agg_quantile_disc(spark, sf_dir):
    """Exact DISCRETE quantiles (p50/p90/p99) of order value per
    priority class — the member-of-the-set quantile next to
    `agg_median`'s interpolating `quantile_cont`: the reported value
    is an actual order's price (type-preserving, the form SLA/latency
    reporting wants), selected at rank ``ceil(p·n)`` under the TOTAL
    order (price, orderkey) — the explicit rank rule is pinned in
    both engines rather than trusting two engines' `percentile_disc`
    tie conventions to coincide.

    Scale shape: one hash exchange on the group key + per-partition
    sort (the window), then the group-collapse reuses the same
    partitioning — no second exchange. Groups are the 5 priority
    classes; at 100 TB the per-group sort is the cost and would ride
    range-partitioned rank (the `sort_multi` machinery) past
    single-partition group sizes — the documented seam.
    """
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    r = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5)

    def pick(p):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
                cents,
            )
        ).cast("long")

    return r.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        pick(0.5).alias("p50_c"),
        pick(0.9).alias("p90_c"),
        pick(0.99).alias("p99_c"),
    )
