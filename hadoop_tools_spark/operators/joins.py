"""Join family (SURVEY.md §2.B).

Scale notes: equi joins shuffle on their keys (sort-merge by default);
small dimensions are broadcast explicitly so at 100 TB the big fact
side never shuffles for those joins. The as-of join deliberately
avoids an inequality join (quadratic blowup) in favor of a
union+window formulation whose shuffle is a single hash partition by
key — the pattern that survives 1000 executors. AQE converts SMJ→BHJ
at runtime and splits skewed partitions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import QUADRATIC, load, table_bytes, width
from ..registry import query


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, n.n_name,
           ROUND(o.o_totalprice, 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_inner(spark, sf_dir):
    """Fact→dim chain: orders ⋈ customer ⋈ nation.

    nation (25 rows, fixed at any SF) is statically broadcast so the
    chain ends in a codegen-stage hash join. customer scales with SF
    (150k rows per SF), so it carries no hint — AQE broadcasts it at
    runtime when small and shuffles on custkey otherwise.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "o_orderkey",
            "c_name",
            "n_name",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@query(
    "join_outer",
    oracle="""
    WITH left_side AS (
        SELECT c_custkey, c_name FROM customer WHERE c_nationkey < 12
    ), right_side AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(l.c_custkey, r.o_custkey) AS custkey,
           l.c_name, r.n_orders, r.sum_price
    FROM left_side l FULL OUTER JOIN right_side r ON l.c_custkey = r.o_custkey
    """,
)
def join_outer(spark, sf_dir):
    """Full outer join with unmatched rows on both sides."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 12)
        .select("c_custkey", "c_name")
    )
    o = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_orders",
        "sum_price",
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def join_semi(spark, sf_dir):
    """Left semi: customers with at least one finished order."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
    """,
)
def join_anti(spark, sf_dir):
    """Left anti: customers with no pending ('P') orders.

    (Anti against *all* orders is empty at every fixture sf — a
    trivially-empty result would witness nothing.)
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS sum_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_broadcast(spark, sf_dir):
    """Explicit broadcast of a 25-row dim — no shuffle of the fact side.

    ``tests/test_plans.py`` asserts BroadcastHashJoin in the physical
    plan; the aggregation is partial on the scan side so the only
    shuffle carries 25 groups.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@query(
    "join_theta",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_later_nations
    FROM supplier s JOIN nation n ON s.s_nationkey < n.n_nationkey
    GROUP BY s.s_suppkey
    """,
)
def join_theta(spark, sf_dir):
    """Non-equi (theta) join — Spark plans a broadcast nested-loop.

    Only sane when one side broadcasts; at scale a raw theta join is a
    cross product, so keys like this must keep the broadcast side tiny
    or be rewritten with a bucketized equi prefix (see join_range).
    """
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey < n.n_nationkey)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_later_nations"))
    )


@query(
    "join_range",
    oracle="""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_shipped_90d
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
    GROUP BY 1
    """,
)
def join_range(spark, sf_dir):
    """Range predicate riding an equi prefix.

    The equi key (l_orderkey = o_orderkey) carries the shuffle, so the
    range condition evaluates inside the sort-merge join — no
    quadratic pair generation. A range join *without* an equi prefix
    would instead bucketize the time dimension into an artificial equi
    key (SURVEY §4.3) — pattern documented in SCALE.md.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(F.count("*").alias("n_shipped_90d"))
    )


@query(
    "join_asof",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         j AS (
            SELECT p.event_id, p.user_id, c.event_id AS c_id,
                   ROW_NUMBER() OVER (PARTITION BY p.event_id
                                      ORDER BY c.ts DESC, c.event_id DESC) AS rn
            FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts < p.ts
         )
    SELECT event_id, user_id, c_id AS prev_click_id FROM j WHERE rn = 1
    """,
)
def join_asof(spark, sf_dir):
    """As-of join: latest click strictly before each purchase, per user.

    Spark has no native as-of join; the scalable formulation is
    union + window (`last(..., ignorenulls=True)`): one shuffle by
    user_id, linear state, no inequality join. Tie discipline: clicks
    at exactly the purchase ts are excluded (strict <) by ordering
    purchases (side=0) before same-ts clicks (side=1); among earlier
    clicks the latest is (ts, event_id)-max. The DuckDB oracle states
    the same semantics relationally.
    """
    ev = load(spark, sf_dir, "events")
    out = asof_join_latest(
        left=ev.filter(F.col("event_type") == "purchase"),
        right=ev.filter(F.col("event_type") == "click"),
        key="user_id",
        ts="ts",
        id_col="event_id",
        out_col="prev_click_id",
    )
    return out.select("event_id", "user_id", "prev_click_id")


def asof_join_latest(left, right, key, ts, id_col, out_col):
    """Generic strict as-of: for each left row, the ``id_col`` of the
    latest right row with ``right.ts < left.ts`` per ``key`` (ties on
    right ts broken by max ``id_col``).

    Union + window instead of an inequality join: one hash shuffle by
    key, linear scan per partition — the shape that survives 100 TB.
    Property-tested against pandas ``merge_asof`` on random frames
    (tests/test_properties.py).
    """
    r = right.select(
        F.col(key),
        F.col(ts),
        F.col(id_col),
        F.lit(1).alias("side"),
        F.col(id_col).alias("_val"),
    )
    l = left.select(
        F.col(key),
        F.col(ts),
        F.col(id_col),
        F.lit(0).alias("side"),
        F.lit(None).cast(dict(right.dtypes)[id_col]).alias("_val"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "side", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = l.unionByName(r).withColumn(
        out_col, F.last("_val", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("side") == 0).drop("side", "_val")


@query(
    "join_salted",
    oracle="""
    SELECT s.s_nationkey, COUNT(*) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def join_salted(spark, sf_dir):
    """Skew-proof equi join as a first-class operator: the big side is
    salted across N replicas of the small side (operators/skew.py), so
    a pathological hot key spreads over N tasks instead of one.

    Results are identical to the plain join — the oracle IS the plain
    SQL join — only the physical shuffle key changes to (key, salt).
    At fixture scale AQE would also have handled this; the declared
    key pins the manual pattern used when skew is known up front
    (null-heavy keys, power-law users) and AQE's post-shuffle split
    is too late.
    """
    from .skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, s, "l_suppkey", "s_suppkey", n_salts=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@query(
    "join_range_bucketed",
    oracle="""
    SELECT date_trunc('month', o.o_orderdate) AS order_month,
           COUNT(*) AS n_shipments
    FROM orders o
    JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
    WHERE o.o_orderkey % 1000 = 0
    GROUP BY 1
    """,
)
def join_range_bucketed(spark, sf_dir):
    """Range join with NO equi key, made shuffle-joinable by
    bucketizing the range dimension (SURVEY §4.3 pattern 4).

    Each 90-day window [o_orderdate, +90d) spans at most two 90-day
    epoch buckets, so the window side explodes to those two bucket
    ids, the point side maps to its single bucket, and the join is a
    plain equi join on ``bucket`` with the exact range predicate as a
    post-filter. Candidate pairs per row are bounded by bucket
    population — not the whole table, which is what a broadcast
    nested-loop join would scan at 100 TB. Pairs can't duplicate: a
    shipdate lives in exactly one bucket.
    """
    days = 90  # bucket width == window length → ≤ 2 buckets per window
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 1000 == 0)
        .select("o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select("l_shipdate")
    # spread the single-row-group fixture scan: the bucket join fans
    # every lineitem row out to its bucket's order population (~20x
    # candidate pairs) and that compute otherwise runs on the scan's
    # 1-3 partitions (profiled r13: a 1.75 s 3-task join job on a
    # 32-core session).
    tasks = width(spark, table_bytes(sf_dir, "lineitem"))
    if tasks > 1:
        li = li.repartition(tasks)
    epoch = F.lit("1970-01-01")
    o_bucket = F.floor(F.datediff(F.col("o_orderdate"), epoch) / days)
    o_b = o.withColumn(
        "bucket", F.explode(F.array(o_bucket, o_bucket + 1))
    )
    li_b = li.withColumn(
        "bucket", F.floor(F.datediff(F.col("l_shipdate"), epoch) / days)
    )
    return (
        li_b.join(o_b, "bucket")
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (
                F.col("l_shipdate")
                < F.col("o_orderdate") + F.expr(f"INTERVAL {days} DAY")
            )
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(F.count("*").alias("n_shipments"))
    )


@query(
    "join_null_aware_anti",
    oracle="""
    WITH probe AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN NULL
                  ELSE c_nationkey END AS nk
      FROM customer
    ),
    build AS (
      SELECT n_nationkey AS nk
      FROM nation WHERE n_regionkey <> 1
    )
    SELECT c_custkey, c_name FROM probe
    WHERE nk NOT IN (SELECT nk FROM build)
    """,
)
def join_null_aware_anti(spark, sf_dir):
    """NOT IN with NULLs on BOTH sides — the null-aware anti join.
    SQL's three-valued logic means a NULL probe value never
    qualifies for NOT IN: an EXISTS-style left_anti rewrite (which
    treats NULL keys as simply non-matching and RETURNS those rows)
    is silently wrong, which is why engines plan a dedicated
    null-aware join. The probe side synthesizes NULL keys so that
    branch of the truth table is exercised and hash-checked; a build-
    side NULL (the other branch — result degenerates to empty) is
    pinned in test_plans instead, where an empty result is assertable
    on purpose rather than a silently-trivial oracle.

    Spark plans this as a broadcast null-aware anti join when the
    build side fits (nation here) — single-column NOT IN is the form
    the optimization supports; at scale the build side must stay
    broadcastable or the query rewrites to the explicit three-branch
    form. Expressed via SQL NOT IN so Catalyst's null-aware planning
    (not a hand-rewrite) is what's being verified.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("_naaj_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("_naaj_nation")
    return spark.sql(
        """
        WITH probe AS (
          SELECT c_custkey, c_name,
                 CASE WHEN c_custkey % 7 = 0 THEN NULL
                      ELSE c_nationkey END AS nk
          FROM _naaj_customer
        ),
        build AS (
          SELECT n_nationkey AS nk
          FROM _naaj_nation WHERE n_regionkey <> 1
        )
        SELECT c_custkey, c_name FROM probe
        WHERE nk NOT IN (SELECT nk FROM build)
        """
    )


@query(
    "join_fuzzy_match",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_type FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_fuzzy_match(spark, sf_dir):
    """Entity-resolution fuzzy self-join: part pairs whose names are
    within edit distance 2, candidate-blocked on (brand, type) — the
    blocked-matching primitive of record linkage / dedup over dirty
    catalogs.

    The edit-distance predicate NEVER drives the join: pairs come
    from an equi-join on the blocking key (hash join, candidate
    volume Σ|block|²) and levenshtein runs post-join on candidates
    only — an unblocked distance join is n² comparisons no engine
    survives at 100 TB. Blocking keys should be chosen so blocks stay
    bounded (the `graph_common_neighbors` degree-cap rule applies
    verbatim when a block can go viral).

    Two per-candidate cuts on the verify side (r9 — the sf1 board
    showed candidate scoring dominating on clone-dense blocks):
    a length-band residual (|len(a)−len(b)| ≤ 2 is necessary for
    edit distance ≤ 2, one codegen subtraction per pair) drops
    never-matching candidates before any DP runs, and the surviving
    pairs use Spark's THRESHOLD form ``levenshtein(a, b, 2)`` —
    banded O(len·k) DP with early exit instead of the full O(len²)
    matrix, returning −1 past the bound. sf1: 295.6 s → re-measured
    after the change (SCALE.md r9); identical output rows (the band
    is implied by the threshold, and the banded DP equals the full
    distance for every kept pair).
    """
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type"
    )
    # spread the probe side at the quadratic cost class: candidate
    # volume is Σ|block|², so even a small-bytes part table generates
    # real DP compute. Build side stays unspread (broadcast).
    probe = p
    tasks = width(spark, table_bytes(sf_dir, "part"), QUADRATIC)
    if tasks > 1:
        probe = p.repartition(tasks)
    a, b = probe.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_type") == F.col("b.p_type"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(
                    F.length(F.col("a.p_name"))
                    - F.length(F.col("b.p_name"))
                )
                <= 2
            ),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            dist.cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, ts FROM events WHERE event_type = 'click'),
         cand AS (
            SELECT p.event_id, p.user_id, c.event_id AS c_id,
                   ABS(CAST(floor(epoch(p.ts) * 1000000) AS BIGINT)
                       - CAST(floor(epoch(c.ts) * 1000000) AS BIGINT))
                       AS adiff_us,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.event_id
                       ORDER BY ABS(CAST(floor(epoch(p.ts) * 1000000) AS BIGINT)
                                    - CAST(floor(epoch(c.ts) * 1000000) AS BIGINT)),
                                c.ts, c.event_id) AS rn
            FROM p JOIN c
              ON c.ts >= p.ts - INTERVAL 5 MINUTE
             AND c.ts <= p.ts + INTERVAL 5 MINUTE
         )
    SELECT event_id, user_id, c_id AS nearest_click_id,
           CAST(adiff_us AS BIGINT) AS abs_diff_us
    FROM cand WHERE rn = 1
    """,
)
def join_asof_nearest(spark, sf_dir):
    """NEAREST as-of join (pandas ``merge_asof(direction='nearest')``
    semantics): each purchase matched to the click closest in time
    within a ±5-minute tolerance, ties broken toward the earlier
    click then event id.

    Where `join_asof` looks backward only (window trick over a union),
    nearest needs BOTH directions — so it uses a bucketized
    tolerance-band join: clicks land in one 10-minute bucket
    (2× tolerance), purchases probe their own bucket ±1 (a 3-element
    explode), so the join is a pure EQUI-join on bucket with the exact
    band as a residual filter — a raw range predicate planned as a
    nested-loop join here, which the sf1 rehearsal timed out on
    (200k × 200k comparisons). The |Δt| rank picks one winner per
    purchase; the tolerance is what keeps the candidate band (and a
    streaming version's state) bounded.
    """
    ev = load(spark, sf_dir, "events")
    bucket_s = 600  # 2× the 5-minute tolerance
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_ts"),
        F.explode(
            F.array(
                *[
                    (
                        F.floor(
                            F.unix_micros(F.col("ts").cast("timestamp"))
                            / (bucket_s * 1_000_000)
                        )
                        + d
                    ).cast("long")
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("bucket"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp"))
            / (bucket_s * 1_000_000)
        )
        .cast("long")
        .alias("bucket"),
    )
    tol = F.expr("INTERVAL 5 MINUTES")
    cand = p.join(c, "bucket").filter(
        (F.col("c_ts") >= F.col("p_ts") - tol)
        & (F.col("c_ts") <= F.col("p_ts") + tol)
    ).select(
        "event_id",
        "user_id",
        "c_id",
        "c_ts",
        F.abs(
            F.unix_micros(F.col("p_ts").cast("timestamp"))
            - F.unix_micros(F.col("c_ts").cast("timestamp"))
        ).alias("adiff_us"),
    )
    w = Window.partitionBy("event_id").orderBy("adiff_us", "c_ts", "c_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("c_id").alias("nearest_click_id"),
            F.col("adiff_us").alias("abs_diff_us"),
        )
    )


@query(
    "join_bucketed",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark, sf_dir):
    """Co-located fact↔fact join over BUCKETED tables — the layout
    answer to the biggest cost at 100 TB, shuffling both sides of an
    orders↔lineitem join: both tables are written bucketed (and
    bucket-sorted) on the join key with the same bucket count, so the
    join plans as a SortMergeJoin with NO Exchange on either side —
    each task reads matching bucket files directly. The write pays
    its shuffle ONCE; every later join of any two same-bucketed
    tables is shuffle-free (tests/test_bucketing.py asserts the
    exchange-free plan; this key pins the RESULT equals the plain
    join's against the oracle's straight recomputation).

    Sums are exact integers (quantity units, price cents) so the
    hash can't wobble on reduction order.
    """
    from ..sources.bucketing import bucketed_pair

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    bo, bl = bucketed_pair(
        spark, orders, li, "o_orderkey", "l_orderkey", prefix="hts_jb"
    )
    j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).alias("price_cents"),
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         j AS (
            SELECT p.event_id, p.user_id, p.ts AS p_ts,
                   c.event_id AS c_id, c.ts AS c_ts,
                   ROW_NUMBER() OVER (PARTITION BY p.event_id
                                      ORDER BY c.ts DESC, c.event_id DESC)
                       AS rn
            FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts < p.ts
         )
    SELECT event_id, user_id,
           CASE WHEN c_ts >= p_ts - INTERVAL 30 MINUTE THEN c_id END
               AS prev_click_id,
           CASE WHEN c_ts >= p_ts - INTERVAL 30 MINUTE
                THEN epoch_us(p_ts) - epoch_us(c_ts) END AS gap_us
    FROM j WHERE rn = 1
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a TOLERANCE bound (pandas ``merge_asof
    (tolerance=...)`` / kdb wj semantics): the latest click strictly
    before each purchase counts only if it happened within 30
    minutes — older matches become NULL, exactly like no match. The
    variant matters because an unbounded as-of silently attributes a
    purchase to a click from weeks ago; attribution pipelines always
    carry the window.

    Same scale shape as `join_asof` (union + one window over the key
    shuffle — no inequality join): the window carries a (ts, id)
    struct so the tolerance is a post-filter on the MATCHED
    timestamp, costing zero extra exchanges. The strict-< tie
    discipline is inherited (purchases order before same-ts clicks).
    """
    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "click")
    r = right.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("side"),
        F.struct(
            F.col("ts").alias("m_ts"), F.col("event_id").alias("m_id")
        ).alias("_val"),
    )
    l = left.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("side"),
        F.lit(None)
        .cast("struct<m_ts:timestamp,m_id:bigint>")
        .alias("_val"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = l.unionByName(r).withColumn(
        "m", F.last("_val", ignorenulls=True).over(w)
    )
    in_tol = F.col("m.m_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    return (
        merged.filter(F.col("side") == 0)
        .select(
            "event_id",
            "user_id",
            F.when(in_tol, F.col("m.m_id")).alias("prev_click_id"),
            F.when(
                in_tol,
                # timestampdiff handles TIMESTAMP_NTZ (events.ts via
                # the nanosAsLong conf path), where unix_micros doesn't
                F.expr("timestampdiff(MICROSECOND, m.m_ts, ts)"),
            ).alias("gap_us"),
        )
    )
