"""Window function family (SURVEY.md §2.B).

Window ops shuffle once on the partition key then sort within
partitions; every ORDER BY below carries a unique tie-breaker so
results are deterministic (the oracle hash demands it). At 100 TB the
partition key must be high-cardinality (user_id, custkey) — a window
over a single global partition serializes onto one task, which is why
`sort_multi` computes its global rank with the two-phase
range-partitioned :func:`global_row_number` instead.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load, materialize, width
from ..registry import query


def global_row_number(
    df: DataFrame, order_cols: list, out_col: str = "pos", n_parts: int | None = None
) -> DataFrame:
    """Distributed global ROW_NUMBER — no single-task global window.

    Two-phase total order (the classic external-sort rank):
    1. ``repartitionByRange`` on the ORDER BY keys gives globally
       ordered, parallel partitions; ``sortWithinPartitions`` orders
       rows inside each.
    2. A per-partition count (one tiny row per partition collected to
       the driver) yields each partition's global offset; an Arrow
       ``mapInPandas`` then streams every partition once, emitting
       offset + local running index.

    Every stage is parallel in the partition count; the only driver
    data is one (pid, count) pair per partition. The ORDER BY must
    include a unique tie-breaker for a deterministic total order.

    The ``materialize`` cache is CORRECTNESS-load-bearing, not an
    optimization, and is deliberately not unpersisted here:
    ``repartitionByRange`` draws sampled boundaries, so a recompute of
    the lineage could place rows in different partitions than the ones
    the collected offsets were derived from, corrupting every rank.
    The cost is one cached dataset per invocation for the session's
    lifetime (MEMORY_AND_DISK, LRU-evictable); callers that invoke
    this in a loop should cap input width first, as ``sort_multi``
    does by selecting 3 columns.
    """
    if n_parts is None:
        n_parts = width(df.sparkSession)
    ranged = materialize(
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    bc = df.sparkSession.sparkContext.broadcast(offsets)
    schema = T.StructType(
        ranged.drop("_pid").schema.fields + [T.StructField(out_col, T.LongType())]
    )

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        base = None
        for pdf in batches:
            if pdf.empty:
                continue
            if base is None:
                base = bc.value[int(pdf["_pid"].iloc[0])]
            out = pdf.drop(columns=["_pid"])
            out[out_col] = range(base + seen + 1, base + seen + 1 + len(pdf))
            seen += len(pdf)
            yield out

    return ranged.mapInPandas(number, schema=schema)


@query(
    "win_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROW_NUMBER()   OVER w AS rn,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           NTILE(4)       OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_rank(spark, sf_dir):
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@query(
    "win_lag",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(LAG(o_totalprice)  OVER w, 2) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           ROUND(LAST_VALUE(o_totalprice) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_lag(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w_full), 2).alias("last_price"),
    )


@query(
    "win_frame",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_sum,
           ROUND(AVG(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
               AS moving_avg3
    FROM events
    """,
)
def win_frame(spark, sf_dir):
    """Running / sliding frames — both engines sum in identical row
    order (deterministic tie-break), so even float accumulation
    matches bit-for-bit before the stabilizing round."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_sum"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias(
            "moving_avg3"
        ),
    )


@query(
    "sort_multi",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal,
           ROW_NUMBER() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS pos
    FROM supplier
    """,
)
def sort_multi(spark, sf_dir):
    """Global multi-column order made hash-observable via position.

    The oracle hash is order-insensitive, so the sort itself is
    witnessed by materializing the rank — computed by
    :func:`global_row_number`: range-partitioned parallel sort +
    per-partition offsets, never a single-task global window, so the
    same code ranks a fact-sized table. (Large-table top-k still goes
    through topk_global's TakeOrderedAndProject — cheaper when only k
    rows are wanted.)
    """
    # rank on the RAW balance exactly as the oracle's ROW_NUMBER does
    # (ranking on a rounded copy would order different keys the moment
    # the fixture carries >2-dp values); only the emitted column is
    # rounded — a no-op on the current 2-dp grid, pinned either way
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return global_row_number(
        s, [F.col("s_acctbal").desc(), F.col("s_suppkey")], out_col="pos"
    ).select(
        "s_suppkey",
        "s_name",
        F.round("s_acctbal", 2).alias("acctbal"),
        "pos",
    )


@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def topk_global(spark, sf_dir):
    """Global top-k — Spark plans TakeOrderedAndProject: each task
    keeps a k-heap, the driver merges k×tasks rows; no global sort,
    no full shuffle. Ties broken by key for a deterministic set."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


@query(
    "topk_group",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           ROUND(o_totalprice, 2) AS total_price, rn
    FROM ranked WHERE rn <= 3
    """,
)
def topk_group(spark, sf_dir):
    """Per-group top-k via ranked window + filter.

    Spark 3.5+ pushes the rn<=3 predicate into the window sort
    (WindowGroupLimit) so each partition only keeps k rows — the
    shuffle still carries all rows but state stays O(k·groups).
    """
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rn",
        )
    )


@query(
    "win_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS distinct_types_so_far
    FROM flagged
    """,
)
def win_running_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) over an event-time window — an op
    Spark's window functions cannot express directly (no DISTINCT in
    window aggregates). Decomposed into two windows over the SAME
    user_id hash exchange (plan-asserted: one Exchange, two Sorts):
    a lag over (type, ts) order flags each type's earliest row, then a
    running sum in ts order counts the flags. No collect_set state —
    a collect_set window would carry the full distinct set per row;
    the flag trick carries one bit."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # both windows partition on user_id only -> one hash exchange;
    # within a type, ts ascending means the run's first row is the
    # type's earliest occurrence
    w_first = Window.partitionBy("user_id").orderBy(
        "event_type", "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # partition-start is detected by row_number (same window spec →
    # same exchange+sort), NOT by lag IS NULL: a NULL previous VALUE
    # and "no previous row" are different states, and conflating them
    # over-counts NULL event_types (NULLs sort first, so every
    # consecutive NULL-type row would flag first_seen=1). The value
    # comparison is null-safe for the same reason.
    return (
        ev.withColumn(
            "first_seen",
            F.when(
                (F.row_number().over(w_first) == 1)
                | ~F.lag("event_type")
                .over(w_first)
                .eqNullSafe(F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "distinct_types_so_far",
            F.sum("first_seen").over(w_run).cast("long"),
        )
        .select("user_id", "event_id", "distinct_types_so_far")
    )


@query(
    "win_time_range",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      FROM events
    )
    SELECT user_id, event_id, ts_sec,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
           ROUND(SUM(value) OVER w, 2) AS sum_7d
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range(spark, sf_dir):
    """Time-interval RANGE frame: per event, the trailing-7-day count
    and value sum for that user — the moving-window rollup `rows
    BETWEEN` cannot express when events are irregularly spaced (a row
    frame counts rows, not time).

    The frame bound is on epoch seconds (Spark's RANGE frames take
    numeric offsets), partitioned by user_id — one exchange, no
    self-join; the naive equivalent is a range self-join per event,
    which the window operator replaces with one sorted scan per
    partition. RANGE frames group PEER rows (equal ts_sec), so two
    events in the same second see each other symmetrically in both
    engines — tie semantics are identical by construction.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.unix_timestamp("ts").alias("ts_sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-604800, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_sec",
        F.count("*").over(w).alias("n_7d"),
        F.round(F.sum("value").over(w), 2).alias("sum_7d"),
    )


@query(
    "win_ntile",
    oracle="""
    WITH t AS (
      SELECT c_mktsegment,
             NTILE(10) OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey) AS decile,
             c_acctbal
      FROM customer
    )
    SELECT c_mktsegment, CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(FLOOR(MIN(c_acctbal) * 100 + 0.5) AS BIGINT) AS min_bal_c,
           CAST(FLOOR(MAX(c_acctbal) * 100 + 0.5) AS BIGINT) AS max_bal_c
    FROM t GROUP BY c_mktsegment, decile
    """,
)
def win_ntile(spark, sf_dir):
    """NTILE decile assignment per market segment — the bucketed-rank
    window missing from the win_* family (rank/lag/frame/time-range
    covered elsewhere). The ordering is TOTAL (balance, then custkey),
    so tile boundaries are deterministic — NTILE over a tied,
    underspecified order is the classic nondeterminism trap this key's
    contract rules out. Output aggregates each (segment, decile) to
    counts and cents-scaled balance bounds, so the result is
    |segments|·10 rows regardless of corpus size.

    Scale shape: one hash exchange on the partition key, per-partition
    sort — NTILE needs each partition's total count, which Spark's
    window operator gets from the sorted run without a second pass.
    A single global NTILE (no PARTITION BY) would serialize on one
    task at 100 TB; the per-segment form is the scale-correct shape,
    and the follow-up aggregation reuses the same exchange.
    """
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        load(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            F.ntile(10).over(w).alias("decile"),
            "c_acctbal",
        )
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.floor(F.min("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("min_bal_c"),
            F.floor(F.max("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("max_bal_c"),
        )
        .select(
            "c_mktsegment",
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "min_bal_c",
            "max_bal_c",
        )
    )
