"""User-defined function surface (SURVEY.md §2.F): scalar Python UDF,
vectorized pandas UDF, grouped pandas UDAF, Python UDTF.

UDFs are the slow path — every key here deliberately computes
something also expressible without Python so the DuckDB oracle can
hash-match it; hot-path operators elsewhere in the engine never use
row-at-a-time UDFs. Ranking of costs at 100 TB:
built-in expr (codegen) ≪ pandas UDF (Arrow batches) ≪ scalar Python
UDF (pickled rows).
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from ..io import load, width
from ..registry import query
from ..sources.listing import glob_to_regex

_GLOB = "{s,p}*"  # part names starting with s or p
_GLOB_RX = glob_to_regex(_GLOB)  # == ^(?:s|p)[^/]*$
# DuckDB string literals do NOT process backslash escapes: pass the
# regex through verbatim (doubling would corrupt any \\ in it).
_GLOB_RX_SQL = _GLOB_RX


@query(
    "udf_scalar",
    oracle=f"""
    SELECT p_partkey, p_name,
           regexp_matches(p_name, '{_GLOB_RX_SQL}') AS glob_matched
    FROM part
    """,
)
def udf_scalar(spark, sf_dir):
    """Row-at-a-time Python UDF: HDFS-glob matcher applied per row
    (Arrow-optimized in Spark 4, still the slowest execution tier —
    kept off every hot path; this key exists to pin its semantics)."""
    rx = re.compile(_GLOB_RX)

    # no Python type hints on the UDF body: PySpark tries to infer the
    # eval type from hints and warns; the returnType arg is the contract
    @F.udf("boolean", useArrow=True)
    def glob_match(name):
        if name is None:  # match regexp_matches(NULL, ...) -> NULL
            return None
        return rx.match(name) is not None

    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey", "p_name", glob_match("p_name").alias("glob_matched")
    )


@query(
    "udf_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                      * 10000 + 0.5) AS BIGINT) AS charged_e4
    FROM lineitem
    """,
)
def udf_pandas(spark, sf_dir):
    """Vectorized pandas UDF over Arrow batches — numerically
    identical to the built-in expression (same double ops in the same
    order). Output is fixed-point (×10⁴, floor+0.5): decimal ROUND of
    a 3-factor double product hits tie cases where engines' rounding
    paths disagree in the last digit, whereas floor of the identical
    IEEE expression is bitwise-deterministic across engines."""

    @pandas_udf("double")
    def charge(
        price: pd.Series, disc: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(
            charge("l_extendedprice", "l_discount", "l_tax") * 10000 + 0.5
        )
        .cast("long")
        .alias("charged_e4"),
    )


@query(
    "udaf_grouped",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(c) - MIN(c) - MAX(c) AS BIGINT)
               / (100.0 * (COUNT(*) - 2)) AS olympic_avg
    FROM (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        FROM orders
    )
    GROUP BY o_orderpriority
    """,
)
def udaf_grouped(spark, sf_dir):
    """Grouped-aggregate pandas UDF: olympic average (mean excluding
    one min and one max) — a custom UDAF whose exact SQL twin keeps
    the oracle honest. Planned as partial-less grouped agg: each
    group's values stream to one Python worker as an Arrow batch.

    Determinism: the group's prices are pinned to integer CENTS inside
    the UDF (floor(x*100+0.5)) and reduced exactly — a raw double sum
    is accumulation-order-dependent (pandas pairwise vs DuckDB
    sequential) and a ROUND on it flakes at .005 boundaries. The one
    division is a single IEEE op on identical operands both engines."""
    import numpy as np

    @pandas_udf("double")
    def olympic(v: pd.Series) -> float:
        c = np.floor(v.to_numpy() * 100 + 0.5).astype("int64")
        return float(
            int(c.sum() - c.min() - c.max()) / (100.0 * (len(c) - 2))
        )

    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        olympic("o_totalprice").alias("olympic_avg")
    )


@query(
    "udtf_shingles",
    oracle="""
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 4),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3] || ' ' ||
                    string_split(text, ' ')[i+4])) AS shingle
    FROM documents
    """,
)
def udtf_shingles(spark, sf_dir):
    """Python UDTF (table function): 5-word shingle exploder — one
    input row fans out to N output rows; registered and invoked via
    SQL lateral join, the UDTF execution path new in Spark 3.5/4.x."""

    @udtf(returnType="shingle: string")
    class ShingleUDTF:
        def eval(self, text: str):
            if text is None:  # oracle: unnest over NULL yields no rows
                return
            words = text.split(" ")
            for i in range(len(words) - 4):
                yield (" ".join(words[i : i + 5]),)

    spark.udtf.register("shingle_udtf", ShingleUDTF)
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_src")
    return spark.sql(
        """
        SELECT d.doc_id, s.shingle
        FROM docs_udtf_src d,
             LATERAL shingle_udtf(d.text) s
        """
    )


@query(
    "udtf_analyze",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS word_1,
           string_split(text, ' ')[2] AS word_2,
           string_split(text, ' ')[3] AS word_3
    FROM documents
    """,
)
def udtf_analyze(spark, sf_dir):
    """POLYMORPHIC Python UDTF (Spark 4 `analyze()` path): the output
    schema is computed at plan time from a literal argument — here
    `first_words(text, 3)` resolves to columns word_1..word_3 before
    any data moves. This is the engine feature behind dynamic-schema
    table functions (CSV exploders, pivot-like fan-outs) without
    hardcoding a returnType; execution is the same Arrow UDTF path as
    `udtf_shingles`."""
    from pyspark.sql.functions import lit
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class FirstWordsUDTF:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            assert n.isConstantExpression, "n must be a literal"
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"word_{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            if text is None:  # oracle: string_split(NULL,' ')[i] -> NULL
                yield tuple(None for _ in range(n))
                return
            words = text.split(" ")
            yield tuple(
                words[i] if i < len(words) else None for i in range(n)
            )

    spark.udtf.register("first_words", FirstWordsUDTF)
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_pw_src")
    return spark.sql(
        """
        SELECT d.doc_id, w.word_1, w.word_2, w.word_3
        FROM docs_pw_src d, LATERAL first_words(d.text, 3) w
        """
    )


@query(
    "udf_arrow",
    oracle="""
    SELECT vec_id,
           floor(sqrt(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (a, b) -> a + b)) * 1000000 + 0.5) / 1000000 AS l2_norm6,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """,
)
def udf_arrow(spark, sf_dir):
    """``mapInArrow`` — the zero-copy Arrow-batch UDF surface (§2.F):
    per-vector L2 norms computed straight off Arrow buffers, no pandas
    materialization (vs ``mapInPandas``, which converts every batch to
    a DataFrame first).

    Determinism contract: the squared terms accumulate SEQUENTIALLY in
    float64 (a Python left-fold, not numpy pairwise summation), the
    identical op order to the oracle's ``list_reduce`` left-fold, and
    IEEE sqrt is correctly-rounded in both engines — so the 6-dp
    floor-pinned norms are bitwise cross-engine stable.
    """
    import math

    import pyarrow as pa

    def norms(batches):
        for batch in batches:
            vec_ids = batch.column("vec_id").to_pylist()
            embs = batch.column("embedding").to_pylist()
            out_norm, out_dim = [], []
            for emb in embs:
                acc = 0.0
                for v in emb:
                    x = float(v)
                    acc += x * x
                out_norm.append(math.floor(math.sqrt(acc) * 1e6 + 0.5) / 1e6)
                out_dim.append(len(emb))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(out_norm, type=pa.float64()),
                    pa.array(out_dim, type=pa.int64()),
                ],
                names=["vec_id", "l2_norm6", "dim"],
            )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(norms, "vec_id long, l2_norm6 double, dim long")


@query(
    "udf_grouped_map",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    stats AS (
        SELECT user_id, event_id, cents,
               SUM(cents) OVER (PARTITION BY user_id) AS sum_cents,
               COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM base
    )
    SELECT user_id, event_id, cents,
           floor((cents * cnt - sum_cents) * 1.0 / (100.0 * cnt)
                 * 1000000 + 0.5) / 1000000 AS delta_from_mean6
    FROM stats
    """,
)
def udf_grouped_map(spark, sf_dir):
    """Grouped-map ``applyInPandas`` (batch §2.F surface): per-user
    mean-centering of event values — each group arrives as ONE pandas
    DataFrame, the full-group context that per-row and grouped-agg
    UDFs cannot see.

    Determinism: values are pinned to integer cents first, the group
    sum is an exact int64 reduction, and the centered delta is a
    single float division of exact integers — so the pandas path
    hash-matches the oracle's window formulation bit-for-bit. Scale
    contract: one shuffle on user_id and per-group memory bounded by
    the largest user's events (same bound any window over user_id
    needs); groups stream through Arrow batches, never the driver.
    """
    import numpy as np
    import pandas as pd  # noqa: F811 — worker-side import

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf["cents"].to_numpy(dtype="int64")
        s, n = int(c.sum()), len(c)
        # vectorized but ELEMENTWISE-only numpy (no reductions after
        # the exact int64 sum), so each output is the same single
        # IEEE division/floor the oracle's window formulation performs
        pdf["delta_from_mean6"] = (
            np.floor((c * n - s) / (100.0 * n) * 1e6 + 0.5) / 1e6
        )
        return pdf[["user_id", "event_id", "cents", "delta_from_mean6"]]

    # Pin the exchange width: AQE sizes post-shuffle partitions from
    # COMPRESSED map-output bytes, which under-parallelizes a stage
    # whose cost is Python CPU per row, not bytes (measured: the whole
    # 1M-row pandas pass coalesced onto 2 tasks). An explicit
    # repartition on the SAME key is reused by the groupBy — still one
    # exchange — and scales with the session's core count.
    ev = ev.repartition(width(spark), "user_id")
    return ev.groupBy("user_id").applyInPandas(
        center,
        "user_id long, event_id long, cents long, delta_from_mean6 double",
    )
