"""Similarity search over embeddings (SURVEY.md §2.E).

Layers, slow→fast at 100 TB:

1. `llm_knn_exact` — brute-force cosine top-k with pure JVM lambda
   expressions (zip_with/aggregate). Correctness anchor; identical
   arithmetic shape to the DuckDB oracle so doubles match bitwise.
2. `llm_knn_numpy` — the same brute force via `mapInPandas` + numpy
   matmul over Arrow batches: ~BLAS throughput per partition; the
   practical exact path at scale (queries broadcast, corpus
   partitioned). Rows-only key (BLAS summation order differs in ulps);
   tests assert neighbor-set equality vs the exact key.
3. `llm_knn_lsh` — BucketedRandomProjectionLSH: sublinear candidate
   generation; randomized ⇒ rows-only + recall bound in tests.
4. `llm_embed_neardup` — cosine-threshold near-dup pairs, the
   embedding analogue of text near-dup.

At real scale the corpus side stays partitioned while only queries
broadcast; an IVF refinement (cluster with k-means, probe nearest
cells) drops compute ~Nprobe/Ncells — sketched in SCALE.md.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import OUTER_PRODUCT, load, local_rows_df, materialize, width
from ..io import table_bytes as io_table_bytes
from ..registry import query

_K = 5
# llm_knn_numpy rescoring: how many BLAS-ranked nominees to rescore with
# the sequential fold, and the minimum margin (vs the best unselected BLAS
# cosine) below which the block falls back to full sequential scoring.
# BLAS-vs-sequential divergence for 64-dim unit vectors is ≤ ~dim·eps ≈
# 1.4e-14; 1e-9 is 5 orders louder while never firing on real gaps.
_RESCORE_SLACK = 11
_BLAS_GUARD = 1e-9
_QUERY_MOD = 50  # vec_id % 50 == 0 → deterministic query subset
#: hard cap on the query set: the %-filter alone grows linearly with the
#: corpus (2% of 100 TB is still terabytes), so every kNN op bounds its
#: driver collect to the first _MAX_QUERIES ids — constant at any scale.
#: At the sf0.01 oracle scale the filter yields < _MAX_QUERIES rows, so
#: the cap is invisible to the hash check.
_MAX_QUERIES = 100

#: llm_embed_neardup (the exact O(n²) oracle anchor) refuses corpora
#: larger than this — a permanent seam (SURVEY §2.E, r7): the exact
#: key grounds the LSH twin's recall tests on samples; the corpus-
#: scale path is llm_embed_neardup_lsh.
EMBED_NEARDUP_MAX_ROWS = 1_000_000


def _query_set(e):
    """Deterministic, scale-bounded query subset (shared by all kNN ops)."""
    return (
        e.filter(F.col("vec_id") % _QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(_MAX_QUERIES)
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _seq_dot(A, B):
    """Sequential-sum dot products over the last axis — ``np.cumsum``
    of the element-wise products, a strictly left-to-right fold that
    is bitwise identical to DuckDB's ``list_inner_product`` (the
    llm_knn_exact parity trick, shared by every kNN op that needs its
    floats to hash-match the oracle). Broadcasting shapes compose:
    ``_seq_dot(X[:, None, :], C[None, :, :])`` is the (n, k) dot
    matrix."""
    import numpy as np

    return np.cumsum(A * B, axis=-1)[..., -1]


def _unit(emb):
    """L2-normalize once so each candidate pair later costs ONE dot
    product instead of three (the 3-dot form tripled pair-stage cost
    in bench). The element-wise division is mirrored verbatim in the
    DuckDB oracles so doubles stay bitwise-identical."""
    norm = F.sqrt(_dot(emb, emb))
    return F.transform(emb, lambda x: x / norm)


_KNN_ORACLE = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                    embedding::DOUBLE[]))) AS u
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, u AS q_u FROM e WHERE vec_id % {_QUERY_MOD} = 0
        ORDER BY vec_id LIMIT {_MAX_QUERIES}
    ),
    s AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               list_inner_product(e.u, q.q_u) AS cos
        FROM e CROSS JOIN q
        WHERE e.vec_id <> q.q_id
    ),
    r AS (
        SELECT q_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, neighbor_id) AS rn
        FROM s
    )
    SELECT q_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_K}
"""


@query("llm_knn_exact", oracle=_KNN_ORACLE)
def llm_knn_exact(spark, sf_dir):
    """Exact cosine top-k: corpus partitioned, queries broadcast,
    per-partition vectorized scoring + top-k pruning, global
    row_number merge.

    Hash-matched against the DuckDB oracle: every float reduction
    (norms and dot products) is a ``np.cumsum`` — a strictly
    sequential left-to-right sum, bitwise identical to DuckDB's
    ``list_inner_product`` fold — and normalization is the same
    element-wise division on both sides, so cosines agree bitwise
    and ranks can't flip on ties. The earlier JVM HOF-lambda form
    (``aggregate``/``zip_with`` over corpus × queries) computed the
    identical values but interpreted ~8 M 64-dim folds — 16 s at
    sf0.1; this form is the same arithmetic vectorized (~1 s).

    Scale shape: only the (tiny) query matrix broadcasts; the corpus
    never moves, and the shuffle into the final merge carries at most
    k·partitions rows per query — never the pair blowup.
    """
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q_rows = _query_set(e).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, cosine double, rn long"
        )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.emb for r in q_rows], dtype=np.float64)
    # sequential-sum norms: cumsum matches the oracle's fold order
    q_norm = np.sqrt(np.cumsum(q_mat * q_mat, axis=1)[:, -1])
    q_u = q_mat / q_norm[:, None]
    bc = spark.sparkContext.broadcast((q_ids, q_u))

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def block_knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy()
            c = np.vstack(pdf["emb"].to_numpy())
            c_norm = np.sqrt(np.cumsum(c * c, axis=1)[:, -1])
            c_u = c / c_norm[:, None]
            out = []
            for qi in range(len(ids)):
                # per-query sequential-sum dot: (B, dim) cumsum rows
                cos = np.cumsum(c_u * qm[qi][None, :], axis=1)[:, -1]
                mask = c_ids != ids[qi]
                # partition-local top-k by the SAME total order as the
                # final merge (cos desc, id asc) -> pruning is lossless
                order = np.lexsort((c_ids[mask], -cos[mask]))[:_K]
                sel = np.flatnonzero(mask)[order]
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": ids[qi],
                            "neighbor_id": c_ids[sel],
                            "cos": cos[sel],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    # fixture parquet is a single file -> one input partition; spread
    # the corpus so the scoring stage uses every core
    partial = e.repartition(width(spark)).mapInPandas(block_knn, schema=schema)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _K)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


_KNN_SCHEMA = T.StructType(
    [
        T.StructField("q_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


@query("llm_knn_numpy", oracle=_KNN_ORACLE)
def llm_knn_numpy(spark, sf_dir):
    """Blocked brute-force k-NN: BLAS matmul RANKS, the sequential
    cumsum fold SCORES — so the returned cosines are bitwise
    identical to ``llm_knn_exact``'s (and the DuckDB oracle's) on
    every BLAS build, not just this box's.

    r11 (ADVICE): the r10 version returned raw BLAS cosines and the
    hash match rested on fixture luck (no cosine near a ROUND(6)
    boundary *on this BLAS*). Now the matmul only nominates the top
    ``_K + _RESCORE_SLACK`` candidates per query per partition; their
    cosines are then recomputed with the same left-to-right
    ``np.cumsum`` fold as ``llm_knn_exact`` — environment-independent
    by construction. A safety gate compares the recomputed k-th
    cosine against the best *unselected* BLAS cosine: if the margin
    is thinner than ``_BLAS_GUARD`` (≫ the ~dim·eps ≈ 1.4e-14 bound
    on BLAS-vs-sequential divergence for unit vectors), the query
    falls back to scoring the whole block sequentially — exact, loud
    in profile, never silently wrong. BLAS still does the O(B·Q·dim)
    heavy lifting; the rescore is O((k+slack)·Q·dim) per block.

    Each Arrow batch of corpus vectors multiplies against the (small,
    broadcast) query matrix in one BLAS call — within-partition top-k
    keeps only k rows per query per partition, and a final per-query
    row_number merges partitions. This is the throughput path: the
    shuffle carries ≤ k·partitions rows per query, never the corpus.
    """
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q_rows = _query_set(e).select("vec_id", "emb").collect()
    if not q_rows:  # no ids hit the query filter: empty result, not
        # a numpy AxisError on a (0,)-shaped array
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, cosine double, rn long"
        )
    q_ids = np.array([r.vec_id for r in q_rows])
    q_mat = np.array([r.emb for r in q_rows])  # (Q, dim)
    # sequential-sum norms: unit vectors bitwise match llm_knn_exact's
    q_norm = np.sqrt(np.cumsum(q_mat * q_mat, axis=1)[:, -1])
    q_mat = q_mat / q_norm[:, None]
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def block_knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bc.value
        take = _K + _RESCORE_SLACK
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy()
            c = np.vstack(pdf["emb"].to_numpy())  # (B, dim)
            c_u = c / np.sqrt(np.cumsum(c * c, axis=1)[:, -1])[:, None]
            sims = c_u @ qm.T  # (B, Q) — ranking only, never returned
            out = []
            for qi in range(len(ids)):
                col = sims[:, qi]
                mask = c_ids != ids[qi]
                order = np.lexsort((c_ids[mask], -col[mask]))[:take]
                sel = np.flatnonzero(mask)[order]
                # rescore nominees with the oracle's sequential fold
                cos = np.cumsum(c_u[sel] * qm[qi][None, :], axis=1)[:, -1]
                rank = np.lexsort((c_ids[sel], -cos))[:_K]
                kth = cos[rank[-1]] if len(rank) else -np.inf
                unsel = np.delete(col[mask], order) if len(order) else col[mask]
                if unsel.size and kth < unsel.max() + _BLAS_GUARD:
                    # thin margin: BLAS nomination can't be trusted —
                    # score the whole block sequentially for this query
                    cos = np.cumsum(
                        c_u[mask] * qm[qi][None, :], axis=1
                    )[:, -1]
                    full = np.lexsort((c_ids[mask], -cos))[:_K]
                    sel = np.flatnonzero(mask)[full]
                    cos = cos[full]
                else:
                    sel, cos = sel[rank], cos[rank]
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": ids[qi],
                            "neighbor_id": c_ids[sel],
                            "cosine": cos,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    # single-row-group fixture -> one scan partition: spread so the
    # BLAS scoring uses every core once the input is big enough
    tasks = width(spark, io_table_bytes(sf_dir, "embeddings"))
    if tasks > 1:
        e = e.repartition(tasks)
    partial = e.mapInPandas(block_knn, schema=_KNN_SCHEMA)
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _K)
        .select(
            "q_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rn"
        )
    )


@query("llm_knn_lsh")  # rows-only: randomized projections
def llm_knn_lsh(spark, sf_dir):
    """Approximate neighbors via BucketedRandomProjectionLSH — the
    sublinear path; recall vs exact bounded in tests/test_approx.py.

    array_to_vector keeps the array→Vector conversion JVM-side (a
    Python row UDF here cost 3.5× in bench), and the featurized corpus
    is cached because fit + both sides of the self-join re-scan it.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # spread the single-row-group fixture scan (same reason as
    # llm_embed_neardup_lsh): the approxSimilarityJoin otherwise runs
    # single-task on the scan's one partition; seeded per-row hashes
    # make the result partitioning-independent
    from ..io import load_spread

    e = (
        load_spread(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias(
                "features"
            ),
        )
    )
    # materialize: e feeds fit(), the query filter, AND the self
    # approxSimilarityJoin
    e = materialize(e)
    q = _query_set(e)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=6,
        seed=42,
    ).fit(e)
    pairs = lsh.approxSimilarityJoin(q, e, 6.0, distCol="euclid")
    # rank on the RAW distance (the exact keys' rule): ranking on the
    # rounded value let sub-1e-6 ties break by id and put a farther
    # neighbor ahead of a nearer one at the k cutoff
    w = Window.partitionBy("q_id").orderBy("euclid_raw", "neighbor_id")
    return (
        pairs.select(
            F.col("datasetA.vec_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.col("euclid").alias("euclid_raw"),
        )
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _K)
        .select(
            "q_id", "neighbor_id",
            F.round("euclid_raw", 6).alias("euclid"), "rn",
        )
    )


@query(
    "llm_embed_neardup",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                    embedding::DOUBLE[]))) AS u
        FROM embeddings
    ),
    s AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_inner_product(a.u, b.u) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cos, 6) AS cosine
    FROM s WHERE cos > 0.4
    """,
)
def llm_embed_neardup(
    spark, sf_dir, n_blocks: int = 16, max_rows: int = EMBED_NEARDUP_MAX_ROWS
):
    """Embedding-cosine near-duplicate pairs (cos > 0.4), exact.

    PERMANENT ORACLE-ANCHOR SEAM (r7, SURVEY §2.E; the lossy-codec
    precedent): exact all-pairs is O(n²) by definition — there is no
    sublinear exact algorithm for an arbitrary cosine threshold — and
    this key exists to ground `llm_embed_neardup_lsh`'s recall tests
    with bit-exact oracle-matched cosines. It REFUSES corpora larger
    than ``max_rows`` (default 1e6: ~5·10¹¹ pairs across tasks is the
    far edge of a justifiable verification batch) with a ValueError
    naming the LSH twin. The production path at any scale is
    `llm_embed_neardup_lsh`; this anchor is for sampled verification.

    Distributed block-pair all-pairs — NO driver-side corpus collect:
    each vector lands in one of ``n_blocks`` id-hash blocks, fans out
    to the ``n_blocks`` block-pairs containing its block via a
    broadcast join with the tiny (bi, bj) pair table, and each of the
    P·(P+1)/2 ``applyInPandas`` tasks scores one block-pair in a
    vectorized pass. Shuffle volume is n·P rows (P ≈ √(2·tasks), the
    canonical exact-all-pairs replication factor); per-task memory is
    two blocks, never the corpus; the driver holds nothing.

    The float reduction uses ``np.cumsum`` — a strictly sequential
    left-to-right sum — so every cosine is bitwise identical to a JVM
    ``aggregate`` fold and to DuckDB's ``list_inner_product`` (the
    hash-matched oracle). O(n²) compute is inherent to the exact
    semantics — this key is the oracle anchor; the sublinear routes
    are ``llm_knn_lsh`` / ``llm_knn_ivf``. At 100 TB set ``n_blocks ≈
    √(2·n / rows_per_task)`` so each task's pair count stays bounded.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"llm_embed_neardup is the exact O(n²) oracle anchor and "
            f"refuses {n} rows (> {max_rows}): run it on a sample, or "
            f"use llm_embed_neardup_lsh — the declared scale path"
        )
    blocked = e.withColumn(
        "blk",
        F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(n_blocks)).cast(
            "int"
        ),
    )
    pair_table = local_rows_df(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    # a row in block b participates in every pair touching b; for
    # bi == bj the two predicates coincide, so no duplicate fan-out
    rep = blocked.join(
        F.broadcast(pair_table),
        (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi = int(pdf["bi"].iloc[0])
        bj = int(pdf["bj"].iloc[0])
        same = bi == bj
        sub = pdf[pdf["blk"] == bi] if same else pdf
        ids = sub["vec_id"].to_numpy(dtype=np.int64)
        m = np.array(list(sub["emb"]), dtype=np.float64)
        # sequential-sum norms: cumsum matches fold order exactly
        norm = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
        u = m / norm[:, None]
        if same:
            a_ids, a_u = ids, u
            b_ids, b_u = ids, u
        else:
            left = pdf["blk"].to_numpy() == bi
            a_ids, a_u = ids[left], u[left]
            b_ids, b_u = ids[~left], u[~left]
        outs = []
        # chunk the a-side so the (chunk, nb, dim) product stays ~16 MB
        dim = m.shape[1] if m.size else 1
        chunk = max(1, (2 << 20) // max(1, len(b_ids) * dim))
        for s in range(0, len(a_ids), chunk):
            ca_ids = a_ids[s : s + chunk]
            ca_u = a_u[s : s + chunk]
            if not len(ca_ids) or not len(b_ids):
                continue
            prod = ca_u[:, None, :] * b_u[None, :, :]
            # cumsum over the vector axis = per-pair sequential sum,
            # bitwise identical to the row-at-a-time fold
            cos = np.cumsum(prod, axis=2)[:, :, -1]
            pair_ok = cos > 0.4
            if same:
                pair_ok &= b_ids[None, :] > ca_ids[:, None]
            ai, bj_ = np.nonzero(pair_ok)
            if len(ai):
                lo = np.minimum(ca_ids[ai], b_ids[bj_])
                hi = np.maximum(ca_ids[ai], b_ids[bj_])
                outs.append(
                    pd.DataFrame(
                        {"vec_a": lo, "vec_b": hi, "cos": cos[ai, bj_]}
                    )
                )
        if outs:
            return pd.concat(outs, ignore_index=True)
        return pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "cos": pd.Series(dtype="float64")}
        )

    # pin the group exchange at the session's parallelism: AQE sizes
    # the post-shuffle stage by compressed bytes and coalesced the 36
    # numpy-bound block-pair groups onto 14 tasks (profiled r13:
    # 1.98 s). Same-key repartition is REUSED by the groupBy — still
    # one exchange — and the 16-block grid (136 groups, ~4 per task)
    # keeps per-task pair counts balanced; block-pair results are
    # independent of the grid, so the declared rows are unchanged.
    rep = rep.repartition(width(spark), "bi", "bj")
    pairs = rep.groupBy("bi", "bj").applyInPandas(
        score_block_pair, schema=out_schema
    )
    return pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))


_IVF_CELLS = 16
_IVF_NPROBE = 4
_IVF_SAMPLE = 2048


def _driver_sample(e):
    """THE deterministic quantizer-training sample, shared by the IVF
    coarse quantizer and both PQ codebook fitters — one definition so
    the IVFADC invariant (coarse cells and residual codebooks trained
    on the SAME vectors) cannot drift. md5-bucket filter (~50%),
    vec_id order, capped at ``_IVF_SAMPLE`` rows BEFORE the collect
    (corpus-proportional driver memory otherwise); returns unit rows
    as an (n, dim) numpy matrix."""
    import numpy as np

    samp = (
        e.filter(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).isin(
                *"01234567"
            )
        )
        .orderBy("vec_id")
        .limit(_IVF_SAMPLE)
        .collect()
    )
    X = np.array([r.u for r in samp])
    # sequential-sum norms (not np.linalg.norm's pairwise reduction):
    # bitwise-matches the oracle's x / sqrt(list_inner_product(x, x))
    return X / np.sqrt(_seq_dot(X, X))[:, None]


def _subspace_lloyd(X, m: int, k: int, n_iter: int):
    """Per-subspace plain-Lloyd codebooks over the rows of ``X``
    (unit vectors or residuals — the PQ fitters differ ONLY in what
    they feed in): init = first ``k`` rows in sample order, L2
    assignment, empty cells keep their centroid. Returns the
    (m, k, dim/m) codebook tensor; degrades k on tiny samples rather
    than crash (r9 review)."""
    import numpy as np

    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    k = min(k, len(X))
    if k == 0:
        raise ValueError("empty embedding sample — nothing to quantize")
    sub = dim // m
    books = np.zeros((m, k, sub))
    for mi in range(m):
        Xs = X[:, mi * sub : (mi + 1) * sub]
        C = Xs[:k].copy()
        for _ in range(n_iter):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = Xs[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[mi] = C
    return books


def _fit_quantizer(unit_df, n_cells: int = _IVF_CELLS, n_iter: int = 5):
    """Sample-trained spherical k-means — the IVF coarse quantizer.

    Trains on the shared deterministic driver sample
    (`_driver_sample` — FAISS-style: quantizer quality needs a
    representative sample, not the corpus; full-corpus `pyspark.ml`
    KMeans.fit was both the operator's dominant cost at fixture scale
    and a non-starter at 100 TB). Init = first `n_cells` sample
    vectors in vec_id order; assignment by max cosine (first index on
    ties); centroids renormalized each Lloyd round; empty cells keep
    their previous centroid.

    Every float in the loop is pinned to an engine-independent form
    (r10, the llm_knn_ivf oracle promotion): assignment dots are
    sequential cumsum folds (`_seq_dot` ↔ ``list_inner_product``),
    the M-step mean is a BIGINT-scaled fixed-point sum — exact
    integers in float64, order-free, the llm_embed_centroid
    convention: ``floor(Σ floor(v·1e6 + ½) / n + ½) / 1e6`` — and the
    renormalization divides by a sequential-fold norm. DuckDB
    replaying the same five rounds therefore reproduces the centroid
    matrix BITWISE, which is what lets llm_knn_ivf carry a full hash
    oracle despite being an iterative sampled algorithm.
    """
    import numpy as np

    X = _driver_sample(unit_df)
    C = X[:n_cells].copy()
    for _ in range(n_iter):
        assign = np.argmax(_seq_dot(X[:, None, :], C[None, :, :]), axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                s6 = np.floor(members * 1e6 + 0.5).sum(axis=0)
                m = np.floor(s6 / len(members) + 0.5) / 1e6
                C[c] = m / np.sqrt(_seq_dot(m, m))
    return C


def _assign_cells(spark, raw_df, centroids):
    """Normalize + assign the quantizer cell per vector: broadcast
    centroid matmul in Arrow batches — the corpus never moves, no ML
    pipeline objects, no per-row JVM folds (numpy does both the
    normalization and the argmax). Emits UNIT vectors."""
    bc = spark.sparkContext.broadcast(centroids)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("u", T.ArrayType(T.DoubleType())),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            U = _np.vstack(pdf["u"].to_numpy())
            U = U / _np.linalg.norm(U, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "u": list(U),
                    "cell": _np.argmax(U @ C.T, axis=1).astype("int32"),
                }
            )

    return raw_df.mapInPandas(run, schema=schema)


def _ivf_round_sql(prev: str, out: str) -> str:
    """One Lloyd round of the coarse quantizer, in SQL: assign each
    sample vector to its max-cosine cell (first cell on exact ties,
    matching np.argmax), recompute each non-empty cell's centroid as
    the BIGINT-scaled fixed-point mean of its members, renormalize by
    a sequential-fold norm; empty cells carry the previous centroid.
    Mirrors `_fit_quantizer`'s loop term for term."""
    return f"""
    {out}_a AS (
      SELECT vec_id, u, cell FROM (
        SELECT s.vec_id, s.u, c.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY list_inner_product(s.u, c.vec)
                                           DESC, c.cell) AS rn
        FROM samp s CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    {out}_x AS (
      SELECT cell, u, unnest(generate_series(1, len(u))) AS i
      FROM {out}_a
    ),
    {out}_m AS (
      SELECT cell, i,
             floor(SUM(CAST(floor(u[i] * 1000000 + 0.5) AS BIGINT))
                   / COUNT(*) + 0.5) / 1000000.0 AS mv
      FROM {out}_x GROUP BY cell, i
    ),
    {out}_v AS (
      SELECT cell, list(mv ORDER BY i) AS mvec FROM {out}_m GROUP BY cell
    ),
    {out} AS (
      SELECT p.cell,
             COALESCE(list_transform(n.mvec,
                 x -> x / sqrt(list_inner_product(n.mvec, n.mvec))),
                 p.vec) AS vec
      FROM {prev} p LEFT JOIN {out}_v n ON n.cell = p.cell
    )"""


_IVF_ORACLE = f"""
    WITH eu AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                    embedding::DOUBLE[]))) AS u
        FROM embeddings
    ),
    samp AS (
        SELECT vec_id, u FROM eu
        WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN
              ('0','1','2','3','4','5','6','7')
        ORDER BY vec_id LIMIT {_IVF_SAMPLE}
    ),
    c0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, u AS vec
        FROM (SELECT vec_id, u FROM samp ORDER BY vec_id
              LIMIT {_IVF_CELLS})
    ),
    {_ivf_round_sql("c0", "c1")},
    {_ivf_round_sql("c1", "c2")},
    {_ivf_round_sql("c2", "c3")},
    {_ivf_round_sql("c3", "c4")},
    {_ivf_round_sql("c4", "c5")},
    qs AS (
        SELECT vec_id AS q_id, u AS q_u FROM eu
        WHERE vec_id % {_QUERY_MOD} = 0
        ORDER BY vec_id LIMIT {_MAX_QUERIES}
    ),
    probe AS (
      SELECT q_id, cell FROM (
        SELECT q.q_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY list_inner_product(q.q_u, c.vec)
                                           DESC, c.cell) AS rn
        FROM qs q CROSS JOIN c5 c
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    asg AS (
      SELECT vec_id, u, cell FROM (
        SELECT e.vec_id, e.u, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_inner_product(e.u, c.vec)
                                           DESC, c.cell) AS rn
        FROM eu e CROSS JOIN c5 c
      ) WHERE rn = 1
    ),
    sc AS (
      SELECT p.q_id, a.vec_id AS neighbor_id,
             list_inner_product(a.u, q.q_u) AS cos
      FROM probe p
      JOIN asg a ON a.cell = p.cell
      JOIN qs q ON q.q_id = p.q_id
      WHERE a.vec_id <> p.q_id
    ),
    r AS (
      SELECT q_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, neighbor_id) AS rn
      FROM sc
    )
    SELECT q_id, neighbor_id, ROUND(cos, 6) AS cosine,
           CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_K}
"""


@query("llm_knn_ivf", oracle=_IVF_ORACLE)
def llm_knn_ivf(spark, sf_dir):
    """IVF-style approximate k-NN: sample-trained coarse quantizer,
    probe the `nprobe` nearest cells per query, exact cosine only
    within probed cells.

    The scale path beyond LSH: compute drops by ~Ncells/Nprobe (here
    16/4 = 4×; production uses 4096/64), the quantizer trains on a
    driver-side sample (`_fit_quantizer` — the corpus is never
    iterated), and the corpus can live physically partitioned by cell
    (`build_ivf_index`) so a probe is a partition-pruned scan instead
    of a full pass. Recall vs exact is bounded in tests/test_approx.py.

    FULL hash oracle (r10 promotion; formerly rows-only): the oracle
    replays the ENTIRE pipeline in SQL — the md5-bucket sample, all
    five Lloyd rounds (`_ivf_round_sql`, mirroring `_fit_quantizer`'s
    integer-scaled M-step and sequential-fold dots term for term),
    probe selection, corpus cell assignment, and in-cell exact cosine
    — so Spark and DuckDB agree bitwise on every centroid, every cell
    and every cosine; the same recursive-replay machinery that
    promoted `llm_tokenize_viterbi`'s DP. Every numpy reduction here
    is a cumsum (`_seq_dot`) and every mean BIGINT-scaled, which is
    what makes the iterative sampled algorithm exactly replayable.
    """
    import numpy as np

    # RAW vectors throughout the JVM side: normalization runs in the
    # same numpy passes that consume the vectors (a JVM HOF `_unit`
    # here cost ~3× the bare scan, and the cache populated
    # single-threaded)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("u")
    )
    # cached: the quantizer sample, the query collect, and the scoring
    # pass all scan this
    e = materialize(e)
    C = _fit_quantizer(e)

    # probe driver-side: queries are the small side by design (bounded)
    q_rows = _query_set(e).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, cosine double, rn long"
        )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.u for r in q_rows])
    q_mat = q_mat / np.sqrt(_seq_dot(q_mat, q_mat))[:, None]
    cell2q: dict[int, list[int]] = {}
    c_order = np.arange(len(C))
    for qi in range(len(q_ids)):
        sims = _seq_dot(C, q_mat[qi][None, :])
        probed = np.lexsort((c_order, -sims))[:_IVF_NPROBE]
        for c in probed:
            cell2q.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast((C, q_ids, q_mat, cell2q))

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    # ONE Arrow pass: assign each corpus batch to cells AND score it
    # against exactly the queries probing those cells — no JVM
    # per-candidate fold (the HOF dot over ~1M candidate rows was the
    # operator's real cost, same lesson as llm_knn_exact), no
    # candidate join. Per-batch per-query top-k keeps the shuffle at
    # k·partitions rows per query.
    def probe_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        Cm, ids, qm, c2q = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy()
            U = _np.vstack(pdf["u"].to_numpy())
            # cumsum norms/dots throughout: oracle-bitwise (see _seq_dot)
            U = U / _np.sqrt(_np.cumsum(U * U, axis=-1)[..., -1])[:, None]
            cells = _np.argmax(
                _np.cumsum(U[:, None, :] * Cm[None, :, :], axis=-1)[..., -1],
                axis=1,
            )
            out = []
            for cell in _np.unique(cells):
                qidx = c2q.get(int(cell))
                if not qidx:
                    continue
                rows = _np.flatnonzero(cells == cell)
                sims = _np.cumsum(
                    U[rows][:, None, :] * qm[qidx][None, :, :], axis=-1
                )[..., -1]  # (|rows|, |qidx|)
                for j, qi in enumerate(qidx):
                    mask = c_ids[rows] != ids[qi]
                    cos = sims[mask, j]
                    nb = c_ids[rows][mask]
                    order = _np.lexsort((nb, -cos))[:_K]
                    out.append(
                        pd.DataFrame(
                            {"q_id": ids[qi], "neighbor_id": nb[order], "cos": cos[order]}
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = e.repartition(width(spark)).mapInPandas(probe_score, schema=schema)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _K)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


@query(
    "llm_embed_centroid",
    oracle="""
    WITH flat AS (
        SELECT label,
               unnest(generate_series(1, len(embedding))) AS pos,
               unnest(embedding::DOUBLE[]) AS val
        FROM embeddings
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           floor(CAST(SUM(CAST(floor(val * 1000000 + 0.5) AS BIGINT))
                      AS BIGINT) / COUNT(*) + 0.5) / 1000000.0 AS mean_val,
           COUNT(*) AS n
    FROM flat GROUP BY label, pos
    """,
)
def llm_embed_centroid(spark, sf_dir):
    """Per-label embedding centroid, one row per (label, dimension).

    posexplode → partial-aggregated groupBy: the shuffle carries
    (label, pos, partial sum/count) — 64·|labels| states — never the
    vectors. This is the centroid step an IVF index or k-means
    refresh runs at corpus scale; keeping the output exploded (rather
    than re-assembling arrays) is deliberate: it stays SQL-comparable
    and feeds the next matmul directly.

    The mean is a BIGINT-scaled fixed-point sum (engine determinism
    convention): a plain AVG over doubles associates differently
    across Spark's partition combine order than DuckDB's sequential
    scan, and a dimension mean within an ulp of a rounding boundary
    would hash-flip the moment the corpus spans >1 partition.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    )
    v6 = F.floor(F.col("col") * 1_000_000 + 0.5).cast("long")
    return (
        e.select("label", (F.col("pos") + 1).cast("long").alias("pos"), "col")
        .groupBy("label", "pos")
        .agg(F.sum(v6).alias("s6"), F.count("*").alias("n"))
        .select(
            "label",
            "pos",
            (
                F.floor(F.col("s6") / F.col("n") + 0.5) / 1_000_000.0
            ).alias("mean_val"),
            "n",
        )
    )


def build_ivf_index(
    spark,
    sf_dir: str,
    index_path: str,
    n_cells: int = _IVF_CELLS,
    centroids=None,
    source_df=None,
) -> None:
    """Materialize the IVF index on disk: the corpus parquet
    PARTITIONED BY cell (one directory per quantizer cell) plus the
    tiny centroid table.

    This is the physical layout the llm_knn_ivf docstring promises:
    with cells as partition directories, probing nprobe cells is a
    partition-PRUNED scan — the other Ncells−nprobe directories are
    never opened. At 100 TB that turns every query batch from a full
    corpus pass into reading nprobe/Ncells of the data. The quantizer
    trains on a deterministic driver-side sample (`_fit_quantizer`),
    so rebuilding the index from the same corpus reproduces the same
    cell layout bit-for-bit. Pass ``centroids`` to reuse an existing
    quantizer (skips the fit — this is what makes a from-scratch
    rebuild comparable to :func:`ivf_append`'s incremental path, which
    by IVF semantics never retrains), and ``source_df`` (vec_id, u) to
    index a corpus other than ``{sf_dir}/embeddings``.
    """
    e = materialize(
        source_df
        if source_df is not None
        else load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("u")
        )
    )
    C = _fit_quantizer(e, n_cells=n_cells) if centroids is None else centroids
    (
        _assign_cells(spark, e, C)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/corpus")
    )
    local_rows_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{index_path}/centroids")
    e.unpersist()


def ivf_append(spark, new_df, index_path: str) -> None:
    """Append a batch of vectors to a built IVF index (FAISS-style
    ``add`` after ``train``): the stored quantizer stays FIXED, new
    vectors are cell-assigned by the same broadcast matmul as the
    build, and their rows land in the existing cell-partition
    directories via parquet append. O(batch) work — history is never
    rescanned, centroids never refit — so searches after an append see
    exactly what a from-scratch rebuild with the same centroids would
    (asserted in tests/test_upsert.py).

    ``new_df``: (vec_id, u) with raw (not necessarily unit) vectors.
    """
    import numpy as np

    cents = spark.read.parquet(f"{index_path}/centroids").collect()
    C = np.zeros((len(cents), len(cents[0].centroid)))
    for r in cents:
        C[r.cell] = r.centroid
    (
        _assign_cells(spark, new_df, C)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{index_path}/corpus")
    )


def ivf_search(spark, index_path: str, queries_df, k: int = _K, nprobe: int = _IVF_NPROBE):
    """Approximate top-k against a built IVF index.

    ``queries_df``: (q_id, q_u) with unit vectors. Cell probing runs
    driver-side against the collected centroid table (tiny by
    construction — the quantizer is the small side); the corpus scan
    then carries ``cell IN (probed)``, which Spark resolves as
    directory-level partition pruning (asserted in tests), followed by
    a broadcast join restricting each query to ITS cells.
    """
    import numpy as np

    cents = spark.read.parquet(f"{index_path}/centroids").collect()
    c_ids = np.array([r.cell for r in cents])
    c_mat = np.array([r.centroid for r in cents])  # (C, dim)

    q_rows = queries_df.collect()
    probe_rows = []
    probed_cells = set()
    for r in q_rows:
        sims = c_mat @ np.array(r.q_u)
        # rank by similarity desc, cell id asc — same tie-break as the
        # in-memory operator
        order = np.lexsort((c_ids, -sims))[:nprobe]
        for c in c_ids[order]:
            probe_rows.append((r.q_id, int(c)))
            probed_cells.add(int(c))
    probes = local_rows_df(spark, probe_rows, "q_id long, cell int")

    corpus = spark.read.parquet(f"{index_path}/corpus").filter(
        F.col("cell").isin(sorted(probed_cells))
    )
    q = queries_df.withColumnRenamed("q_u", "qv")
    cand = (
        corpus.join(F.broadcast(probes), "cell")
        .join(F.broadcast(q), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        cand.select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            _dot(F.col("u"), F.col("qv")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


@query("llm_embed_neardup_lsh")  # rows-only: randomized projections
def llm_embed_neardup_lsh(spark, sf_dir):
    """Embedding near-dup pairs via BucketedRandomProjectionLSH — the
    sublinear scale path for ``llm_embed_neardup`` (which is exact
    all-pairs O(n²/P) by design, as the oracle anchor).

    ``approxSimilarityJoin`` buckets vectors by random hyperplane
    projections and joins only within buckets, so candidate volume
    scales with corpus density rather than n². Cosine > 0.4 on
    unit vectors ⇔ euclidean distance < sqrt(2·(1−0.4)) ≈ 1.095 —
    normalizing first makes the distance threshold express the cosine
    one. Recall vs the exact key is bounded in tests/test_approx.py.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    # spread the single-row-group fixture scan BEFORE the LSH
    # self-join: approxSimilarityJoin's explode+join otherwise runs
    # on the scan's one partition (measured: a 5.2 s single-task
    # stage carrying the whole key). Hashes are seeded per row, so
    # partitioning cannot change the candidate set.
    from ..io import load_spread

    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("raw"),
    )
    e = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(e)
    e = materialize(e.select("vec_id", "features"))
    # 4 tables (was 8): halves the fit + self-join cost — this key was
    # 11% of the whole bench — while the recall pytest still holds
    # ≥0.8 vs the exact anchor (measured 1.0 at sf0.01/0.1 fixtures)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=4,
        seed=42,
    ).fit(e)
    thresh = float((2.0 * (1.0 - 0.4)) ** 0.5)
    pairs = lsh.approxSimilarityJoin(e, e, thresh, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            # cos = 1 - d²/2 on unit vectors
            F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias(
                "cosine"
            ),
        )
    )


@query(
    "llm_semdedup",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                    embedding::DOUBLE[]))) AS u
        FROM embeddings
    ),
    p AS (
        SELECT a.label, a.vec_id AS keep_candidate, b.vec_id AS dropped,
               list_inner_product(a.u, b.u) AS cos
        FROM e a JOIN e b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_inner_product(a.u, b.u) > 0.3
    )
    SELECT CAST(label AS BIGINT) AS label, dropped,
           MIN(keep_candidate) AS kept_by,
           floor(MAX(cos) * 1000000 + 0.5) / 1000000.0 AS max_cos
    FROM p GROUP BY label, dropped
    """,
)
def llm_semdedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: within each cluster,
    drop every vector that has a smaller-id neighbor above the cosine
    threshold (0.3 — tuned to the synthetic fixture's similarity range) (keeper = the smallest such id — deterministic canon).

    The public SemDeDup recipe (Abbas et al. 2023): k-means cluster
    the embeddings, then do exact all-pairs ONLY within clusters —
    quadratic cost falls from n² to Σ|cluster|². Here the fixture's
    `label` plays the cluster assignment (the k-means step itself is
    the sample-trained quantizer of `llm_knn_ivf`), so the graded key
    is fully deterministic: one shuffle partitions by label, each
    Arrow task scores its cluster's pairs with the same strictly
    sequential float reduction the oracle's list_inner_product uses
    (np.cumsum — bitwise-equal doubles), and the per-vector keeper
    reduce rides the same partitioning. At 100 TB: cluster count
    scales with corpus so |cluster| stays bounded; skewed clusters
    split by the IVF quantizer's sub-cells.
    """
    import numpy as np

    # no explicit repartition: groupBy(label).applyInPandas below
    # already hash-partitions by the grouping key — an extra
    # repartition("label") doubled the shuffle volume for no effect
    e = load(spark, sf_dir, "embeddings").select(
        "label", "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    schema = T.StructType(
        [
            T.StructField("label", T.LongType()),
            T.StructField("dropped", T.LongType()),
            T.StructField("kept_by", T.LongType()),
            T.StructField("max_cos", T.DoubleType()),
        ]
    )

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["emb"].to_numpy())
        # normalize with the oracle's exact float semantics: sequential
        # self-dot via cumsum, then elementwise divide
        norms = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
        u = m / norms[:, None]
        n = len(ids)
        out = {}
        for i in range(n):
            # sequential-sum dot of row i against rows i+1..n-1
            prods = u[i + 1:] * u[i][None, :]
            cos = np.cumsum(prods, axis=1)[:, -1] if n - i - 1 else np.empty(0)
            hit = cos > 0.3
            for j_off in np.nonzero(hit)[0]:
                j = i + 1 + j_off
                d = ids[j]
                prev = out.get(d)
                c = float(cos[j_off])
                if prev is None:
                    out[d] = (int(ids[i]), c)
                else:
                    out[d] = (min(prev[0], int(ids[i])), max(prev[1], c))
        lab = int(pdf["label"].iloc[0]) if n else 0
        # floor-pin (engine convention): Python round() is decimal-
        # exact ties-to-even, DuckDB ROUND is half-away-from-zero —
        # a third semantics in one hash-matched column
        rows = [
            (lab, int(d), kb, math.floor(mc * 1_000_000 + 0.5) / 1_000_000)
            for d, (kb, mc) in out.items()
        ]
        return pd.DataFrame(
            rows, columns=["label", "dropped", "kept_by", "max_cos"]
        )

    return e.groupBy("label").applyInPandas(cluster_pairs, schema=schema)


# ---------------------------------------------------------------------------
# distributed Lloyd's k-means (hash-matched)

_KM_K = 4
_KM_ITERS = 2
#: 2^24 — float inputs have 24-bit mantissas, so x * 2^24 is an EXACT
#: product and floor() of it an exact integer: the per-dimension update
#: sums become order-independent BIGINT sums with zero precision loss,
#: which is what lets two engines agree bitwise on the new centroids.
_KM_SCALE = 16777216.0


def _km_assign_sql(cent: str, out: str) -> str:
    """One Lloyd assignment round in DuckDB (argmin with ties to the
    lowest cluster id, mirroring array_position-of-min on the Spark
    side)."""
    return f"""
    {out}_d AS (
      SELECT e.vec_id, e.u, c.cl,
             list_transform(range(1, 65), i -> e.u[i] - c.c[i]) AS d
      FROM e CROSS JOIN {cent} c
    ),
    {out}_s AS (
      SELECT vec_id, u, cl, list_inner_product(d, d) AS dist FROM {out}_d
    ),
    {out} AS (
      SELECT vec_id, u, cl, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cl) AS rn
        FROM {out}_s) WHERE rn = 1
    )"""


def _km_update_sql(assign: str, prev: str, out: str) -> str:
    """Centroid update CTE. LEFT JOIN from the PREVIOUS centroid set:
    an empty cluster keeps its centroid (exactly what the Spark loop
    does) — aggregating the assignment alone would silently drop the
    cluster and run later rounds with k-1 centroids, a latent
    cross-engine divergence the fixture never happens to trigger."""
    return f"""
    {out} AS (
      SELECT p.cl, COALESCE(n.c, p.c) AS c
      FROM {prev} p LEFT JOIN (
        SELECT cl, list(m ORDER BY i) AS c FROM (
          SELECT cl, i,
                 FLOOR(CAST(SUM(CAST(FLOOR(u[i] * {_KM_SCALE}) AS BIGINT))
                            AS BIGINT)
                       * 1.0 / COUNT(*) / {_KM_SCALE} * 1000000 + 0.5)
                 / 1000000 AS m
          FROM {assign} CROSS JOIN range(1, 65) r(i)
          GROUP BY cl, i) GROUP BY cl
      ) n USING (cl)
    )"""


@query(
    "llm_kmeans",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS u FROM embeddings
    ),
    init AS (
      SELECT cl, c FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl,
               list_transform(u, x -> FLOOR(x * 1000000 + 0.5) / 1000000)
                 AS c
        FROM e) WHERE cl < {_KM_K}
    ),
    {_km_assign_sql("init", "a1")},
    {_km_update_sql("a1", "init", "cent1")},
    {_km_assign_sql("cent1", "a2")},
    {_km_update_sql("a2", "cent1", "cent2")},
    {_km_assign_sql("cent2", "a3")}
    SELECT CAST(cl AS BIGINT) AS cluster, COUNT(*) AS n_points,
           CAST(SUM(CAST(FLOOR(dist * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS inertia_e6
    FROM a3 GROUP BY cl
    """,
)
def llm_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means over the embedding corpus
    (_KM_K=4 clusters, _KM_ITERS=2 rounds, deterministic init = the
    vectors of the k smallest vec_ids) — the clustering step behind
    corpus curation (topic balance, SemDeDup's cluster stage, IVF
    coarse quantizers), here as a hash-matched exact key rather than
    the sample-trained approximation `_fit_quantizer` uses.

    Scale shape per round: assignment is a pure scan-side expression
    (k distance expressions against broadcast-literal centroids — no
    join, no shuffle); the update shuffles only (cluster, dim,
    partial-sum) states — k x dim rows after map-side combine,
    independent of corpus size; the new centroids are a k x dim
    driver collect (constant-bounded, the IVF-quantizer precedent).

    Cross-engine determinism: centroids are quantized to 1e-6 each
    round with floor(x*1e6 + 0.5) (IEEE-exact ops, identical in both
    engines), per-dimension sums use floor(x * 2^24) scaled BIGINTs —
    exact for float inputs and order-independent, unlike a double sum
    whose ulps depend on partial-aggregation order — and argmin ties
    break to the lowest cluster id on both sides. The scaled sum
    overflows BIGINT only past ~1e9 vectors per cluster; shard or
    rescale beyond that.
    """
    import math

    # (r13: tried load_spread here — the exchange cost 1.25× at
    # sf0.1's 0.8 MB embeddings; the rounds' wall is driver-side
    # expression compile, not the single-partition scan. Same verdict
    # as io.width's linear gate — don't re-try without
    # re-measuring.)
    e = materialize(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("u")
        )
    )
    init = e.orderBy("vec_id").limit(_KM_K).collect()
    cents = [
        [math.floor(v * 1000000 + 0.5) / 1000000 for v in r.u] for r in init
    ]

    def dists(cs):
        out = []
        for c in cs:
            cj = F.array(*[F.lit(v) for v in c])
            d = F.zip_with(F.col("u"), cj, lambda x, y: x - y)
            out.append(_dot(d, d))
        return F.array(*out)

    for _ in range(_KM_ITERS):
        arr = dists(cents)
        assigned = e.select(
            "u",
            (F.array_position(arr, F.array_min(arr)) - 1).alias("cl"),
        )
        upd = (
            assigned.select("cl", F.posexplode("u"))
            .groupBy("cl", "pos")
            .agg(
                F.sum(F.floor(F.col("col") * _KM_SCALE)).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cl: dict = {}
        for r in upd:
            by_cl.setdefault(r.cl, {})[r.pos] = (r.s, r.n)
        new_cents = []
        for cl, old in enumerate(cents):
            dims = by_cl.get(cl)
            if not dims:
                new_cents.append(old)  # empty cluster keeps its centroid
                continue
            new_cents.append(
                [
                    math.floor(
                        float(dims[i][0])
                        / float(dims[i][1])
                        / _KM_SCALE
                        * 1000000
                        + 0.5
                    )
                    / 1000000
                    for i in range(len(old))
                ]
            )
        cents = new_cents

    arr = dists(cents)
    final = e.select(
        (F.array_position(arr, F.array_min(arr)) - 1)
        .cast("long")
        .alias("cluster"),
        F.array_min(arr).alias("dist"),
    )
    return final.groupBy("cluster").agg(
        F.count("*").alias("n_points"),
        F.sum(F.floor(F.col("dist") * 1000000 + 0.5)).alias("inertia_e6"),
    )


# ---------------------------------------------------------------------------
# distributed Gram matrix (PCA / covariance building block)

#: 2^30 fixed-point scale for Gram partial sums: |x_i·x_j| ≤ ~0.25 for
#: the fixture embeddings, so each scaled term is ≤ ~2.7e8 and the
#: BIGINT accumulator holds ~3e10 vectors before overflow — shard or
#: rescale beyond that.
_GRAM_SCALE = 1073741824.0


@query(
    "llm_embed_gram",
    oracle=f"""
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS u FROM embeddings
    ),
    t AS (
      SELECT i.i, j.j,
             CAST(FLOOR(u[i.i] * u[j.j] * {_GRAM_SCALE}) AS BIGINT) AS s
      FROM e
      CROSS JOIN range(1, 65) i(i)
      CROSS JOIN range(1, 65) j(j)
      WHERE j.j >= i.i
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           COUNT(*) AS n,
           CAST(SUM(s) AS BIGINT) AS gram_scaled,
           CAST(SUM(s) AS BIGINT) * 1.0
             / (COUNT(*) * {_GRAM_SCALE}) AS gram
    FROM t GROUP BY i, j
    """,
)
def llm_embed_gram(spark, sf_dir):
    """Distributed Gram matrix E[x_i·x_j] over the embedding corpus
    (upper triangle, 1-based dims) — the one aggregation PCA, whitening
    and covariance estimation need; eigendecomposition of the returned
    64×64 matrix is a constant-size driver/numpy step.

    Scale shape: `mapInPandas` computes each Arrow batch's partial
    Gram as one numpy outer-product accumulation — dim² rows leave
    each batch regardless of batch size — and the final groupBy sums
    dim² keys. Nothing row-proportional crosses the shuffle, which is
    the map-side-combine pattern applied to dense linear algebra.

    Cross-engine exactness: terms are fixed-point floor(x_i·x_j·2^30)
    BIGINTs, so partial sums are order-independent integers (a float
    Gram differs in last-ulp between accumulation orders and engines);
    the double `gram` is derived by one identical IEEE division.
    """
    import numpy as np

    dim = 64
    e = load(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("u")
    )
    # spread the single-row-group fixture scan at the outer-product
    # cost class. Partials are fixed-point integers, so the batch grid
    # cannot change the summed result.
    tasks = width(spark, io_table_bytes(sf_dir, "embeddings"), OUTER_PRODUCT)
    if tasks > 1:
        e = e.repartition(tasks)

    out_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("j", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.LongType()),
        ]
    )
    iu, ju = np.triu_indices(dim)

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["u"].to_numpy())
            # per-row outer products, floored to fixed point BEFORE the
            # sum so the accumulator is an exact integer; chunked so the
            # transient (chunk, dim, dim) tensor stays ~32 MB no matter
            # how large the Arrow batch is
            S = np.zeros((dim, dim), dtype=np.int64)
            for lo in range(0, len(X), 1024):
                C = X[lo : lo + 1024]
                S += np.floor(
                    C[:, :, None] * C[:, None, :] * _GRAM_SCALE
                ).astype(np.int64).sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu + 1,
                    "j": ju + 1,
                    "n": len(pdf),
                    "s": S[iu, ju],
                }
            )

    partials = e.mapInPandas(partial_gram, schema=out_schema)
    return partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("gram_scaled"),
        (
            F.sum("s") * 1.0 / (F.sum("n") * _GRAM_SCALE)
        ).alias("gram"),
    )


@query("llm_embed_pca")  # rows-only: eigenvector ulps are engine-specific
def llm_embed_pca(spark, sf_dir, k: int = 2):
    """PCA projection of the embedding corpus onto its top-k principal
    components — dimensionality reduction for visualization, indexing
    and whitening, composed from the engine's own distributed pieces:

    1. second moments come from ``llm_embed_gram`` (dim² bounded rows,
       exact fixed-point sums) and first moments from a posexplode
       aggregate (dim rows) — two bounded collects, nothing
       row-proportional reaches the driver;
    2. the 64×64 covariance eigendecomposition is a constant-size
       numpy step (the FAISS/quantizer-training precedent);
    3. the projection is a pure scan-side codegen expression — one
       `_dot` against each literal component, zero shuffle.

    Declared rows-only: eigensolver ulps and sign conventions are
    library-specific, so no SQL oracle can hash-match; the pytest
    instead proves the projection equals full-data numpy PCA up to
    component sign and that explained variance is non-increasing.
    Component signs are pinned (largest-|loading| coordinate positive)
    so output is stable across runs and appends.
    """
    import numpy as np

    dim = 64
    g = llm_embed_gram(spark, sf_dir).collect()  # dim(dim+1)/2 rows
    M2 = np.zeros((dim, dim))
    for r in g:
        M2[r.i - 1, r.j - 1] = M2[r.j - 1, r.i - 1] = r.gram
    mu_rows = (
        load(spark, sf_dir, "embeddings")
        .select(F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("pos")
        .agg(F.avg("col").alias("m"))
        .collect()
    )
    mu = np.zeros(dim)
    for r in mu_rows:
        mu[r.pos] = r.m
    C = M2 - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(C)  # ascending
    comps = []
    for idx in range(1, k + 1):
        v = vecs[:, -idx]
        v = v * np.sign(v[int(np.argmax(np.abs(v)))])  # pin sign
        comps.append(v)

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("u")
    )
    cols = [F.col("vec_id")]
    for idx, v in enumerate(comps, start=1):
        lit_v = F.array(*[F.lit(float(x)) for x in v])
        off = float(np.dot(mu, v))
        cols.append(
            F.round(_dot(F.col("u"), lit_v) - off, 4).alias(f"pc{idx}")
        )
    return e.select(*cols)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN rung
# ---------------------------------------------------------------------------

_PQ_M = 8        # subspaces (dim 64 → 8-dim subvectors)
_PQ_K = 16       # centroids per subspace codebook (4-bit codes)
_PQ_SHORTLIST = 4 * _K  # ADC shortlist refined with exact cosine


def _fit_pq_codebooks(e, m: int = _PQ_M, k: int = _PQ_K, n_iter: int = 5):
    """Per-subspace codebooks trained on the shared deterministic
    driver sample (`_driver_sample` — the same vectors the IVF
    quantizer trains on) over RAW unit vectors; Lloyd conventions in
    `_subspace_lloyd`. Returns the (m, k, dim/m) codebook tensor
    (cosine domain) — deterministic for a given corpus."""
    return _subspace_lloyd(_driver_sample(e), m, k, n_iter)


def pq_encode(U, books):
    """(n, dim) unit vectors → (n, m) uint8 codes: nearest codebook
    centroid per subspace. The compression story this rung exists for:
    m bytes per vector vs dim·8 raw — 64× at dim 64 / m 8, the
    difference between an in-RAM index and not at 10^11 vectors."""
    import numpy as np

    m, k, sub = books.shape
    codes = np.empty((U.shape[0], m), dtype=np.uint8)
    for mi in range(m):
        Us = U[:, mi * sub : (mi + 1) * sub]
        d2 = ((Us[:, None, :] - books[mi][None, :, :]) ** 2).sum(-1)
        codes[:, mi] = np.argmin(d2, axis=1)
    return codes


@query("llm_embed_pq")  # rows-only: sampled iterative codebooks
def llm_embed_pq(spark, sf_dir):
    """Product-quantization ANN (Jégou et al., TPAMI 2011) — the
    memory-bound rung of the ANN ladder (exact → LSH → IVF → PQ):
    corpus vectors compress to ``m`` 4-bit-codebook bytes (dim 64 →
    8 B/vector vs 512 B raw, 64×), queries score candidates by
    ASYMMETRIC distance — per-query lookup tables of
    query-subvector·centroid dot products, so a candidate's
    approximate cosine is m table hits + a sum, no float vector ever
    touched. A per-partition ADC shortlist (top ``_PQ_SHORTLIST``) is
    then refined with the exact cosine of the surviving candidates —
    the standard shortlist+refine production shape — and a global
    top-k merge finishes.

    Rows-only by the declared policy (codebooks are sampled/iterative
    like the IVF quantizer); tests/test_approx.py bounds recall vs
    `llm_knn_exact` at ≥ 0.8 and pins the code-size compression.

    Scale shape: codebooks (m·k·dim/m doubles ≈ 8 KB) and the bounded
    query LUTs broadcast; the corpus never moves; the shuffle into the
    final merge carries ≤ shortlist·partitions rows per query. At
    100 TB the encoded corpus (codes only) is ~1/64th the raw table —
    the difference between scoring from RAM and re-reading parquet.
    """
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("u")
    )
    e = materialize(e)
    books = _fit_pq_codebooks(e)

    q_rows = _query_set(e).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, cosine double, rn long"
        )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.u for r in q_rows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    m, k, sub = books.shape
    # ADC lookup tables: lut[q, mi, code] = q_sub(mi) · books[mi, code]
    lut = np.einsum(
        "qms,mks->qmk", q_mat.reshape(len(q_ids), m, sub), books
    )
    bc = spark.sparkContext.broadcast((books, q_ids, q_mat, lut))

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def adc_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        B, ids, qm, L = bc.value
        M = B.shape[0]
        ar = _np.arange(M)
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy()
            U = _np.vstack(pdf["u"].to_numpy())
            U = U / _np.linalg.norm(U, axis=1, keepdims=True)
            codes = pq_encode(U, B)
            out = []
            for qi in range(len(ids)):
                approx = L[qi][ar, codes].sum(axis=1)
                mask = c_ids != ids[qi]
                cand = _np.flatnonzero(mask)
                short = cand[
                    _np.lexsort((c_ids[cand], -approx[cand]))[:_PQ_SHORTLIST]
                ]
                if not len(short):
                    continue
                cos = U[short] @ qm[qi]  # exact refine on the shortlist
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": ids[qi],
                            "neighbor_id": c_ids[short],
                            "cos": cos,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = e.repartition(width(spark)).mapInPandas(adc_score, schema=schema)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _K)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


def _fit_pq_residual_books(e, C, m: int = _PQ_M, k: int = _PQ_K,
                           n_iter: int = 5):
    """PQ codebooks trained on coarse-quantizer RESIDUALS (u − C[cell])
    over the shared deterministic driver sample — the IVFADC form
    (Jégou et al., TPAMI 2011). One sample definition and one Lloyd
    loop (`_driver_sample` / `_subspace_lloyd`) shared with the other
    two fitters, so the IVFADC invariant — coarse cells and residual
    codebooks trained on the SAME vectors — holds by construction."""
    import numpy as np

    X = _driver_sample(e)
    R = X - C[np.argmax(X @ C.T, axis=1)]
    return _subspace_lloyd(R, m, k, n_iter)


@query("llm_knn_ivfpq")  # rows-only: sampled iterative quantizers
def llm_knn_ivfpq(spark, sf_dir):
    """IVF-PQ (IVFADC) approximate k-NN — the composition production
    vector search actually deploys (FAISS ``IVFx,PQy``), closing the
    ANN ladder: exact → LSH → IVF (compute cut) → PQ (memory cut) →
    **IVF-PQ (both)**. The coarse quantizer prunes compute to
    ~nprobe/ncells of the corpus; within probed cells candidates are
    scored by asymmetric distance over RESIDUAL codes:
    cos(q, x) ≈ q·C[cell] + Σᵢ LUT[q][i, codeᵢ(x − C[cell])], one
    scalar plus m table hits per candidate — residual codebooks give
    the same m-byte budget far lower distortion than raw-vector PQ.
    The ADC shortlist is refined with exact cosine (the shortlist +
    refine shape shared with `llm_embed_pq`) before the global top-k.

    Rows-only by the declared policy (both quantizers are
    sampled/iterative). Recall decomposes and tests/test_approx.py
    pins both factors: vs plain IVF (same probing, exact scoring) the
    ADC shortlist + refine loses nothing (measured 1.0, bound ≥ 0.9);
    vs exact brute force it inherits IVF's nprobe/ncells probing
    ceiling (≥ 0.5 at fixture scale — raise nprobe to buy recall).
    On this isotropic synthetic corpus residual codes are not tighter
    than raw-vector codes (near-uniform unit vectors sit far from
    every coarse centroid); the residual form is kept because it is
    the published IVFADC composition and clustered real corpora are
    where it pays — the coding-gain test pins that codes still cut
    residual reconstruction error by ~27%.

    Scale shape: broadcasts are the centroid matrix (~8 KB), the
    codebook tensor (~8 KB), and per-query LUTs for a BOUNDED query
    set; the corpus never moves and only shortlist·partitions rows
    per query shuffle into the merge. At 10^11 vectors the serving
    set is m bytes/vector + cell ids — RAM-resident where raw floats
    are not — and a probe touches nprobe/ncells of it.
    """
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("u")
    )
    e = materialize(e)
    C = _fit_quantizer(e)
    books = _fit_pq_residual_books(e, C)

    q_rows = _query_set(e).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, cosine double, rn long"
        )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.u for r in q_rows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    m, k, sub = books.shape
    lut = np.einsum(
        "qms,mks->qmk", q_mat.reshape(len(q_ids), m, sub), books
    )
    qdotC = q_mat @ C.T  # (nq, ncells): the per-cell scalar term
    cell2q: dict[int, list[int]] = {}
    c_order = np.arange(len(C))
    for qi in range(len(q_ids)):
        probed = np.lexsort((c_order, -qdotC[qi]))[:_IVF_NPROBE]
        for c in probed:
            cell2q.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast(
        (C, books, q_ids, q_mat, lut, qdotC, cell2q)
    )

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def probe_adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        Cm, B, ids, qm, L, QC, c2q = bc.value
        M = B.shape[0]
        ar = _np.arange(M)
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy()
            U = _np.vstack(pdf["u"].to_numpy())
            U = U / _np.linalg.norm(U, axis=1, keepdims=True)
            cells = _np.argmax(U @ Cm.T, axis=1)
            out = []
            for cell in _np.unique(cells):
                qidx = c2q.get(int(cell))
                if not qidx:
                    continue
                rows = _np.flatnonzero(cells == cell)
                codes = pq_encode(U[rows] - Cm[cell], B)
                for qi in qidx:
                    approx = QC[qi, cell] + L[qi][ar, codes].sum(axis=1)
                    mask = c_ids[rows] != ids[qi]
                    cand = _np.flatnonzero(mask)
                    if not len(cand):
                        continue
                    short = cand[
                        _np.lexsort(
                            (c_ids[rows][cand], -approx[cand])
                        )[:_PQ_SHORTLIST]
                    ]
                    sel = rows[short]
                    cos = U[sel] @ qm[qi]  # exact refine on shortlist
                    out.append(
                        pd.DataFrame(
                            {
                                "q_id": ids[qi],
                                "neighbor_id": c_ids[sel],
                                "cos": cos,
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = e.repartition(width(spark)).mapInPandas(probe_adc, schema=schema)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _K)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )
