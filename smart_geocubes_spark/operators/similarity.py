"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (JVM higher-order
functions: ``zip_with`` + ``aggregate`` — no Python, no shuffle of the
embedding table beyond the broadcast of queries), and a
random-hyperplane LSH-bucketed variant as the scale path (buckets via
sign bits of projections in an Arrow pandas UDF; candidate set =
query's bucket + hamming-1 neighbors; exact re-rank inside).

At 10^12 rows the brute-force path is the per-bucket re-ranker, not
the global plan; the bucketed variant keeps the big side hash-
partitioned by bucket with no cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_geocubes_spark.sources.local import local_frame

N_PLANES = 8


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cos_cols(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    nb = F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    return dot / (F.sqrt(na) * F.sqrt(nb))


def ann_cosine_topk(spark: SparkSession, emb: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k for query vectors (vec_id % 25 == 0) over the
    whole table; queries broadcast, ranking by (cos desc, vec_id)."""
    base = emb.select("vec_id", _as_double("embedding").alias("v"))
    q = base.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cand = base.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    cand = cand.withColumn("cos", _cos_cols(F.col("v"), F.col("qv")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def embedding_neardup_pairs(
    spark: SparkSession, emb: DataFrame, tau: float = 0.9, n_blocks: int | None = None
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (id_a < id_b,
    cos >= tau) as a distributed block-grid self-join.

    An exact threshold join at low tau is inherently Omega(n^2)
    compares (no bucketing scheme has guaranteed recall for cosine
    thresholds this weak), so the scalable shape is to do those
    compares as BLAS: vectors are hashed into B blocks, the B*(B+1)/2
    block PAIRS form the task grid (tiny broadcast), and each task
    computes one (n/B x n/B) normalized matmul in a single Arrow
    kernel, emitting only the pairs over tau. No cross join, no
    nested-loop join, no per-pair JVM expression: shuffle volume is
    n*B rows (each vector visits its block row+column of the grid) and
    the O(n^2 d) flops run at GEMM throughput across all executors.
    For corpora where even that is too much work, the approximate path
    is :func:`ann_lsh_topk`; this operator is the exact/verify path
    (same role as MinHash-LSH's exact-verify stage).

    The previous all-pairs broadcast theta-join survives only as the
    test oracle (:func:`embedding_neardup_pairs_allpairs`)."""
    B = int(n_blocks or max(8, spark.sparkContext.defaultParallelism))
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _as_double("embedding").alias("v"),
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("blk"),
    )
    grid = local_frame(
        spark,
        pd.DataFrame(
            [(i, j) for i in range(B) for j in range(i, B)], columns=["bi", "bj"]
        ).astype("int32"),
    )
    left = base.join(F.broadcast(grid), base["blk"] == grid["bi"]).select(
        "bi", "bj", "vec_id", "v", F.lit(0).alias("side")
    )
    right = base.join(
        F.broadcast(grid), (base["blk"] == grid["bj"]) & (grid["bi"] != grid["bj"])
    ).select("bi", "bj", "vec_id", "v", F.lit(1).alias("side"))
    tagged = left.unionByName(right)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}
        )
        a = pdf[pdf["side"] == 0].sort_values("vec_id")
        if a.empty:
            return empty
        A = np.stack(a["v"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        ida = a["vec_id"].to_numpy()
        b = pdf[pdf["side"] == 1]
        # the diagonal group carries only side-0 rows by construction —
        # but identify it by (bi == bj), NOT by b.empty: an off-diagonal
        # pair whose bj residue class holds no vectors also has an empty
        # side 1 and must emit nothing (not re-emit bi's intra pairs).
        if int(pdf["bi"].iat[0]) == int(pdf["bj"].iat[0]):
            c = A @ A.T  # diagonal block: upper triangle of one matrix
            ii, jj = np.nonzero(np.triu(c >= tau, k=1))
            return pd.DataFrame({"id_a": ida[ii], "id_b": ida[jj]})
        if b.empty:
            return empty
        Bm = np.stack(b["v"].to_numpy()).astype(np.float64)
        Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
        idb = b["vec_id"].to_numpy()
        c = A @ Bm.T
        ii, jj = np.nonzero(c >= tau)
        x, y = ida[ii], idb[jj]
        return pd.DataFrame({"id_a": np.minimum(x, y), "id_b": np.maximum(x, y)})

    return tagged.groupBy("bi", "bj").applyInPandas(kernel, "id_a long, id_b long")


def embedding_neardup_pairs_allpairs(
    spark: SparkSession, emb: DataFrame, tau: float = 0.9
) -> DataFrame:
    """All-pairs broadcast theta-join reference implementation — O(n^2)
    rows through a BroadcastNestedLoopJoin, fixture-scale ONLY. Kept as
    the pytest oracle for :func:`embedding_neardup_pairs`."""
    base = emb.select("vec_id", _as_double("embedding").alias("v"))
    a = base.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = base.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn("cos", _cos_cols(F.col("va"), F.col("vb")))
    return pairs.filter(F.col("cos") >= F.lit(tau)).select("id_a", "id_b")


def ann_ivf_topk(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    centroid_mod: int = 50,
    max_literal_centroids: int = 64,
    max_centroids: int = 65536,
) -> DataFrame:
    """IVF (inverted-file) ANN: a deterministic coarse quantizer —
    every ``centroid_mod``-th vector is a centroid (sampled quantizer,
    no k-means iterations to drift) — partitions the table into
    inverted lists by max-cosine centroid; each query probes its
    ``nprobe`` nearest centroids' lists and exact-reranks inside them.

    Scale shape: the centroid set is collected once (capped at
    ``max_centroids`` — size centroid_mod so C ~ sqrt(n) stays under
    it) and the big side is scanned ONCE to compute assignments, then
    hash-joined on ``list_id`` — no cross join, no all-pairs. At 10^12
    rows the assignment is the only full pass and the probed fraction
    is nprobe/n_centroids of the data. Assignment has two physical
    forms picked by C: literal-array argmax in codegen (tiny C), or a
    single Arrow kernel with the centroid matrix in the closure
    (C up to max_centroids — one numpy matmul per batch)."""
    base = emb.select(F.col("vec_id").cast("long").alias("vec_id"), _as_double("embedding").alias("v"))
    cent = base.filter(F.col("vec_id") % centroid_mod == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    # assignment: argmax cosine over the centroid set, which is collected
    # (sample-sized by construction) and inlined as a literal array — the
    # BIG side stays a one-pass projection inside codegen, with NO
    # fan-out x n_centroids and NO per-row-key window (that plan dies at
    # 10^12 rows, cf. the asof_nearest rewrite). Ties -> smaller cid via
    # lexicographic struct max on (cos, -cid).
    cent_rows = cent.collect()
    if len(cent_rows) > max_centroids:
        raise ValueError(
            f"{len(cent_rows)} centroids exceed max_centroids={max_centroids}: "
            "raise centroid_mod so the coarse quantizer stays sample-sized "
            "(C ~ sqrt(n) is the usual IVF choice)"
        )
    if len(cent_rows) <= max_literal_centroids:
        import math

        def _nb_lit(cv) -> float:
            # left-associative fold + IEEE sqrt: bit-identical to what
            # the in-plan aggregate/sqrt computed, so hoisting it to a
            # compile-time literal cannot change a single score
            s = 0.0
            for x in cv:
                s += float(x) * float(x)
            return math.sqrt(s)

        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(int(r["cid"])).alias("cid"),
                    F.array(*[F.lit(float(x)) for x in r["cv"]]).alias("cv"),
                    F.lit(_nb_lit(r["cv"])).alias("nb"),
                )
                for r in cent_rows
            ]
        )
        # hoist the document norm OUT of the per-centroid lambda
        # (CLAUDE.md rule 6: _cos_cols inside the transform re-ran the
        # O(dim) norm fold once per centroid — C x redundant work)
        na = F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda s, v: s + v,
            )
        )
        base = base.withColumn("_nav", na)

        def _dot(a, b):
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
            )

        scored = F.transform(
            cent_arr,
            lambda c: F.struct(
                (_dot(F.col("v"), c["cv"]) / (F.col("_nav") * c["nb"])).alias("s"),
                (-c["cid"]).alias("negcid"),
            ),
        )
        lists = base.withColumn("list_id", -F.array_max(scored)["negcid"]).drop("_nav")
    else:
        # larger quantizers overflow codegen as literals: one Arrow hop
        # with the (C x dim) centroid matrix in the closure — still a
        # single pass over the big side, one numpy matmul per batch.
        # argmax ties resolve to the lowest row index == smallest cid
        # (cids sorted ascending), matching the literal path.
        cids = np.array(sorted(int(r["cid"]) for r in cent_rows), dtype=np.int64)
        by_cid = {int(r["cid"]): r["cv"] for r in cent_rows}
        cm = np.array([by_cid[c] for c in cids], dtype=np.float64)
        cm /= np.linalg.norm(cm, axis=1, keepdims=True)
        # the (C x dim) matrix can be tens of MB at max_centroids: ship
        # it ONCE per executor as a Spark broadcast, not pickled into
        # every task's closure (same rule as decontam.py's automaton)
        bc = emb.sparkSession.sparkContext.broadcast((cids, cm))

        @F.pandas_udf("long")
        def assign_udf(vec: pd.Series) -> pd.Series:
            cids_b, cm_b = bc.value
            m = np.stack(vec.to_numpy()).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            return pd.Series(cids_b[np.argmax(m @ cm_b.T, axis=1)])

        # expensive kernel feeding an exchange: pin ONE evaluation
        # (CLAUDE.md rule 4 — Catalyst double-evals deterministic UDFs)
        assign_udf = assign_udf.asNondeterministic()
        lists = base.withColumn("list_id", assign_udf(F.col("v")).cast("long"))
    q = base.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # probe lists: each query's nprobe nearest centroids
    qc = q.crossJoin(F.broadcast(cent)).withColumn("ccos", _cos_cols(F.col("qv"), F.col("cv")))
    wq = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("cid").asc())
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qv", F.col("cid").alias("list_id"))
    )
    cand = lists.join(F.broadcast(probes), "list_id").filter(F.col("vec_id") != F.col("qid"))
    cand = cand.withColumn("cos", _cos_cols(F.col("v"), F.col("qv")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def _planes(dim: int, n_planes: int = N_PLANES) -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, dim))


def make_bucket_udf(dim: int):
    """Hyperplane sign-bucket UDF. The projection is accumulated
    LEFT-ASSOCIATIVELY over dimensions (``((v1*p1 + v2*p2) + v3*p3)...``)
    rather than via BLAS matmul, so the DuckDB oracle can recompute the
    identical IEEE doubles with a plain ``a + b + c`` SQL expression
    (CLAUDE.md float-discipline rule: floats only where both engines
    provably compute the same value in the same order). Cost is
    unchanged — still d vectorized fused ops per batch."""
    planes = _planes(dim)

    @F.pandas_udf("int")
    def bucket_udf(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        proj = m[:, 0][:, None] * planes[:, 0][None, :]  # (n, P)
        for i in range(1, planes.shape[1]):
            proj = proj + m[:, i][:, None] * planes[:, i][None, :]
        bits = (proj > 0).astype(np.int64)
        return pd.Series((bits << np.arange(N_PLANES)).sum(axis=1).astype(np.int32))

    return bucket_udf


def lsh_bucket_sql(vcol: str, dim: int) -> str:
    """The bucket computation as a shared-dialect SQL expression with
    the seeded plane constants inlined (same role as
    functions.sqlgen.morton_cell_sql: the oracle recomputes the engine's
    encoding bit-for-bit). ``repr(float)`` round-trips exactly, and the
    left-assoc ``+`` chain matches the UDF's accumulation order."""
    planes = _planes(dim)
    terms = []
    for j in range(N_PLANES):
        dot = " + ".join(f"{vcol}[{i + 1}] * {float(planes[j, i])!r}" for i in range(dim))
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def ann_lsh_topk(spark: SparkSession, emb: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets; each query probes
    its own bucket + all hamming-1 buckets; exact cosine re-rank inside
    the candidate set (multiprobe LSH).

    The bucket UDF runs EXACTLY ONCE over the table: pinned
    ``.asNondeterministic()`` (CLAUDE.md rule 4 — Catalyst otherwise
    re-evaluates deterministic UDFs across exchanges) and the bucketed
    base is ``localCheckpoint``-ed so the self-join's two subtrees
    (big side + query side) read the one materialization instead of
    each re-running the kernel (plan previously showed
    ArrowEvalPython x3 — linear work x3 on the big side)."""
    dim = len(emb.select("embedding").head()[0])
    bucket = make_bucket_udf(dim).asNondeterministic()
    base = emb.select(
        "vec_id", _as_double("embedding").alias("v"), bucket(F.col("embedding")).alias("bucket")
    ).localCheckpoint(eager=True)
    q = base.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    # multiprobe: qb plus hamming-1 neighbors
    probes = q.select(
        "qid",
        "qv",
        F.explode(
            F.array(F.col("qb"), *[(F.col("qb").bitwiseXOR(F.lit(1 << i))) for i in range(N_PLANES)])
        ).alias("bucket"),
    )
    cand = base.join(F.broadcast(probes), "bucket").filter(F.col("vec_id") != F.col("qid"))
    cand = cand.withColumn("cos", _cos_cols(F.col("v"), F.col("qv")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank")
    )
