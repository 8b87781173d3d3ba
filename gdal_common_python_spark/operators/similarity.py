"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k neighbours — the correctness
  baseline, executed as a block-nested-loop GEMM (dense hash-uniform
  blocks, einsum in index order — deterministic, and bit-reproducible by
  the DuckDB oracle's list functions, which sum in the same order).
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets (hyperplanes
  derived deterministically from md5, no RNG) shrink the candidate set to
  same-bucket pairs before the exact re-rank; falls back to brute force for
  queries whose bucket is too small. Recall is validated against
  ``cosine_topk`` in tests.

At 100 TB: brute force is O(n^2) and exists only as the oracle baseline;
the LSH plan is a bucket groupBy (uniform hash keys) + per-bucket re-rank.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def _topk_sel(cos: np.ndarray, kk: int) -> np.ndarray:
    """Row-wise top-``kk`` column indices of ``cos`` ordered by
    (value desc, column index asc). Columns must already be ordered so
    that index order == the desired tie order (sort ids ascending
    first). Exact under value ties: O(nc) argpartition per row picks the
    candidates, one vectorized lexsort orders them, and rows whose
    boundary value ties across the partition cut (cnt > kk — duplicate
    vectors, +-inf rows) fall back to the exact full-row lexsort. This
    replaces the former full stable argsort / per-row lexsort loops —
    the profiled hot spot of every exact re-rank kernel."""
    nq, nc = cos.shape
    kr = min(kk, nc)
    if kr < nc:
        part = np.argpartition(-cos, kr - 1, axis=1)[:, :kr]
    else:
        part = np.broadcast_to(np.arange(nc), (nq, nc)).copy()
    cand = np.take_along_axis(cos, part, axis=1)
    thr = cand.min(axis=1)
    cnt = (cos >= thr[:, None]).sum(axis=1)
    ord2 = np.lexsort((part, -cand), axis=1)
    sel = np.take_along_axis(part, ord2, axis=1)
    idx = np.arange(nc)
    for i in np.nonzero(cnt > kr)[0]:
        sel[i] = np.lexsort((idx, -cos[i]))[:kr]
    return sel


@F.pandas_udf(T.DoubleType())
def _cos_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Arrow-vectorized pairwise cosine — one einsum per batch instead of an
    interpreted HOF fold per pair (the candidate re-rank hot path)."""
    if len(va) == 0:  # np.stack([]) raises on the empty Arrow batches
        return pd.Series([], dtype=float)  # AQE-coalesced plans can emit
    A = np.stack([np.asarray(x, dtype=np.float64) for x in va])
    B = np.stack([np.asarray(x, dtype=np.float64) for x in vb])
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    den[den == 0] = 1.0
    return pd.Series(num / den)


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_block: int = 2560,
    corpus_block: int = 4096,
) -> DataFrame:
    """(vec_id, rank, neighbor_id) — EXACT brute-force cosine top-k as a
    block-nested-loop GEMM instead of a per-pair expression fold.

    Plan: both sides are packed into dense hash-uniform blocks (one row per
    block carrying its ids + vectors), the two block tables crossJoin —
    ceil(n/qb) x ceil(n/cb) rows instead of n^2 — and an Arrow kernel
    computes cos(Q_block, C_block) as one float64 ``np.einsum`` per row,
    emitting each query's per-corpus-block partial top-k (<= k rows per
    query per block). A final window over (cos desc, neighbor_id) merges
    the partials. Shuffle volume is n * nblocks * k rank rows, never the
    n^2 pair matrix; the kernel payload per task is two dense blocks
    (~qb*d + cb*d doubles).

    Exactness: ``einsum(optimize=False)`` sums products over the vector
    index in order — the SAME float64 operation order as the previous
    zip_with+aggregate left fold (and DuckDB's list_cosine_similarity on
    the driver oracle), so cos values are bit-identical and the
    (cos desc, neighbor_id) tie-break yields identical ranks. Still
    O(n^2) work by definition — the parity baseline; ``lsh_topk`` /
    ``ivf_topk`` are the scale paths.
    """
    import math

    id_type = emb.schema[id_col].dataType
    # blocks ship in the SOURCE float width; the kernel widens to float64
    # before any arithmetic (float -> double is exact, so cos values are
    # bit-identical to casting in the plan) — half the shuffle and Arrow
    # bytes for float32 embeddings, the §2.3 narrower-types lever
    v = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    n = v.count()
    if n == 0:
        return emb.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("vec_id", id_type),
                    T.StructField("rank", T.IntegerType()),
                    T.StructField("neighbor_id", id_type),
                ]
            ),
        )
    nqb = max(1, math.ceil(n / query_block))
    ncb = max(1, math.ceil(n / corpus_block))
    # pack each block as (ids array, flattened vector array): the Arrow
    # boundary then moves two contiguous buffers per block instead of an
    # array<struct> whose elements materialize as one Python dict per
    # vector inside the kernel (the profiled conversion hot spot — each
    # block crosses nqb/ncb times via the crossJoin). collect_list(struct)
    # keeps id<->vector pairing; the unzip transforms run once per BLOCK
    # row (dimension-sized, interpreted cost is nil).
    def _pack(nb, id_alias, flat_alias):
        return (
            v.withColumn("b", F.pmod(F.xxhash64("vec_id"), F.lit(nb)))
            .groupBy("b")
            .agg(F.collect_list(F.struct("vec_id", "v")).alias("ps"))
            .select(
                F.transform("ps", lambda s: s["vec_id"]).alias(id_alias),
                F.flatten(F.transform("ps", lambda s: s["v"])).alias(flat_alias),
            )
        )

    qb = _pack(nqb, "qids", "qv")
    cb = _pack(ncb, "cids", "cv")
    # one pair row per task: the block tables are tiny (a few MB), so AQE
    # coalesces their exchanges down to a handful of partitions and the
    # whole O(n^2) GEMM would run nearly serial; an explicit round-robin
    # repartition (not AQE-coalescible) spreads the nqb x ncb kernel calls
    # across the cluster — the shuffle moves only the packed blocks once
    pairs = qb.crossJoin(cb).repartition(nqb * ncb)
    part_schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    kk = int(k)

    def kernel(batches):
        for pdf in batches:
            frames = []
            for qids_a, qv, cids_a, cv in zip(pdf["qids"], pdf["qv"], pdf["cids"], pdf["cv"]):
                qids = np.asarray(qids_a)
                cids = np.asarray(cids_a)
                A = np.asarray(qv, dtype=np.float64).reshape(len(qids), -1)
                B = np.asarray(cv, dtype=np.float64).reshape(len(cids), -1)
                # pre-sort the corpus block by id: a STABLE argsort on -cos
                # then tie-breaks by position == by neighbor_id, replacing
                # the former per-query np.lexsort Python loop (the profiled
                # hot spot) with one vectorized argsort per block pair —
                # the same scheme ivf_topk.rerank uses
                mo = np.argsort(cids, kind="stable")
                cids = cids[mo]
                B = B[mo]
                # sequential-order sums == the fold order (see docstring)
                na = np.sqrt(np.einsum("ij,ij->i", A, A, optimize=False))
                nb = np.sqrt(np.einsum("ij,ij->i", B, B, optimize=False))
                cos = np.einsum("ik,jk->ij", A, B, optimize=False) / (
                    na[:, None] * nb[None, :]
                )
                # zero-norm vectors yield NaN cosine; Spark and DuckDB both
                # order NaN as the LARGEST double, numpy sorts it last —
                # map to +inf so the partial top-k agrees with the engines
                cos[np.isnan(cos)] = np.inf
                self_m = qids[:, None] == cids[None, :]
                cos[self_m] = -np.inf
                # cids are sorted ascending, so _topk_sel's index tie
                # order == neighbor_id tie order
                sel = _topk_sel(cos, min(kk, cos.shape[1]))
                vals = np.take_along_axis(cos, sel, axis=1)
                keep = vals > -np.inf
                qi, _ = np.nonzero(keep)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": qids[qi].tolist(),
                            "neighbor_id": cids[sel[keep]].tolist(),
                            "cos": vals[keep].tolist(),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame({"vec_id": [], "neighbor_id": [], "cos": []})

    part = pairs.mapInPandas(kernel, schema=part_schema)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id")
    )


def ivf_kmeans(X: np.ndarray, n_centroids: int, iters: int) -> np.ndarray:
    """Deterministic spherical k-means used by ``ivf_topk``: normalize,
    init with the first n_centroids rows of the id-ordered sample, argmax
    assignment, unit-renormalized means. Exposed so the DuckDB oracle can
    train the IDENTICAL centroids from the same id-ordered sample (same
    numpy ops on the same input -> bit-identical literals)."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = Xn[: min(n_centroids, len(Xn))].copy()
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for c in range(len(C)):
            m = assign == c
            if m.any():
                mu = Xn[m].mean(axis=0)
                C[c] = mu / max(np.linalg.norm(mu), 1e-12)
    return C


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 3,
    kmeans_iters: int = 5,
    sample_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Train: deterministic k-means on a capped driver-side sample (seeded
    numpy, first-`n_centroids` init over the id-sorted sample — no RNG in
    the cluster path, so results are stable across runs/partitionings).
    Index: every vector is assigned to its nearest centroid (one Arrow-batch
    GEMM per batch — no per-row Python). Query: each vector probes its
    `n_probe` nearest centroid lists and re-ranks candidates exactly.

    At 100 TB: train stays driver-side on a sample; assignment is a scan;
    the probe join shuffles on cluster_id (bounded, near-uniform after
    k-means); candidate sets are |probe| * avg-list-size instead of n.
    Recall vs ``cosine_topk`` is pinned in tests.
    """
    spark = emb.sparkSession
    samp = (
        emb.select(F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("i")
        .limit(sample_cap)
        .toPandas()
    )
    X = np.stack([np.asarray(r, dtype=np.float64) for r in samp["v"]])
    C = ivf_kmeans(X, n_centroids, kmeans_iters)
    bc_C = spark.sparkContext.broadcast(C)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(v: pd.Series) -> pd.Series:
        Cm = bc_C.value
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ Cm.T
        order = np.argsort(-sims, axis=1)[:, : min(n_probe, Cm.shape[0])]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    from .util import _spread

    base = _spread(
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    ).withColumn("probe_list", probes(F.col("v")))
    # ONE exploded table serves both IVF roles: pos==0 marks the vector's
    # NEAREST centroid (its inverted-list membership); every row is a probe.
    # Feeding a cogroup from two branches of this same lineage would scan
    # the table and run the assignment GEMM twice — a single grouped UDF
    # over the tagged explode does one scan and one shuffle instead
    ex = base.select(
        "vec_id", "v", F.posexplode("probe_list").alias("pos", "cluster_id")
    )
    # query-shard the rerank groups: n_centroids groups alone cap the
    # re-rank at n_centroids tasks (and a hot cluster is one straggler);
    # hashing QUERIES into shards and replicating each cluster's MEMBER
    # rows to every shard turns (cluster) groups into (cluster, shard)
    # groups with identical per-query candidate sets — the member
    # replication is the only extra shuffle (n_shards * members rows)
    n_shards = max(
        1, spark.sparkContext.defaultParallelism // max(n_centroids, 1)
    )
    # ONE conditional fan-out explode (not a union of two branches, which
    # would scan the table and run the assignment GEMM twice): every row
    # emits its query copy in its hash shard; pos==0 rows additionally
    # emit one member copy per shard
    qshard = F.pmod(F.xxhash64("vec_id"), F.lit(n_shards)).cast("int")

    def _fan(sh, is_m):
        return F.struct(sh.cast("int").alias("shard"), F.lit(is_m).alias("is_m"))

    fan = F.when(
        F.col("pos") == 0,
        F.array(_fan(qshard, False), *[_fan(F.lit(s), True) for s in range(n_shards)]),
    ).otherwise(F.array(_fan(qshard, False)))
    sharded = ex.select(
        "vec_id", "v", "cluster_id", F.explode(fan).alias("__f")
    ).select(
        "vec_id", "v", "cluster_id",
        F.col("__f.shard").alias("shard"), F.col("__f.is_m").alias("is_m"),
    )

    # per-cluster GEMM re-rank (grouped UDF) instead of a query x member row
    # explosion: the shuffle carries n_probe rows per query (embedding
    # payload per probe), not |probe| x |list| candidate pairs;
    # per-cluster top-k is sufficient — the global top-k is a member of its
    # own cluster's top-k, so the final window over <= n_probe*k candidate
    # rows per query recovers the exact same ranking the pair plan produced
    id_type = emb.schema[id_col].dataType
    cand_schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        qpdf = pdf[~pdf["is_m"]]
        mpdf = pdf[pdf["is_m"]]
        if len(qpdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame(columns=["vec_id", "neighbor_id", "cos"])
        qids = qpdf["vec_id"].to_numpy()
        mids = mpdf["vec_id"].to_numpy()
        Q = np.stack([np.asarray(x, dtype=np.float64) for x in qpdf["v"]])
        M = np.stack([np.asarray(x, dtype=np.float64) for x in mpdf["v"]])
        # pre-sort members by id: a STABLE row-wise argsort on -cos then
        # tie-breaks by position == by neighbor_id, replacing the former
        # per-query np.lexsort Python loop (the profiled hot spot) with one
        # vectorized argsort over the whole query block
        mo = np.argsort(mids, kind="stable")
        mids = mids[mo]
        M = M[mo]
        qn = np.linalg.norm(Q, axis=1)
        mn = np.linalg.norm(M, axis=1)
        qn[qn == 0] = 1.0
        mn[mn == 0] = 1.0
        C = (Q @ M.T) / np.outer(qn, mn)
        C[qids[:, None] == mids[None, :]] = -np.inf  # exclude self
        # mids are sorted ascending, so index tie order == id tie order
        order = _topk_sel(C, min(k, C.shape[1]))
        cos = np.take_along_axis(C, order, axis=1)
        keep = np.isfinite(cos)
        qi, _ = np.nonzero(keep)
        # .tolist(): id columns keep the input's type (string ids survive
        # the Arrow cast; numeric ids unaffected)
        return pd.DataFrame(
            {
                "vec_id": qids[qi].tolist(),
                "neighbor_id": mids[order[keep]].tolist(),
                "cos": cos[keep].tolist(),
            }
        )

    # NOT batched through grouped_tile_apply (unlike lsh_topk): the group
    # count here is n_centroids x n_shards ~ 2x parallelism by derivation,
    # so roundtrips are already partition-bounded — A/B measured a wash
    cand = sharded.groupBy("cluster_id", "shard").applyInPandas(rerank, cand_schema)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id")
    )


def cosine_near_dup(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collect_limit: int = 2_000_000,
) -> DataFrame:
    """(a_id, b_id, cos) — exact near-duplicate pairs with cosine >= threshold.

    Exact all-pairs as a block matrix product: the build side (ids, matrix,
    norms) broadcasts once; each Arrow batch of query rows computes a
    (batch x n) BLAS matmul and emits only pairs above threshold with
    a_id < b_id. O(n^2) flops but vectorized — this is the correctness
    baseline and gate; ``lsh_near_dup`` is the scale path (the build side
    must fit in memory, enforced by `collect_limit`).

    cos is rounded to 6 dp on BOTH engines so the gate compares a stable
    value; summation order differs between BLAS, Spark folds, and DuckDB's
    list_cosine_similarity anyway, and the synthesized input keeps a wide
    margin around the threshold so fp noise can never flip membership."""
    from .util import _spread

    spark = emb.sparkSession
    pdf = emb.select(id_col, vec_col).limit(collect_limit + 1).toPandas()
    if len(pdf) > collect_limit:
        raise ValueError(
            f"cosine_near_dup is the exact baseline (build side capped at "
            f"{collect_limit} rows) — use lsh_near_dup at scale"
        )
    id_type_early = emb.schema[id_col].dataType
    if len(pdf) == 0:
        empty = T.StructType(
            [
                T.StructField("a_id", id_type_early),
                T.StructField("b_id", id_type_early),
                T.StructField("cos", T.DoubleType()),
            ]
        )
        return spark.createDataFrame([], empty)
    ids_b = pdf[id_col].to_numpy()
    mat_b = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms_b = np.sqrt((mat_b * mat_b).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids_b, mat_b, norms_b))

    id_type = emb.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("a_id", id_type),
            T.StructField("b_id", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    a = _spread(
        emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    )

    def kernel(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf_a in batches:
            if not len(pdf_a):
                continue
            a_ids = pdf_a["a_id"].to_numpy()
            a_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf_a["va"]])
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
            sims = np.round(
                (a_mat @ b_mat.T) / (a_norms[:, None] * b_norms[None, :]), 6
            )
            mask = (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"a_id": a_ids[ai], "b_id": b_ids[bi], "cos": sims[ai, bi]}
            )

    return a.mapInPandas(kernel, out_schema)


def lsh_near_dup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for near-dup: OR-amplified random-hyperplane LSH.

    Each of `n_tables` independent hyperplane sets buckets the vectors; a
    pair is a candidate if it collides in ANY table (for cos ~0.98 and 6
    planes, per-table collision ~0.67 -> 4-table recall ~0.99). Candidates
    get the exact cosine filter. At 100 TB this is n_tables bucket
    shuffles + a candidate join — never O(n^2); recall vs the exact
    baseline is pinned in tests."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    v = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    for t in range(n_tables):
        v = v.withColumn(f"b{t}", _bucket(F.col("v"), n_planes, dim, salt=f"t{t}:"))
    # all table buckets ride through the explode: lower-table agreement is
    # then a plain int equality on the joined row, so the report-once dedup
    # (keep the pair only at its MINIMUM colliding table) is a codegen
    # filter instead of a dropDuplicates shuffle of vector payloads
    blist = [f"b{t}" for t in range(n_tables)]
    tabs = v.select(
        "vec_id",
        "v",
        *blist,
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tab"), F.col(f"b{t}").alias("bucket"))
                for t in range(n_tables)
            ])
        ).alias("tb"),
    ).select(
        "vec_id", "v", *blist,
        F.col("tb.tab").alias("tab"), F.col("tb.bucket").alias("bucket"),
    )
    a = tabs.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"),
        *[F.col(c).alias(f"a_{c}") for c in blist], "tab", "bucket",
    )
    b = tabs.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"),
        *[F.col(c).alias(f"b_{c}") for c in blist], "tab", "bucket",
    )
    lower_collides = reduce(
        lambda acc, t: acc
        | ((F.col("tab") > t) & (F.col(f"a_b{t}") == F.col(f"b_b{t}"))),
        range(n_tables - 1),
        F.lit(False),
    )
    cand = (
        a.join(b, ["tab", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(~lower_collides)
        .drop(*[f"a_{c}" for c in blist], *[f"b_{c}" for c in blist])
    )
    # Arrow-batched einsum instead of an interpreted HOF fold per pair —
    # the exact-cosine verify is the hot path once buckets produce
    # candidates; rounding to 6 dp keeps the emitted value stable
    cos = F.round(_cos_batch(F.col("va"), F.col("vb")), 6)
    return (
        cand.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def hyperplane_weights(n_planes: int, dim: int, salt: str = "") -> list[list[float]]:
    """Deterministic hyperplane matrix: plane p, component i has weight
    md5-derived in [-0.5, 0.5) — computed with hashlib (no RNG), so any
    engine (the DuckDB oracle included) reproduces the same literals."""
    import hashlib

    def weight(p, i):
        h = int(hashlib.md5(f"{salt}plane{p}:{i}".encode()).hexdigest()[:8], 16)
        return float(h) / float(16**8) - 0.5

    return [[weight(p, i) for i in range(dim)] for p in range(n_planes)]


def _bucket(vec_col, n_planes: int, dim: int, salt: str = ""):
    """Bucket = bit-packed hyperplane signs. Each plane's weight vector is
    ONE array literal and the projection is aggregate(zip_with(...)) — a
    constant-size expression per plane, so realistic dims (512-1024) don't
    blow up codegen/constant pools the way a dim×planes chain of scalar
    literals did. The left-fold matches the oracle's left-associated sum
    bit-for-bit (0.0 + t0 == t0 in IEEE for all t0 except a harmless
    -0.0 -> +0.0 sign change that cannot flip the >= 0 sign test)."""
    planes = hyperplane_weights(n_planes, dim, salt)

    def sign(p):
        proj = F.aggregate(
            F.zip_with(vec_col, F.lit(planes[p]), lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    out = F.lit(0)
    for p in range(n_planes):
        out = out * 2 + sign(p)
    return out


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact re-rank within random-hyperplane buckets."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("bucket", _bucket(F.col("v"), n_planes, dim))

    id_type = emb.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("rank", T.IntegerType()),
            T.StructField("neighbor_id", id_type),
        ]
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        # whole-bucket cosine matrix in numpy: one GEMM per bucket instead
        # of interpreted per-pair HOF folds — the exact per-bucket re-rank
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(columns=["vec_id", "rank", "neighbor_id"])
        M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        # sort by id so _topk_sel's index tie order == the deterministic
        # (-cos, neighbor_id) tie-break of the former per-row lexsort loop
        o = np.argsort(ids, kind="stable")
        ids = ids[o]
        M = M[o]
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0] = 1.0
        C = (M @ M.T) / np.outer(norms, norms)
        np.fill_diagonal(C, -np.inf)
        kk = min(k, len(ids) - 1)
        n = len(ids)
        vec_col_out = np.repeat(ids, kk)
        rank_col = np.tile(np.arange(1, kk + 1), n)
        sel = _topk_sel(C, kk)
        neigh = ids[sel.ravel()]
        return pd.DataFrame(
            {"vec_id": vec_col_out, "rank": rank_col.astype(np.int32), "neighbor_id": neigh}
        )

    # per-partition batching: one Python roundtrip per partition, not per
    # bucket (2^n_planes buckets); rerank sorts by id internally, so the
    # per-bucket results are order-independent
    from .focal import grouped_tile_apply

    return grouped_tile_apply(v, lambda _key, g: rerank(g), schema, keys=("bucket",))


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 embedding quantization (the ANN storage path: 4x
    smaller vectors, dot products in integer SIMD on a real cluster) ->
    (id, dim, q, scale) exploded rows with

        scale = 127.0 / max(|v_i|),   q_i = floor(v_i * scale + 0.5)

    100 % native, zero shuffle — and zero lambda HOFs: higher-order
    functions (`transform`) are evaluated INTERPRETED per element (no
    whole-stage codegen), which made the original transform-based form the
    single most expensive projection in the suite (12.7 s at the 10x bench
    scale for 20k x 64 floats). This form explodes FIRST and computes q
    per exploded row in plain codegen; max(|v_i|) = greatest(array_max(v),
    -array_min(v)) — bit-identical to array_max(transform(abs)) for IEEE
    floats (abs and negation are exact; NaN propagates to the max in both
    forms, yielding scale NULL) without the per-element lambda.
    floor(x + 0.5) rounding and the float->double casts are identical IEEE
    in Spark and DuckDB, so the gate is hash-exact.
    All-zero vectors quantize to all-zero with scale NULL."""
    mx = F.greatest(
        F.array_max(F.col(vec_col)), -F.array_min(F.col(vec_col))
    ).cast("double")
    scale = F.when(mx > 0, F.lit(127.0) / mx)
    return (
        emb.withColumn("__scale", scale)
        .select(
            F.col(id_col),
            F.posexplode(F.col(vec_col)).alias("dim", "__v"),
            F.col("__scale"),
        )
        .select(
            F.col(id_col),
            "dim",
            F.when(
                F.col("__scale").isNotNull(),
                F.floor(F.col("__v").cast("double") * F.col("__scale") + F.lit(0.5)).cast("int"),
            )
            .otherwise(F.lit(0))
            .alias("q"),
            F.col("__scale").alias("scale"),
        )
    )


def quantize_int8_oracle_sql(
    emb_rel: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """Oracle for :func:`quantize_int8` — same casts, same floor(x+0.5)."""
    return f"""
WITH m AS (
  SELECT {id_col},
         CAST(list_max(list_transform({vec_col}, x -> abs(x))) AS DOUBLE) AS mx,
         {vec_col} AS v
  FROM {emb_rel}
),
s AS (
  SELECT {id_col}, v,
         CASE WHEN mx > 0 THEN CAST(127.0 AS DOUBLE) / mx END AS scale
  FROM m
)
SELECT {id_col},
       CAST(idx - 1 AS INT) AS dim,
       CAST(CASE WHEN scale IS NOT NULL
                 THEN floor(CAST(v[idx] AS DOUBLE) * scale + 0.5)
                 ELSE 0 END AS INT) AS q,
       scale
FROM (SELECT {id_col}, v, scale, unnest(generate_series(1, len(v))) AS idx FROM s)
"""
