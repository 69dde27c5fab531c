"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force all-pairs cosine top-k: the exactness
  baseline. O(n^2) pairs; fine for calibration subsets, NOT the scale
  path.
* ``lsh_cosine_topk`` — random-hyperplane LSH bucketing: the scale
  path. Hyperplane components are derived from md5 (deterministic and
  reproducible in the DuckDB oracle — no RNG state to ship). Buckets
  shrink the candidate set from O(n^2) to O(sum bucket^2); exact
  cosine re-rank inside buckets.
* ``embedding_near_dup_pairs`` — cosine >= threshold near-duplicate
  edges (the embedding-space dedup operator).

All dot products run JVM-side via higher-order functions
(zip_with + aggregate) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cutwed_spark.cache import scoped_persist


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_double_embedding(df: DataFrame, col: str = "embedding") -> DataFrame:
    """float32 storage -> float64 math (dtype discipline mirrors the
    reference's float64 default, /root/reference/cuTWED/cuTWED.py:68-81)."""
    return df.withColumn(col, F.col(col).cast("array<double>"))


def cosine_pairs(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """All-pairs cosine (TRIL-deduped). Output: (vec_id_a, vec_id_b, cos)."""
    e = with_double_embedding(emb).select(
        F.col(id_col), F.col("embedding"), _norm(F.col("embedding")).alias("nrm")
    )
    a = e.select(
        F.col(id_col).alias("vec_id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col(id_col).alias("vec_id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
    )


def cosine_topk(
    emb: DataFrame, k: int = 5, id_col: str = "vec_id", max_rows: int = 2_000_000
) -> DataFrame:
    """Brute-force top-k neighbors per vector. Deterministic tiebreak on
    (cos desc, neighbor id). Output: (vec_id, neighbor_id, cos, rank).

    Implementation: the row-normalized embedding matrix is broadcast to
    every task and each Arrow batch of query rows computes one blocked
    BLAS matmul against it — only the top-k rows ever materialize (the
    n x n cosine matrix never exists as rows). ~10-40x faster than a
    pair-exploding join with per-pair fold expressions, and the same
    shape the reference uses for its batch kernel (one side resident,
    sweep the other; /root/reference/src/cuTWED_core.h:574-620).

    This is the EXACTNESS BASELINE, not the default top-k API (that is
    ``topk_neighbors``, which routes to the bucketed LSH path). It
    EAGERLY COLLECTS the whole embedding table to the DRIVER
    (``toPandas`` at plan-construction time) and broadcasts the
    normalized matrix to every task, so it is bounded to corpora that
    fit driver+executor memory (n*dim*8 bytes; ~0.5 GB at 1M x 64).
    ``max_rows`` guards that: the call refuses (ValueError) above the
    limit instead of silently OOMing the driver at scale.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    id_type = emb.schema[id_col].dataType.simpleString()
    e = with_double_embedding(emb).select(F.col(id_col), "embedding")
    # ONE materialization serves both the guard and the collect:
    # limit(max_rows+1) either proves the table fits (and is the data)
    # or proves it doesn't (and we stop before pulling the rest) — a
    # separate count() would execute the upstream plan twice.
    pdf = e.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"cosine_topk is the exactness baseline and driver-collects the "
            f"embedding table (> max_rows={max_rows} rows); use "
            f"topk_neighbors/lsh_cosine_topk (bucketed) at scale, or raise "
            f"max_rows explicitly if the table truly fits driver memory"
        )
    out_schema = f"{id_col} {id_type}, neighbor_id {id_type}, cos double, rank int"
    if len(pdf) == 0:
        return spark.createDataFrame([], out_schema)
    ids = pdf[id_col].to_numpy()
    M = np.stack(pdf["embedding"].to_list()).astype(np.float64)
    nrm = np.sqrt(np.einsum("nd,nd->n", M, M))
    Mn = M / np.maximum(nrm, 1e-300)[:, None]
    # Neighbor tie-break works on the RANK of the id in ascending order
    # (valid for any orderable id type, incl. strings numpy can't lexsort).
    id_rank = np.empty(len(ids), dtype=np.int64)
    id_rank[np.argsort(ids, kind="stable")] = np.arange(len(ids))
    bc = spark.sparkContext.broadcast((ids, Mn, id_rank))
    kk = int(k)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_all, Mn_all, rank_all = bc.value
        n, dim = Mn_all.shape
        pos = {v: i for i, v in enumerate(ids_all)}
        for pdf_in in batches:
            if len(pdf_in) == 0:
                continue
            V = np.stack(pdf_in["embedding"].to_list()).astype(np.float64)
            vn = np.sqrt(np.einsum("nd,nd->n", V, V))
            Vn = V / np.maximum(vn, 1e-300)[:, None]
            C = Vn @ Mn_all.T
            np.round(C, 4, out=C)
            bids = pdf_in[id_col].to_numpy()
            out_id, out_nb, out_cos, out_rank = [], [], [], []
            for i in range(C.shape[0]):
                row = C[i]
                self_pos = pos.get(bids[i])
                if self_pos is not None:
                    row[self_pos] = -np.inf
                if n - 1 <= kk:
                    cand = np.nonzero(np.isfinite(row))[0]
                else:
                    vk = np.partition(row, n - kk)[n - kk]
                    cand = np.nonzero(row >= vk)[0]
                order = cand[np.lexsort((rank_all[cand], -row[cand]))][:kk]
                out_id.extend([bids[i]] * len(order))
                out_nb.extend(ids_all[order])
                out_cos.extend(row[order])
                out_rank.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_id),
                    "neighbor_id": pd.Series(out_nb),
                    "cos": pd.Series(out_cos, dtype=np.float64),
                    "rank": pd.Series(out_rank, dtype=np.int32),
                }
            )

    return e.select(F.col(id_col), "embedding").mapInPandas(fn, out_schema)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component r[d] in
    [-0.5, 0.5): first 8 hex chars of md5('rp{plane}_{d}') as a
    uniform fraction. Reproducible in any engine with md5."""
    import hashlib

    out = []
    for d in range(dim):
        hx = hashlib.md5(f"rp{plane}_{d}".encode()).hexdigest()[:8]
        out.append(int(hx, 16) / 16**8 - 0.5)
    return out


def _table_bucket(dim: int, n_planes: int, table: int) -> Column:
    """Bucket id for one LSH table: sign bits of planes
    [table*n_planes, (table+1)*n_planes) plus a table offset so buckets
    from different tables can never collide."""
    bucket = None
    for p in range(n_planes):
        plane = F.array(
            *[F.lit(v) for v in _hyperplane(dim, table * n_planes + p)]
        )
        bit = F.when(_dot(F.col("embedding"), plane) > 0, F.lit(2**p)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return (bucket + F.lit(table * 2**n_planes)).cast("int")


def lsh_bucket_ids(
    emb: DataFrame, dim: int, n_planes: int = 8, id_col: str = "vec_id"
) -> DataFrame:
    """Sign-of-projection LSH bucket per vector (single table).
    Output: (vec_id, bucket int)."""
    return with_double_embedding(emb).select(
        F.col(id_col), _table_bucket(dim, n_planes, 0).alias("bucket")
    )


def lsh_bucket_ids_multi(
    emb: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-table LSH: one row per (vector, table), each table using an
    independent slice of the deterministic plane family. A pair whose
    single-table collision probability is p collides in >= 1 of L
    tables with probability 1-(1-p)^L — the standard recall lever
    (measured on the bench corpus: recall@5 0.15 -> ~0.45 at L=4) at
    L x the bucket-join cost. Output: (vec_id, bucket int), buckets
    table-disjoint by construction."""
    e = with_double_embedding(emb)
    return e.select(
        F.col(id_col),
        F.explode(
            F.array(*[_table_bucket(dim, n_planes, t) for t in range(n_tables)])
        ).alias("bucket"),
    )


def suggest_n_planes(n_rows: int, target_bucket: int = 256) -> int:
    """Bucket count must GROW with n: expected bucket size is
    n / 2^n_planes, and each bucket self-joins (O(sum bucket^2) pairs).
    Returns the smallest n_planes whose expected bucket size is at most
    ``target_bucket``, clamped to [4, 30]."""
    import math

    p = math.ceil(math.log2(max(n_rows, 1) / max(target_bucket, 1)))
    return int(min(max(p, 4), 30))


def lsh_bucket_stats(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """One-row profile of an LSH bucketing (mirrors
    blocking.block_pairs' cap-and-report contract):
    (n_buckets, n_dropped_buckets, max_bucket_size, est_candidate_pairs)."""
    sized = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sized.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("bucket_size") > max_bucket, 1).otherwise(0)).alias(
            "n_dropped_buckets"
        ),
        F.max("bucket_size").alias("max_bucket_size"),
        F.sum(
            F.when(
                F.col("bucket_size") <= max_bucket,
                F.col("bucket_size") * (F.col("bucket_size") - 1) / 2,
            ).otherwise(0)
        ).cast("long").alias("est_candidate_pairs"),
    )


def lsh_cosine_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    max_bucket: int = 4096,
    n_tables: int = 1,
) -> DataFrame:
    """ANN: bucket by LSH, exact cosine re-rank within buckets.
    Output: (vec_id, neighbor_id, cos, rank). Recall < 1 by design
    (the scale path); compare against cosine_topk for quality.

    Size ``n_planes`` with ``suggest_n_planes(n)`` — a fixed bucket
    count gives O(n^2 / 2^n_planes) bucket self-joins as n grows —
    and raise recall with ``n_tables`` independent tables (a pair
    colliding with probability p per table is found in >= 1 of L with
    probability 1-(1-p)^L, at L x the join cost). Buckets above
    ``max_bucket`` rows (hash-collision pile-ups / degenerate
    embeddings) are dropped before the self-join — the same
    cap-and-report treatment blocking applies to LSH blocks; profile
    the drop with ``lsh_bucket_stats`` on ``lsh_bucket_ids`` output.
    Vectors in a dropped bucket get no neighbors from that bucket
    (recall cost, surfaced, never a 2^2*max_bucket^2 pair explosion).
    """
    from pyspark.sql.window import Window

    e = with_double_embedding(emb).select(
        F.col(id_col), "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    # Persisted: `ids` (compact — id + bucket) encodes the expensive
    # n_planes*n_tables hyperplane dot products and feeds the oversized
    # profile plus BOTH self-join sides. The array-bearing `bucketed`
    # table is deliberately NOT persisted: materializing the vector
    # payload costs more than recomputing the parquet scan (A/B at
    # sf0.1: 12.1 s persisted vs 7.8 s with ids-only vs 9.8 s with no
    # persist). cache_scope() releases.
    ids = scoped_persist(
        lsh_bucket_ids(emb, dim, n_planes, id_col)
        if n_tables == 1
        else lsh_bucket_ids_multi(emb, dim, n_planes, n_tables, id_col)
    )
    oversized = (
        ids.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket)
        .select("bucket")
    )
    ids = ids.join(oversized, "bucket", "left_anti")
    bucketed = e.join(ids, id_col)
    a = bucketed.select(
        F.col("bucket"),
        F.col(id_col).alias("vec_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = bucketed.select(
        F.col("bucket"),
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # TRIL + mirror: the dim-length dot-product fold is the hot
    # expression of the self-join output, and cosine is symmetric — so
    # compute it once per unordered pair (vec_id < neighbor_id, the
    # reference's triangle option as a join predicate,
    # /root/reference/src/cuTWED.h:24-26) and emit the mirrored row by
    # column swap. Halves the fold work and the dedup input.
    tril = (
        a.join(b, "bucket")
        .where(F.col("vec_id") < F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
    )
    if n_tables > 1:
        # a pair colliding in several tables must rank once
        tril = tril.dropDuplicates(["vec_id", "neighbor_id"])
    cand = tril.unionByName(
        tril.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cos",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cos", "rank")
    )


def ivf_assignments(
    emb: DataFrame, n_cells: int = 16, n_probe: int = 2, id_col: str = "vec_id"
) -> DataFrame:
    """IVF coarse quantization: deterministic centroids (the first
    ``n_cells`` vectors in md5-of-id order — reproducible in any engine,
    no RNG/iteration state to ship), every vector ranked against all
    centroids by cosine. Output: (vec_id, cell_id, cell_rank) with
    cell_rank 1..n_probe — rank 1 is the home cell (inverted-list
    membership), ranks 2..n_probe are the probe cells used at query
    time. The centroid table is O(n_cells) and legitimately
    broadcastable; assignment is a narrow map over the broadcast, so
    this scales as one pass over the corpus."""
    from pyspark.sql.window import Window

    e = with_double_embedding(emb).select(
        F.col(id_col), "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    # orderBy().limit() compiles to a distributed TakeOrdered (no
    # global sort shuffle); the single-partition row_number window then
    # runs over only n_cells rows.
    cent_base = (
        e.withColumn("_m", F.md5(F.col(id_col).cast("string")))
        .orderBy("_m", id_col)
        .limit(n_cells)
    )
    cent_w = Window.orderBy("_m", id_col)
    centroids = cent_base.select(
        F.row_number().over(cent_w).alias("cell_id"),
        F.col("embedding").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )
    sim = (
        e.crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            "cell_id",
            (_dot(F.col("embedding"), F.col("cvec"))
             / (F.col("nrm") * F.col("cnrm"))).alias("csim"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cell_id"))
    return (
        sim.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= n_probe)
        .select(id_col, "cell_id", "cell_rank")
    )


def ivf_cosine_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: coarse-quantize to cells, probe each query's n_probe
    nearest cells, exact cosine re-rank among the vectors HOMED there.
    Output: (vec_id, neighbor_id, cos, rank). The second ANN family
    next to the random-hyperplane LSH path — IVF recall degrades
    gracefully with cluster structure (probe more cells) where LSH
    recall is set by n_planes. Measured law on UNclustered embeddings
    (the worst case): recall@5 ~ n_probe/n_cells (0.31 @ 2/16, 0.49 @
    4/16, 0.76 @ 8/16 on the bench corpus); clustered corpora recover
    most neighbors from the home cell alone, so the probe fraction is
    the recall budget knob. n_cells should grow ~sqrt(n) at scale so
    cell lists stay O(sqrt(n))."""
    from pyspark.sql.window import Window

    # Persisted: `assign` (compact — id + cell + rank) encodes the
    # centroid crossJoin + ranking window and feeds homes AND probes.
    # The array-bearing `e` is NOT persisted — caching vector payloads
    # loses to re-scanning parquet (A/B at sf0.1: 3.6 s with e persisted
    # vs 2.8 s assign-only vs 7.6 s no persist). cache_scope() releases.
    assign = scoped_persist(ivf_assignments(emb, n_cells, n_probe, id_col))
    e = with_double_embedding(emb).select(
        F.col(id_col), "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    homes = assign.where(F.col("cell_rank") == 1).select(
        F.col(id_col).alias("neighbor_id"), "cell_id"
    )
    probes = assign.select(F.col(id_col).alias("vec_id"), "cell_id")
    a = e.select(
        F.col(id_col).alias("vec_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cand = (
        probes.join(homes, "cell_id")
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .dropDuplicates(["vec_id", "neighbor_id"])
        .join(a, "vec_id")
        .join(b, "neighbor_id")
        .select(
            "vec_id",
            "neighbor_id",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cos", "rank")
    )


def topk_neighbors(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    n_planes: int | None = None,
    target_bucket: int = 256,
    max_bucket: int = 4096,
    n_tables: int = 4,
) -> DataFrame:
    """DEFAULT top-k neighbor API — the one to grab for "top-k
    neighbors". Routes to the bucketed LSH path (scale-safe: no driver
    collect, no all-pairs join) with n_planes auto-sized to the corpus
    via ``suggest_n_planes`` unless given, and ``n_tables`` independent
    tables for recall (measured recall@5 on the bench corpus:
    0.15 single-table -> ~0.45 at the default 4 tables; cost grows
    linearly in tables). For exact results on small calibration sets
    call ``cosine_topk`` explicitly (guarded by max_rows). Auto-sizing
    n_planes costs one count() of the input; pass ``n_planes``
    explicitly to skip it."""
    if n_planes is None:
        n_planes = suggest_n_planes(emb.count(), target_bucket)
    return lsh_cosine_topk(
        emb,
        dim,
        k=k,
        n_planes=n_planes,
        id_col=id_col,
        max_bucket=max_bucket,
        n_tables=n_tables,
    )


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.95, id_col: str = "vec_id"
) -> DataFrame:
    """Embedding-cosine near-duplicate edges (dedup operator) —
    EXACT all-pairs formulation (crossJoin + TRIL): the correctness
    baseline for calibration-sized tables. At corpus scale use
    ``embedding_near_dup_pairs_lsh`` (bucketed, no all-pairs join)."""
    return cosine_pairs(emb, id_col).where(F.col("cos") >= threshold)


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    max_bucket: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-dup edges, LSH-bucketed — the scale path:
    only same-bucket pairs are compared (O(sum bucket^2), not O(n^2)).
    High-cosine pairs collide with probability (1 - theta/pi)^n_planes,
    so recall < 1 by design and rises as threshold -> 1; size n_planes
    with ``suggest_n_planes`` and cap pathological buckets like
    ``lsh_cosine_topk``. Output: (vec_id_a, vec_id_b, cos)."""
    e = with_double_embedding(emb).select(
        F.col(id_col), "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    # persist the compact bucket-id table (hyperplane dot products),
    # never the array-bearing join — see lsh_cosine_topk's A/B note;
    # cache_scope() releases
    ids = scoped_persist(lsh_bucket_ids(emb, dim, n_planes, id_col))
    oversized = (
        ids.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket)
        .select("bucket")
    )
    ids = ids.join(oversized, "bucket", "left_anti")
    bucketed = e.join(ids, id_col)
    a = bucketed.select(
        "bucket",
        F.col(id_col).alias("vec_id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = bucketed.select(
        "bucket",
        F.col(id_col).alias("vec_id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "bucket")
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
