"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk_bruteforce` — exact top-k: broadcast the (small) query
  side against the corpus, dot products via ``F.aggregate``/``zip_with``
  (JVM-side). The correctness baseline.
* :func:`cosine_topk_arrow` — same exact semantics, but the corpus side is
  streamed through a vectorized Arrow `mapInPandas` doing one numpy matmul
  per batch against the broadcast query matrix — the throughput path when
  the query set is big enough that per-row expression evaluation loses to
  BLAS.
* :func:`lsh_bucket_topk` — approximate scale path: random-hyperplane LSH
  signatures bucket the corpus; only same-bucket pairs are scored. At 100 TB
  the corpus shuffle is O(rows), not O(rows × queries).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches by id).
    Query side is broadcast — corpus is scanned once, no corpus shuffle
    except the final per-query top-k (tiny)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity_col(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via one numpy matmul per Arrow batch. ``queries_pdf`` is a
    small pandas frame (id, vector) shipped in the UDF closure (broadcast)."""
    q_ids = queries_pdf[id_col].to_numpy()
    q_mat = np.stack(queries_pdf[vec_col].to_list()).astype(np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            c_mat = np.stack(b[vec_col].to_list()).astype(np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ q_mat.T  # (batch, queries)
            n = len(b)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(b[id_col].to_numpy(), len(q_ids)),
                    "cosine": sims.T.reshape(-1),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    ).where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplane_signature(vec_col, planes: list[list[float]]):
    """Random-hyperplane LSH signature: bit b = sign(v · plane_b). Planes are
    literal arrays (deterministic, seeded by the caller)."""
    sig = F.lit(0).cast("long")
    for b, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        sig = sig + F.when(d > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    planes_per_band: int = 3,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-band random-hyperplane LSH: a (query,
    corpus) pair is scored iff it shares ANY band's bucket (OR-amplification
    — recall ≈ 1−(1−p^r)^b). The corpus is shuffled once on (band, bucket);
    at scale this replaces the O(corpus × queries) cross product with
    posting-list joins, the bucketed-ANN shape (IVF-like)."""
    c_sides, q_sides = [], []
    for band in range(n_bands):
        planes = make_planes(dim, planes_per_band, seed + band * 1000)
        c_sides.append(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                F.lit(band).alias("band"),
                hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
            )
        )
        q_sides.append(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"),
                F.lit(band).alias("band"),
                hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
            )
        )
    import functools

    c = functools.reduce(lambda a, b: a.unionByName(b), c_sides)
    q = functools.reduce(lambda a, b: a.unionByName(b), q_sides)
    cand = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_similarity_col(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    tau_num: int = 3,
    tau_den: int = 10,
    scale: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: IVF-style coarse-cluster
    blocking + an EXACT integer-quantized cosine threshold.

    Candidates are generated only within a coarse cluster (``block_col`` —
    a k-means/IVF assignment or any deterministic partition of the corpus),
    which replaces the O(n²) all-pairs cross product with per-cluster
    self-joins: one shuffle on the block key, skewed mega-clusters salvable
    by sub-bucketing with :func:`hyperplane_signature`.  This is the
    dedup-flavored sibling of :func:`lsh_bucket_topk` (pairs over a
    threshold rather than top-k per query).

    The threshold test avoids floats entirely: components are quantized to
    integers (``round(x·scale)``), and ``cos(a,b) ≥ τ`` with τ =
    tau_num/tau_den is evaluated as

        dot(qa,qb) > 0  AND  tau_den²·dot² ≥ tau_num²·|qa|²·|qb|²

    — exact integer arithmetic inside whole-stage codegen, bit-reproducible
    across engines and cluster widths (no summation-order or rounding-mode
    drift).  dot/|q|² accumulate in int64 (safe up to |component| ≈ 10⁵ at
    scale=10⁴, i.e. vectors hundreds of times past unit norm); the
    threshold products are widened to decimal(38,0) so even such
    far-from-unit vectors compare exactly instead of overflowing (DuckDB
    promotes the same expressions to HUGEINT).
    """
    q = df.select(
        F.col(id_col),
        F.col(block_col),
        F.expr(
            f"transform({vec_col}, x ->"
            f" cast(round(cast(x as double) * {int(scale)}) as bigint))"
        ).alias("qv"),
    ).withColumn(
        "n2", F.expr("aggregate(transform(qv, x -> x * x), 0L, (a, v) -> a + v)")
    )
    a, b = q.alias("a"), q.alias("b")
    num, den = tau_num * tau_num, tau_den * tau_den
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn(
            "dot",
            F.expr("aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y),"
                   " 0L, (acc, v) -> acc + v)"),
        )
        .where(
            (F.col("dot") > 0)
            & (F.lit(den) * F.col("dot").cast("decimal(38,0)")
               * F.col("dot").cast("decimal(38,0)")
               >= F.lit(num) * F.col("a.n2").cast("decimal(38,0)")
               * F.col("b.n2").cast("decimal(38,0)"))
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{block_col}").alias(block_col),
        )
    )


def _dot_literal(vec_col, cent: list[float]):
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(float(x)) for x in cent]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Distributed Lloyd k-means coarse quantizer (the IVF training step).

    Deterministic init: the ``n_centroids`` rows with the smallest
    ``md5(id)`` — a seedless uniform sample that is stable under
    repartitioning and replay.  Each iteration assigns every row to its
    nearest centroid JVM-side (literal-array dot products, whole-stage
    codegen — centroids are driver-known and tiny), then recomputes means
    distributed: ``posexplode`` the vectors and partial-agg ``avg`` per
    ``(cluster, dim_idx)`` — two map-side-combining shuffles per iteration,
    no driver-side data beyond the k×dim centroid matrix.  Empty clusters
    keep their previous centroid.
    """
    init = (
        df.select(F.col(vec_col).alias("v"),
                  F.md5(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h").limit(n_centroids).collect()
    )
    cents = [[float(x) for x in r["v"]] for r in init]
    for _ in range(iters):
        assigned = assign_clusters(df, cents, vec_col=vec_col).select(
            "cluster", F.col(vec_col).alias("v"))
        upd = (
            assigned.select("cluster", F.posexplode("v").alias("i", "x"))
            .groupBy("cluster", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cluster")
            .agg(F.sort_array(F.collect_list(F.struct("i", "m"))).alias("s"))
            .collect()
        )
        nxt = list(cents)
        for r in upd:
            nxt[r["cluster"]] = [e["m"] for e in r["s"]]
        cents = nxt
    return cents


def assign_clusters(
    df: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Attach the nearest-centroid id(s) by cosine (centroids normalized
    driver-side; the row's own norm is constant across centroids so argmax
    over normalized-centroid dots IS the cosine argmax).  ``nprobe`` > 1
    explodes each row into its ``nprobe`` best clusters — the IVF query-side
    multi-probe.  Pure map side: zero shuffles, deterministic ties (lowest
    cluster id wins via the struct sort)."""
    import math

    ncents = []
    for c in cents:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        ncents.append([x / n for x in c])
    scores = F.array(*[_dot_literal(F.col(vec_col), c) for c in ncents])
    ranked = F.reverse(F.array_sort(F.transform(
        F.sequence(F.lit(0), F.lit(len(ncents) - 1)),
        lambda i: F.struct(
            F.element_at(scores, i + 1).alias("s"),
            (-i).cast("long").alias("negc"),
        ),
    )))
    if nprobe <= 1:
        return df.withColumn("cluster", (-F.element_at(ranked, 1)["negc"]).cast("int"))
    return (
        df.withColumn("__probe", F.explode(F.slice(ranked, 1, nprobe)))
        .withColumn("cluster", (-F.col("__probe")["negc"]).cast("int"))
        .drop("__probe")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k by IVF (inverted-file) coarse quantization — the
    other canonical 100 TB ANN shape next to :func:`lsh_bucket_topk`.

    Train a k-means coarse quantizer on the corpus, assign each corpus row
    to its single nearest centroid, probe each query against its ``nprobe``
    nearest centroids, and score cosine only on same-cell pairs.  The
    corpus is never shuffled: the query side (exploded ×nprobe) is
    broadcast, so candidate generation is a broadcast hash join on the
    cell id against the map-side corpus scan; only the final per-query
    top-k (candidate-sized, not corpus-sized) shuffles.  A corpus row sits
    in one cell and a query's probe cells are distinct, so no (query,
    neighbor) pair repeats and candidates need no dedup.  Recall improves
    with ``nprobe`` (exact when nprobe = n_centroids — every cell probed).
    """
    cents = kmeans_centroids(corpus, id_col=id_col, vec_col=vec_col,
                             n_centroids=n_centroids, iters=iters)
    c = assign_clusters(corpus, cents, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "cluster")
    q = assign_clusters(queries, cents, vec_col=vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "cluster")
    cand = (
        c.join(F.broadcast(q), "cluster")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
    )
    scored = cand.select(
        "query_id", "neighbor_id",
        cosine_similarity_col(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
