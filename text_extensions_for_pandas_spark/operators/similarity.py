"""Similarity search over embedding columns (``ARRAY<FLOAT>``).

Beyond-reference surface (BASELINE.json north star).  The tiers:

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set, score every corpus vector with JVM-side higher-order functions
  (``zip_with`` + ``aggregate``; no Python, no shuffle until the final
  per-query top-k window), then ``row_number`` per query.
* ``ivf_assign`` / ``ivf_topk`` — IVF-style scale path: assign each vector
  to its nearest centroid once (an O(n·k) narrow map, cosine or l2), then
  restrict query scoring to the ``nprobe`` nearest clusters — at 100 TB
  this turns a full scan per query into a pruned partition read (pair it
  with ``partitionBy(cluster_id)`` at write time).
* ``lsh_hyperplane_buckets`` / ``lsh_topk`` — training-free signed-random-
  projection bucketing.
* ``pq_fit`` / ``pq_encode`` / ``pq_topk`` — product quantization: the
  index shrinks 32-64x (m small codes per vector) and queries score via
  broadcast per-query lookup tables (ADC).
* ``ivfpq_topk`` — the faiss IndexIVFPQ composition: nprobe cluster
  pruning over the compressed codes.
* ``kmeans_fit`` — deterministic distributed Lloyd's (cosine or l2),
  training both the IVF centroids and the PQ subspace codebooks.

All arithmetic is double-precision sequential fold over the array — the
same order DuckDB's ``list_sum(list_transform(...))`` uses, so results are
oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage
from text_extensions_for_pandas_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is a (query_id, embedding) DataFrame — broadcast.  Output:
    ``(query_id, neighbor_id, score, rank)``; self-matches excluded;
    deterministic tie-break on neighbor id.
    """
    # norms are computed ONCE per vector on each side, not per pair — the
    # per-factor expression is unchanged (same sequential fold, same
    # double), so scores stay bit-identical to the naive form while the
    # dominant array-fold work drops ~3× (dot only, not dot + two norms)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    scored = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vec"),
        norm(F.col(vec_col)).alias("__vn"),
    ).crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("__qvec"), F.col("__vec"))
            / (F.col("__qn") * F.col("__vn"))
        ).alias("__score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__score", 6).alias("score"),
            "rank",
        )
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    metric: str = "cosine",
) -> DataFrame:
    """Assign each vector to its nearest centroid by ``metric`` —
    ``"cosine"`` (the IVF default) or ``"l2"`` (what product quantization
    wants; near-zero subvectors make cosine unstable there).  Ties →
    lowest centroid id.  Centroids are broadcast; the per-vector argmax is
    a ``max_by`` aggregate (map-side combinable partial, one narrow
    shuffle of (vec, best) pairs) rather than a window ``row_number``.
    The array-valued buffer makes it a SortAggregate, not a hash
    aggregate — the deliberate trade: a single pass over the expensive
    N×k dot-product stream beats re-deriving it to enable a hash-based
    two-step argmax."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    if metric == "cosine":
        score = dot(F.col(vec_col), F.col("__cvec")) / (
            F.col("__vn") * F.col("__cn")
        )
    else:
        # max_by semantics kept: NEGATED squared L2 so "highest wins"
        score = -F.aggregate(
            F.zip_with(
                F.col(vec_col), F.col("__cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    # per-vector norm computed once, not once per centroid (bit-identical
    # scores: each cosine factor is the same fold as before)
    scored = embeddings.withColumn("__vn", norm(F.col(vec_col))).crossJoin(
        F.broadcast(c)
    ).select(
        *embeddings.columns,
        "__cid",
        score.alias("__score"),
    )
    others = [col for col in embeddings.columns if col != id_col]
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(*others, F.col("__cid").alias("cluster_id")),
            # highest score wins; ties -> lowest centroid id
            F.struct(F.col("__score"), -F.col("__cid")),
        ).alias("__best")
    )
    return best.select(id_col, "__best.*")


def embedding_near_dups(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, cluster-bucketed.

    All-pairs cosine is O(n²) — ruinous at corpus scale.  Bucketing by
    nearest centroid (IVF-style) turns it into a self-equijoin *within
    clusters*: pairs in different clusters are never scored.  Recall is
    approximate at cluster borders (standard IVF trade — raise the cluster
    count for precision, or probe neighbors).  Returns
    ``(vec_a, vec_b, cosine)`` with ``vec_a < vec_b``, cosine ≥ threshold.
    """
    # precompute each vector's norm once — cosine per pair then needs a
    # single dot, not dot + two norms (array folds are the expensive part)
    assigned = (
        ivf_assign(embeddings, centroids, id_col, vec_col)
        .select("cluster_id", F.col(id_col), F.col(vec_col))
        .withColumn("__norm", norm(F.col(vec_col)))
    )
    rhs = assigned.select(
        F.col("cluster_id").alias("__rc"),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    pairs = assigned.join(
        rhs,
        (F.col("cluster_id") == F.col("__rc")) & (F.col(id_col) < F.col("vec_b")),
    )
    return pairs.select(
        F.col(id_col).alias("vec_a"),
        "vec_b",
        (dot(F.col(vec_col), F.col("__vb")) / (F.col("__norm") * F.col("__nb"))).alias(
            "cosine"
        ),
    ).filter(F.col("cosine") >= threshold)


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Approximate top-k: score only vectors in each query's ``nprobe``
    nearest clusters.  ``assigned`` is the output of :func:`ivf_assign`."""
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    # per query: nprobe nearest centroids
    qc = q.crossJoin(F.broadcast(c)).select(
        "query_id", "__qvec", "__cid",
        cosine(F.col("__qvec"), F.col("__cvec")).alias("__cscore"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__cscore").desc(), F.col("__cid").asc()
    )
    probes = (
        qc.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(
            "query_id",
            "__qvec",
            norm(F.col("__qvec")).alias("__qn"),
            F.col("__cid").alias("cluster_id"),
        )
    )
    # per-vector norm once (not per probed query): bit-identical scores,
    # ~3× less array-fold work in the candidate scoring stage
    scored = assigned.withColumn("__vn", norm(F.col(vec_col))).join(
        F.broadcast(probes), "cluster_id"
    ).filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (
            dot(F.col("__qvec"), F.col(vec_col))
            / (F.col("__qn") * F.col("__vn"))
        ).alias("__score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__score", 6).alias("score"), "rank")
    )


def _lsh_weights(n_tables: int, n_planes: int, dims: int) -> list[tuple[int, int, int, int]]:
    """Deterministic hyperplane weights: one 16-bit centered integer per
    (table, plane, dim), from a linear congruential generator over the flat
    index.  Integer-exact, so any engine reproduces them bit-for-bit."""
    out = []
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dims):
                i = (t * n_planes + p) * dims + d
                out.append((t, p, d, ((1103515245 * i + 12345) % 65536) - 32768))
    return out


#: quantization scale for LSH sign tests — embeddings are mapped to
#: ``floor(value * 2**24)`` so every dot product is **integer** arithmetic:
#: order-independent, overflow-safe (|v|<2^24·2^5, |w|<2^15, 64 dims →
#: |sum| < 2^50), and bit-identical across engines.  A double-precision
#: fold could flip a sign bit near zero under partition reordering.
_LSH_QUANT = float(1 << 24)


def lsh_hyperplane_buckets(
    vectors: DataFrame,
    n_tables: int = 4,
    n_planes: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Signed-random-projection LSH: one bucket id per (vector, hash table).

    Each of ``n_tables`` tables hashes a vector to an ``n_planes``-bit
    bucket — bit *p* is the sign of the vector's dot product with
    hyperplane *p*.  Cosine-similar vectors agree on most signs, so near
    neighbors collide in at least one table with high probability
    (Charikar 2002 SimHash/SRP scheme, applied to dense embeddings).

    Physical shape (the 100 TB story): ``posexplode`` the vector, join the
    tiny broadcast weight table, then ONE hash aggregate per (vector,
    table) computing all plane dots as conditional sums — map-side
    combinable, whole-stage codegen, no per-row Python, no array
    higher-order folds (which don't codegen).  The output is the index:
    persist it partitioned by (table_id, bucket) and candidate generation
    becomes a pruned equijoin instead of an O(n·q) scan.
    """
    spark = vectors.sparkSession
    wdf = local_frame(
        spark, _lsh_weights(n_tables, n_planes, dims), "t INT, p INT, d INT, w LONG"
    )
    exploded = vectors.select(
        id_col, F.posexplode(vec_col).alias("d", "__v")
    ).withColumn(
        "__vq", F.floor(F.col("__v").cast("double") * F.lit(_LSH_QUANT))
    )
    dot_aggs = [
        F.sum(F.when(F.col("p") == p, F.col("__vq") * F.col("w"))).alias(f"__d{p}")
        for p in range(n_planes)
    ]
    dots = exploded.join(F.broadcast(wdf), "d").groupBy(id_col, "t").agg(*dot_aggs)
    bucket: Column = F.lit(0)
    for p in range(n_planes):
        bucket = bucket + F.when(F.col(f"__d{p}") >= 0, F.lit(1 << p)).otherwise(0)
    return dots.select(
        id_col,
        F.col("t").alias("table_id"),
        bucket.cast("long").alias("bucket"),
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 4,
    n_planes: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors via LSH bucketing — the
    complement of :func:`ivf_topk` (hash-bucket recall instead of
    centroid-probe recall; no training step).

    Candidates = corpus vectors sharing a bucket with the query in ANY
    table (union over tables, deduplicated), then exact cosine only on
    candidates.  Returns ``(query_id, neighbor_id, score, rank)``.
    """
    vb = lsh_hyperplane_buckets(embeddings, n_tables, n_planes, dims, id_col, vec_col)
    qb = lsh_hyperplane_buckets(queries, n_tables, n_planes, dims, id_col, vec_col)
    cands = (
        vb.join(
            F.broadcast(qb.select(F.col(id_col).alias("query_id"), "table_id", "bucket")),
            ["table_id", "bucket"],
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    nv = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__nvec"),
        norm(F.col(vec_col)).alias("__nn"),
    )
    scored = (
        cands.join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qvec"), F.col("__nvec"))
                / (F.col("__qn") * F.col("__nn"))
            ).alias("__score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__score", 6).alias("score"), "rank")
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Train IVF centroids with Lloyd's k-means, entirely as DataFrame
    plans — the missing piece between ``ivf_assign`` (which takes centroids
    as given) and a real IVF index.

    * init: the ``k`` vectors with the lowest ids (deterministic — no
      sampling, so retries/reruns converge identically);
    * assign: one O(n·k) narrow pass (``ivf_assign``, broadcast centroids);
    * update: per-dimension means via posexplode + hash aggregate, summed
      through DECIMAL so the result is independent of partition order —
      bit-identical across runs and cluster layouts;
    * each round is one shuffle of (cluster, dim) partial sums; lineage is
      cut per round with ``localCheckpoint`` so the plan stays flat.

    Empty clusters keep their previous centroid.  Returns
    ``(centroid_id, embedding ARRAY<DOUBLE>)``.
    """
    from pyspark.sql import Window as W

    centroids = (
        embeddings.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(W.orderBy(id_col)) - 1)
            .cast("int")
            .alias("centroid_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        .transform(cut_lineage, eager=True)
    )
    for _ in range(iterations):
        assigned = ivf_assign(
            embeddings, centroids, vec_col=vec_col, id_col=id_col, metric=metric
        )
        dims = assigned.select(
            "cluster_id",
            F.posexplode(
                F.transform(
                    vec_col,
                    lambda x: x.cast("string").cast("decimal(38,18)"),
                )
            ).alias("dim", "__v"),
        )
        new_centroids = (
            dims.groupBy("cluster_id", "dim")
            .agg(
                (F.sum("__v").cast("double") / F.count("*")).alias("__m")
            )
            .groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "__m"))
                ).alias("__parts")
            )
            .select(
                F.col("cluster_id").alias("centroid_id"),
                F.transform("__parts", lambda s: s["__m"]).alias(
                    "embedding"
                ),
            )
        )
        # empty clusters keep their previous centroid
        centroids = (
            centroids.join(
                new_centroids.select(
                    F.col("centroid_id").alias("__cid"),
                    F.col("embedding").alias("__emb"),
                ),
                F.col("centroid_id") == F.col("__cid"),
                "left",
            )
            .select(
                "centroid_id",
                F.coalesce("__emb", "embedding").alias("embedding"),
            )
            .transform(cut_lineage, eager=True)
        )
    return centroids


def pq_fit(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train product-quantization codebooks (Jegou et al., TPAMI'11):
    split every vector into ``m`` contiguous subvectors and k-means each
    subspace independently (L2 metric, :func:`kmeans_fit` — deterministic
    init, DECIMAL-summed updates, so codebooks are bit-identical across
    runs).

    Returns ``(sub_id, centroid_id, embedding)`` — ``m * k`` rows, the
    whole model.  With ``m=8, k=16`` a 64-dim float vector compresses to
    8 4-bit codes: a 64x smaller index, the difference between an
    embedding store that fits in executor memory at 100 TB corpus scale
    and one that doesn't.

    Scale shape: ``m`` independent k-means plans over sliced columns
    (slicing is narrow); the driver loop is over SUBSPACES (a model
    hyperparameter, never data-sized).
    """
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_fit: embeddings frame is empty")
    dims = first["d"]
    if dims % m != 0:
        raise ValueError(f"vector dims {dims} not divisible by m={m}")
    sub = dims // m
    books = []
    for s in range(m):
        sliced = embeddings.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias(vec_col),
        )
        cb = kmeans_fit(
            sliced, k=k, iterations=iterations, vec_col=vec_col,
            id_col=id_col, metric="l2",
        )
        books.append(
            cb.select(
                F.lit(s).cast("int").alias("sub_id"),
                "centroid_id",
                "embedding",
            )
        )
    out = books[0]
    for b in books[1:]:
        out = out.unionByName(b)
    return out


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
    sub: int | None = None,
) -> DataFrame:
    """Compress each vector to its PQ codes: per subspace, the id of the
    L2-nearest codebook centroid.  Returns ``(id_col, codes ARRAY<INT>)``
    — ``codes[sub_id]`` is the centroid index, the only thing the index
    stores per vector.

    Scale shape: vectors explode to ``m`` subvector rows (narrow), join
    the broadcast ``m*k``-row codebook on ``sub_id``, and the argmin is a
    ``min_by`` aggregate with map-side partials — two shuffles of
    ``m`` rows per vector, no all-pairs, no Python.
    """
    # the two model hyperparameters are a one-row scalar probe of the
    # codebooks when unknown — but that probe is a full (small) Spark job,
    # and callers that BUILT the codebooks know (m, sub) statically, so
    # accepting them skips one sequential driver-blocking job per call
    # (guide §1.2: don't compute what you already know)
    if m is None or sub is None:
        sub_rows = codebooks.select(
            F.max(F.col("sub_id")).alias("m"), F.min(F.size("embedding")).alias("s")
        ).first()
        if sub_rows is None or sub_rows["m"] is None:
            raise ValueError("pq_encode: codebooks frame is empty")
        m, sub = int(sub_rows["m"]) + 1, int(sub_rows["s"])
    subs = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[F.slice(F.col(vec_col), s * sub + 1, sub) for s in range(m)]
            )
        ).alias("sub_id", "__sv"),
    )
    cb = codebooks.select(
        "sub_id", F.col("centroid_id").alias("__cid"),
        F.col("embedding").alias("__cvec"),
    )
    dist = F.aggregate(
        F.zip_with(F.col("__sv"), F.col("__cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = (
        subs.join(F.broadcast(cb), "sub_id")
        .select(id_col, "sub_id", "__cid", dist.alias("__d"))
        .groupBy(id_col, "sub_id")
        # nearest centroid; ties -> lowest centroid id
        .agg(F.min_by("__cid", F.struct(F.col("__d"), F.col("__cid"))).alias("__code"))
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "__code"))),
            lambda st: st["__code"],
        ).alias("codes")
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k inner-product search over a
    PQ-compressed corpus: queries stay exact, corpus vectors are their
    codes, and ``score(q, x) ~= sum_sub <q_sub, codebook[sub][code]>``.
    Normalize the corpus before :func:`pq_encode` to make the ranking
    cosine.  Output matches :func:`brute_force_topk`:
    ``(query_id, neighbor_id, score, rank)``, self-matches excluded.

    Scale shape: the per-query lookup tables (``m * k`` partial inner
    products per query) come from queries × broadcast codebooks — LUT
    size is hyperparameters × queries, never corpus.  Code rows explode
    to ``m`` per vector, equijoin the broadcast LUT on
    ``(sub_id, code)``, and per-(query, vector) sums are map-side
    combinable.  Like the exact tier this scans all N codes per query —
    the PQ win is ``m`` additions per pair instead of ``d``
    multiplications, over an index 32-64x smaller; bucket with
    :func:`ivf_assign` for sublinear candidate sets (IVF-PQ).
    """
    if sub is None:
        sub_rows = codebooks.select(
            F.min(F.size("embedding")).alias("s")
        ).first()
        if sub_rows is None or sub_rows["s"] is None:
            raise ValueError("pq_topk: codebooks frame is empty")
        sub = int(sub_rows["s"])
    lut = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
        .crossJoin(
            F.broadcast(
                codebooks.select(
                    "sub_id",
                    F.col("centroid_id").alias("__cid"),
                    F.col("embedding").alias("__cvec"),
                )
            )
        )
        .select(
            "query_id",
            "sub_id",
            "__cid",
            dot(
                F.slice(F.col("__qvec"), F.col("sub_id") * sub + 1, F.lit(sub)),
                F.col("__cvec"),
            ).alias("__ip"),
        )
    )
    crows = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("sub_id", "__cid"),
    )
    scored = (
        crows.join(F.broadcast(lut), ["sub_id", "__cid"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__ip").alias("__score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__score", 6).alias("score"),
            "rank",
        )
    )


def ivfpq_topk(
    assigned: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    metric: str = "cosine",
    sub: int | None = None,
) -> DataFrame:
    """IVF-PQ (the faiss ``IndexIVFPQ`` composition, re-expressed as
    joins): coarse-quantize with IVF so each query touches only its
    ``nprobe`` nearest clusters, then rank those candidates by
    asymmetric PQ distance over the compressed codes — sublinear
    candidate sets AND a 32-64x smaller index, the pairing that makes
    100 TB embedding search tractable.

    Inputs compose the two index artifacts: ``assigned`` =
    :func:`ivf_assign` (vec -> cluster), ``codes`` = :func:`pq_encode`,
    plus both models (``centroids``, ``codebooks``).  Output contract
    matches the other tiers: ``(query_id, neighbor_id, score, rank)``.

    Scale shape: probe selection is queries × broadcast centroids; the
    candidate set is codes ⋈ broadcast (query, cluster) probes — a
    partition-pruned read when the code table is written
    ``partitionBy(cluster_id)``; ADC scoring explodes candidates to
    ``m`` rows and equijoins the broadcast per-query LUT on
    ``(query_id, sub_id, code)`` with a map-side-combinable sum.  No
    stage ever materializes query × corpus.
    """
    if sub is None:
        sub_first = codebooks.select(
            F.min(F.size("embedding")).alias("s")
        ).first()
        if sub_first is None or sub_first["s"] is None:
            raise ValueError("ivfpq_topk: codebooks frame is empty")
        sub = int(sub_first["s"])
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    if metric == "cosine":
        cscore = cosine(F.col("__qvec"), F.col("__cvec"))
    else:
        # match an l2-built IVF index (negated squared L2, highest wins) —
        # probing with the wrong metric silently misses the clusters the
        # true neighbors were assigned to
        cscore = -F.aggregate(
            F.zip_with(
                F.col("__qvec"), F.col("__cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    qc = q.crossJoin(F.broadcast(c)).select(
        "query_id", "__qvec", "__cid", cscore.alias("__cscore"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__cscore").desc(), F.col("__cid").asc()
    )
    probes = (
        qc.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", F.col("__cid").alias("cluster_id"))
    )
    lut = (
        q.crossJoin(
            F.broadcast(
                codebooks.select(
                    "sub_id",
                    F.col("centroid_id").alias("__code"),
                    F.col("embedding").alias("__bvec"),
                )
            )
        )
        .select(
            F.col("query_id").alias("__lq"),
            "sub_id",
            "__code",
            dot(
                F.slice(F.col("__qvec"), F.col("sub_id") * sub + 1, F.lit(sub)),
                F.col("__bvec"),
            ).alias("__ip"),
        )
    )
    candidates = (
        codes.join(assigned.select(id_col, "cluster_id"), id_col)
        .join(F.broadcast(probes), "cluster_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "codes")
    )
    scored = (
        candidates.select(
            "query_id", "neighbor_id", F.posexplode("codes").alias("__s", "__c")
        )
        .join(
            F.broadcast(lut),
            (F.col("query_id") == F.col("__lq"))
            & (F.col("__s") == F.col("sub_id"))
            & (F.col("__c") == F.col("__code")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__ip").alias("__score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__score", 6).alias("score"),
            "rank",
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop semantic near-duplicates that
    share no surface text — embeddings are IVF-bucketed, within-cluster
    cosine pairs above ``threshold`` become edges, connected components
    group the duplicates, and the lowest id of every component is kept.

    A pure composition of verified operators
    (:func:`embedding_near_dups` → ``graph.connected_components``); named
    because it's the recognized recipe.  Returns one row per input
    vector: ``(id_col, component, cluster_size, keep)`` — ``component``
    is null for vectors with no semantic duplicate (always kept).

    Scale shape: inherits the IVF bucketing (never all-pairs) and the
    O(log diameter) label propagation; the keep decision is one min
    aggregate over the (cluster-member-sized) component table.
    """
    from text_extensions_for_pandas_spark.operators.graph import (
        connected_components,
    )

    pairs = embedding_near_dups(
        embeddings, centroids, threshold, id_col, vec_col
    ).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cc = connected_components(pairs)
    # connected_components labels every node with the MINIMUM reachable
    # id, so the keeper of a component is simply id == component — no
    # extra min aggregate needed
    labeled = cc.join(
        cc.groupBy("component").agg(F.count("*").alias("cluster_size")),
        "component",
    )
    return (
        embeddings.select(id_col)
        .join(labeled.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            "component",
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            (
                F.col("component").isNull()
                | (F.col(id_col) == F.col("component"))
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Durable IVF-PQ index: write once, partition-pruned search forever
# ---------------------------------------------------------------------------

def write_ivfpq_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    m: int | None = None,
    sub: int | None = None,
) -> None:
    """Materialize the IVF-PQ index as an on-disk artifact:

    * ``{path}/codes`` — the PQ codes, ``partitionBy(cluster_id)`` so a
      search touching ``nprobe`` clusters READS ``nprobe`` directories
      (real partition pruning, asserted on-disk in tests — the property
      the in-memory tier can only claim);
    * ``{path}/centroids``, ``{path}/codebooks`` — the model tables.

    This is the shape a 100 TB embedding corpus actually serves from: the
    corpus is scanned once at build time; every subsequent query reads
    ``nprobe/k_clusters`` of a 32-64x compressed code table and never the
    raw vectors.
    """
    codes = pq_encode(embeddings, codebooks, id_col, vec_col, m=m, sub=sub)
    assigned = ivf_assign(
        embeddings, centroids, id_col, vec_col, metric=metric
    ).select(id_col, "cluster_id")
    joined = (
        codes.join(assigned, id_col)
        # cluster the write so each cluster_id directory gets few files
        # instead of (write tasks × clusters) shards (guide-of-record file
        # sizing: a pruned search then opens ~nprobe files, not nprobe ×
        # shuffle_partitions).  The deterministic doc-hash SALT keeps the
        # write parallel: bare repartition(cluster_id) funnels the whole
        # corpus-scale code table into k_clusters tasks and a hot cluster
        # into ONE (straggler/OOM risk at scale — same fix as the band
        # index writes); AQE coalesces the mostly-empty (cluster, salt)
        # groups away at small scale so file counts stay small.
        .repartition(
            F.col("cluster_id"),
            F.pmod(
                F.xxhash64(F.col(id_col)),
                F.lit(
                    int(
                        embeddings.sparkSession.conf.get(
                            "spark.sql.shuffle.partitions", "200"
                        )
                    )
                ),
            ),
        )
    )

    # the three artifact tables are independent writes to disjoint
    # directories: overlapping them saves two sequential commits
    from text_extensions_for_pandas_spark.operators.scale import _overlapped

    with _overlapped(embeddings.sparkSession) as submit:
        submit(
            lambda: joined.write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(f"{path}/codes")
        )
        # model tables are centroid/codebook-sized — one file each, not
        # one shard per shuffle partition
        submit(
            lambda: centroids.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/centroids")
        )
        submit(
            lambda: codebooks.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/codebooks")
        )


def append_to_ivfpq_index(
    spark,
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> None:
    """Append NEW vectors to a :func:`write_ivfpq_index` artifact without
    rebuilding: encode + assign them with the index's STORED models and
    append into the partitioned ``codes`` table — one pass over the new
    batch, existing partition files untouched, searches see the union
    immediately.  This is how a continuously-ingesting embedding corpus
    actually serves: quantize-on-arrival, retrain rarely.

    Contracts: (a) ids must be disjoint from the indexed corpus (the
    content-hash id discipline makes reruns collide INTO THE SAME id,
    which is detectable, not silently wrong — but this is a plain batch
    append, NOT exactly-once: a blindly retried append job duplicates
    its rows; rebuild or dedup by id after a failed run); (b) appended
    vectors are quantized with the ORIGINAL codebooks/centroids, so a
    drifting embedding distribution decays recall — watch the per-tier
    recall gauges and rebuild when they sag."""
    centroids = spark.read.parquet(f"{path}/centroids")
    codebooks = spark.read.parquet(f"{path}/codebooks")
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    assigned = ivf_assign(
        embeddings, centroids, id_col, vec_col, metric=metric
    ).select(id_col, "cluster_id")
    (
        codes.join(assigned, id_col)
        # few appended files per touched cluster directory, not one per
        # (task, cluster) pair — salted like write_ivfpq_index so a hot
        # cluster's append stays parallel (AQE coalesces the empties)
        .repartition(
            F.col("cluster_id"),
            F.pmod(
                F.xxhash64(F.col(id_col)),
                F.lit(
                    int(
                        embeddings.sparkSession.conf.get(
                            "spark.sql.shuffle.partitions", "200"
                        )
                    )
                ),
            ),
        )
        .write.mode("append")
        .partitionBy("cluster_id")
        .parquet(f"{path}/codes")
    )


def ivfpq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    sub: int | None = None,
) -> DataFrame:
    """Search a :func:`write_ivfpq_index` artifact: select each query's
    ``nprobe`` closest centroids, PRUNE the code table's partitions to the
    union of probed cluster ids (a static ``IN`` filter over the partition
    column — Spark's scan skips every other directory), then rank the
    surviving candidates by asymmetric PQ distance.

    The probe-id collect is driver-side and bounded by
    ``nprobe x n_queries`` integers (the same justified scalar-collect
    class as the CC convergence check).  Results are identical to
    :func:`ivfpq_topk` over the full tables — pruning removes only
    clusters no query probes.
    """
    centroids = spark.read.parquet(f"{path}/centroids")
    codebooks = spark.read.parquet(f"{path}/codebooks")
    c = centroids.select(
        F.col("centroid_id").alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    if metric == "cosine":
        cscore = cosine(F.col("__qvec"), F.col("__cvec"))
    else:
        cscore = -F.aggregate(
            F.zip_with(
                F.col("__qvec"), F.col("__cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__cscore").desc(), F.col("__cid").asc()
    )
    probe_rows = (
        q.crossJoin(F.broadcast(c))
        .select("query_id", "__cid", cscore.alias("__cscore"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col("__cid").alias("cluster_id"))
        .distinct()
        .collect()
    )
    probe_ids = sorted(r["cluster_id"] for r in probe_rows)
    pruned = spark.read.parquet(f"{path}/codes").filter(
        F.col("cluster_id").isin(probe_ids)
    )
    return ivfpq_topk(
        assigned=pruned.select(id_col, "cluster_id"),
        codes=pruned.select(id_col, "codes"),
        centroids=centroids,
        codebooks=codebooks,
        queries=queries,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        metric=metric,
        sub=sub,
    )
