"""Product quantization (pq_fit / pq_encode / pq_topk): determinism,
code-range invariants, reconstruction sanity, and recall against the
exact brute-force tier on the real embeddings table."""

import pyspark.sql.functions as F
import pytest

from text_extensions_for_pandas_spark.operators.similarity import (
    brute_force_topk,
    pq_encode,
    pq_fit,
    pq_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    # embeddings normalized to unit length so inner-product ADC ranks by
    # cosine, comparable with brute_force_topk
    raw = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return raw.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / n).alias("embedding"),
    ).cache()


@pytest.fixture(scope="module")
def codebooks(emb):
    return pq_fit(emb, m=8, k=16, iterations=3).cache()


def test_pq_fit_shape_and_determinism(emb, codebooks):
    rows = codebooks.collect()
    assert len(rows) == 8 * 16
    assert {r["sub_id"] for r in rows} == set(range(8))
    assert all(len(r["embedding"]) == 8 for r in rows)
    again = pq_fit(emb, m=8, k=16, iterations=3).collect()
    key = lambda r: (r["sub_id"], r["centroid_id"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))
    a = {key(r): r["embedding"] for r in rows}
    b = {key(r): r["embedding"] for r in again}
    assert a == b  # bit-identical, not approximately equal


def test_pq_fit_rejects_indivisible_dims(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=7)


def test_pq_encode_invariants(emb, codebooks):
    codes = pq_encode(emb, codebooks)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    # a vector equal to a stitched centroid must encode to those centroids
    cb = {(r["sub_id"], r["centroid_id"]): list(r["embedding"])
          for r in codebooks.collect()}
    stitched = []
    want = []
    for s in range(8):
        cid = s % 16
        stitched += cb[(s, cid)]
        want.append(cid)
    spark = emb.sparkSession
    probe = spark.createDataFrame([(999_999, stitched)], ["vec_id", "embedding"])
    got = pq_encode(probe, codebooks).collect()[0]["codes"]
    assert list(got) == want


def test_pq_topk_recall_vs_exact_on_real_table(emb):
    # the synthetic embeddings are near-random, so exact top-10 sits in a
    # tight cosine band — the contract here is "far above the 10/499
    # chance floor", measured at 0.54 with these hyperparameters
    cbs = pq_fit(emb, m=16, k=16, iterations=3)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10)
    codes = pq_encode(emb, cbs)
    approx = pq_topk(codes, queries, cbs, k=10)
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(a) == set(e) and all(len(v) == 10 for v in a.values())
    recalls = [len(e[q] & a[q]) / 10 for q in e]
    assert sum(recalls) / len(recalls) >= 0.35, recalls


def test_pq_topk_recall_on_planted_clusters(spark):
    # 20 prototypes x 10 members with small noise: quantization error is
    # tiny next to inter-cluster distance, so PQ must recover the exact
    # neighbors almost perfectly
    import numpy as np

    rng = np.random.default_rng(7)
    protos = rng.normal(size=(20, 64))
    rows = []
    for i in range(200):
        v = protos[i % 20] + 0.05 * rng.normal(size=64)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    cbs = pq_fit(emb, m=8, k=16, iterations=5)
    queries = emb.filter(F.col("vec_id") < 4)
    exact = brute_force_topk(emb, queries, k=9)
    codes = pq_encode(emb, cbs)
    approx = pq_topk(codes, queries, cbs, k=9)
    e, a = {}, {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a[q]) / 9 for q in e]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_pq_topk_output_contract(emb, codebooks):
    queries = emb.filter(F.col("vec_id") == 0)
    codes = pq_encode(emb, codebooks)
    out = pq_topk(codes, queries, codebooks, k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert all(r["neighbor_id"] != 0 for r in out)
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_ivfpq_topk_composes_and_prunes(emb, codebooks):
    from text_extensions_for_pandas_spark.operators.similarity import (
        ivf_assign,
        ivfpq_topk,
        kmeans_fit,
    )

    centroids = kmeans_fit(emb, k=8, iterations=3)
    assigned = ivf_assign(emb, centroids)
    codes = pq_encode(emb, codebooks)
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivfpq_topk(
        assigned, codes, centroids, codebooks, queries, k=5, nprobe=8
    )
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        assert all(r["neighbor_id"] != q for r in rs)
    # with nprobe == n_clusters the candidate set is the full corpus, so
    # IVF-PQ must equal plain PQ exactly (same codes, same LUT math)
    pq_only = pq_topk(codes, queries, codebooks, k=5)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, pq_only.collect()))
    # with nprobe=1 every returned neighbor lives in its query's own
    # nearest-probed cluster: the pruning is real
    pruned = ivfpq_topk(
        assigned, codes, centroids, codebooks, queries, k=5, nprobe=1
    )
    cl = {r["vec_id"]: r["cluster_id"] for r in assigned.select("vec_id", "cluster_id").collect()}
    probe1 = {}
    for r in pruned.collect():
        probe1.setdefault(r["query_id"], set()).add(cl[r["neighbor_id"]])
    for q, clusters in probe1.items():
        assert len(clusters) == 1


def test_pq_encode_stream_batch_parity(spark, emb, codebooks, tmp_path):
    """pq_encode against static codebooks is per-vector local (broadcast
    join + per-vector argmin), so encoding a stream of vectors batch by
    batch must equal the one-shot batch encode — the property that lets
    the PQ index absorb new corpus shards without retraining."""
    want = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, codebooks).collect()}

    src = str(tmp_path / "src")
    emb.filter("vec_id % 2 = 0").coalesce(1).write.parquet(src)
    emb.filter("vec_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_path = str(tmp_path / "codes")

    def encode_batch(batch_df, _batch_id):
        pq_encode(batch_df, codebooks).write.mode("append").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == want and len(got) == emb.count()


def test_semantic_dedup_keeps_one_per_component(spark):
    import numpy as np

    from text_extensions_for_pandas_spark.operators.similarity import (
        kmeans_fit,
        semantic_dedup,
    )

    # 5 prototypes; ids 0-4 are the prototypes, ids 10-14 are near-copies
    # (semantic dups), ids 20-24 are distinct directions
    rng = np.random.default_rng(3)
    protos = rng.normal(size=(5, 16))
    rows = []
    for i, v in enumerate(protos):
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    for i, v in enumerate(protos):
        w = v + 0.01 * rng.normal(size=16)
        rows.append((10 + i, [float(x) for x in w / np.linalg.norm(w)]))
    extra = rng.normal(size=(5, 16))
    for i, v in enumerate(extra):
        rows.append((20 + i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    centroids = kmeans_fit(emb, k=4, iterations=4)
    out = {r["vec_id"]: r for r in semantic_dedup(emb, centroids, 0.95).collect()}
    assert len(out) == 15
    # each prototype pair (i, 10+i) forms a component; the lower id wins
    for i in range(5):
        assert out[i]["keep"] is True
        assert out[10 + i]["keep"] is False
        assert out[i]["component"] == out[10 + i]["component"]
        assert out[i]["cluster_size"] >= 2
    # kept set has exactly one member per component plus all singletons
    kept = [r for r in out.values() if r["keep"]]
    comps = [r["component"] for r in kept if r["component"] is not None]
    assert len(comps) == len(set(comps))


class TestDurableIvfPqIndex:
    """write_ivfpq_index / ivfpq_search_index: on-disk partition pruning
    proven from the physical plan, with results identical to the
    in-memory composition."""

    def _frames(self, spark):
        import pyspark.sql.functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        centroids = emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        codebooks = emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.posexplode(
                F.array(*[F.slice("embedding", s * 8 + 1, 8) for s in range(8)])
            ).alias("sub_id", "embedding"),
        ).select("sub_id", "centroid_id", "embedding")
        return emb, centroids, codebooks

    def _setup(self, spark, tmp_path):
        from text_extensions_for_pandas_spark.operators import similarity as S

        emb, centroids, codebooks = self._frames(spark)
        path = str(tmp_path / "ivfpq")
        S.write_ivfpq_index(emb, centroids, codebooks, path)
        return S, emb, centroids, codebooks, path

    def test_failing_writer_raises_its_own_error(self, spark, tmp_path):
        """One artifact writer fails: its own exception propagates, and
        the other writers still finish before it does."""
        import os

        from text_extensions_for_pandas_spark.operators import similarity as S

        emb, centroids, codebooks = self._frames(spark)
        # the assignment prunes the extra column; only the centroids
        # writer evaluates it
        bad = centroids.withColumn("boom", F.raise_error("centroids writer"))
        path = str(tmp_path / "ivfpq")
        with pytest.raises(Exception, match="centroids writer"):
            S.write_ivfpq_index(emb, bad, codebooks, path)
        for table in ("codes", "codebooks"):
            assert os.path.exists(f"{path}/{table}/_SUCCESS")

    def test_writer_jobs_stay_in_callers_job_group(self, spark, tmp_path):
        """The artifact writers run on pool threads, yet every job they
        launch stays in the caller's job group: none runs ungrouped."""
        from text_extensions_for_pandas_spark.operators import similarity as S

        emb, centroids, codebooks = self._frames(spark)
        sc = spark.sparkContext
        status = sc.statusTracker()
        ungrouped = set(status.getJobIdsForGroup(None))
        sc.setJobGroup("ivfpq-writers", "write_ivfpq_index")
        try:
            S.write_ivfpq_index(emb, centroids, codebooks, str(tmp_path / "ix"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert set(status.getJobIdsForGroup(None)) - ungrouped == set()
        # the three artifact writes at least
        assert len(status.getJobIdsForGroup("ivfpq-writers")) >= 3

    def test_search_matches_in_memory_composition(self, spark, tmp_path):
        import pyspark.sql.functions as F

        S, emb, centroids, codebooks, path = self._setup(spark, tmp_path)
        queries = emb.filter(F.col("vec_id") < 5)
        got = S.ivfpq_search_index(spark, path, queries, k=10, nprobe=4)
        assigned = S.ivf_assign(emb, centroids)
        codes = S.pq_encode(emb, codebooks)
        want = S.ivfpq_topk(
            assigned, codes, centroids, codebooks, queries, k=10, nprobe=4
        )
        a = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, want.collect()))
        assert a == b and len(a) == 50

    def test_append_equals_full_build(self, spark, tmp_path):
        """Incremental serving: build the index on half the corpus, then
        append_to_ivfpq_index the other half — searches over the grown
        index must be BIT-EQUAL to a one-shot full build (the models are
        the stored ones, so encode/assign are identical paths)."""
        import pyspark.sql.functions as F

        S, emb, centroids, codebooks, full_path = self._setup(spark, tmp_path)
        grown = str(tmp_path / "ivfpq_grown")
        S.write_ivfpq_index(
            emb.filter(F.col("vec_id") % 2 == 0), centroids, codebooks, grown
        )
        S.append_to_ivfpq_index(
            spark, emb.filter(F.col("vec_id") % 2 == 1), grown
        )
        queries = emb.filter(F.col("vec_id") < 5)
        a = sorted(map(tuple, S.ivfpq_search_index(
            spark, grown, queries, k=10, nprobe=4
        ).collect()))
        b = sorted(map(tuple, S.ivfpq_search_index(
            spark, full_path, queries, k=10, nprobe=4
        ).collect()))
        assert a == b and len(a) == 50
        # the union really lives in the grown index: every vector's code
        # row is present exactly once
        n = spark.read.parquet(f"{grown}/codes").count()
        assert n == emb.count()

    def test_scan_prunes_partitions_on_disk(self, spark, tmp_path):
        import os

        import pyspark.sql.functions as F

        S, emb, centroids, codebooks, path = self._setup(spark, tmp_path)
        # the index has 16 cluster directories on disk
        dirs = [
            d for d in os.listdir(f"{path}/codes") if d.startswith("cluster_id=")
        ]
        assert len(dirs) > 4
        # a single query probes nprobe=4 clusters: the pruned scan's file
        # set is a strict subset of the full index
        queries = emb.filter(F.col("vec_id") < 1)
        got = S.ivfpq_search_index(spark, path, queries, k=10, nprobe=4)
        assert got.count() == 10
        # reproduce the prune filter the search applies and verify the scan
        # carries it as a PARTITION filter (directory-level pruning), not a
        # data filter (inputFiles() ignores filters, so the plan is the
        # authoritative witness)
        probed = spark.read.parquet(f"{path}/codes").filter(
            F.col("cluster_id").isin([0, 1, 2, 3])
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cluster_id" in plan, plan
        assert "IN (0,1,2,3)" in plan.replace("#", "").replace(" ", "") or (
            "IN(0,1,2,3)" in plan.replace(" ", "")
        ), plan
        # and the pruned read returns exactly the rows living in those
        # 4 directories on disk
        direct = sum(
            spark.read.parquet(f"{path}/codes/cluster_id={c}").count()
            for c in (0, 1, 2, 3)
            if os.path.isdir(f"{path}/codes/cluster_id={c}")
        )
        assert probed.count() == direct > 0
