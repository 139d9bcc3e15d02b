"""Skew-salting and bucketing: correctness + the plan shapes they promise."""

import contextlib
import io

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR

from text_extensions_for_pandas_spark.operators.scale import (
    add_salt,
    salted_join,
    write_bucketed,
)


def plan_of(df, mode="simple") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot doc with 2000 tokens, 50 cold docs with 10 each
    rows = [(0, i) for i in range(2000)] + [
        (d, i) for d in range(1, 51) for i in range(10)
    ]
    tokens = spark.createDataFrame(rows, "doc_id long, token_idx int")
    docs = spark.createDataFrame(
        [(d, f"doc{d}") for d in range(51)], "doc_id long, name string"
    )
    return tokens, docs


def test_salted_join_correct(skewed):
    tokens, docs = skewed
    plain = tokens.join(docs, "doc_id")
    salted = salted_join(tokens, docs, ["doc_id"], n_salts=4)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salt_distribution(skewed):
    tokens, _ = skewed
    per_salt = (
        add_salt(tokens.filter("doc_id = 0"), 4)
        .groupBy("__salt")
        .count()
        .collect()
    )
    # the hot key is actually spread: every salt bucket sees a share
    assert len(per_salt) == 4
    assert all(200 < r["count"] < 800 for r in per_salt)


def test_salt_deterministic(skewed):
    tokens, _ = skewed
    a = {(r.doc_id, r.token_idx): r["__salt"] for r in add_salt(tokens, 4).collect()}
    b = {(r.doc_id, r.token_idx): r["__salt"] for r in add_salt(tokens, 4).collect()}
    assert a == b  # retried/speculative tasks must resalt identically


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory, skewed):
    tokens, docs = skewed
    base = tmp_path_factory.mktemp("buckets")
    write_bucketed(tokens, "t_tokens_b", "doc_id", 8, path=str(base / "tok"))
    write_bucketed(
        docs, "t_docs_b", "doc_id", 8, path=str(base / "doc"), sort_col=None
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a shuffle-join plan: with broadcast on, the planner ignores
        # bucketing for the tiny dim (broadcast is the better plan there);
        # the bucketing claim is about the case where both sides are big
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.table("t_tokens_b")
        d = spark.table("t_docs_b")
        joined = t.join(d, "doc_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        # co-located buckets: merge join with NO shuffle exchange
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == tokens.join(docs, "doc_id").count()
        # groupBy on the bucket key also rides the layout: no exchange
        agg_plan = plan_of(t.groupBy("doc_id").agg(F.count("*")))
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_tokens_b")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")


class TestHllSketches:
    """Mergeable HLL distinct-count sketches (operators/sketch.py)."""

    def _tokens(self, spark):
        from text_extensions_for_pandas_spark.functions.text import (
            tokenize_whitespace,
        )
        from text_extensions_for_pandas_spark.queries import load

        docs = load(spark, SF_DIR, "documents")
        return tokenize_whitespace(docs).join(
            docs.select("doc_id", "lang"), "doc_id"
        )

    def test_estimate_close_to_exact(self, spark):
        from text_extensions_for_pandas_spark.operators.sketch import (
            distinct_rollup,
        )

        toks = self._tokens(spark)
        exact = {
            r.lang: r.n_distinct
            for r in distinct_rollup(toks, ["lang"], "token", exact=True).collect()
        }
        approx = {
            r.lang: r.n_distinct
            for r in distinct_rollup(toks, ["lang"], "token", exact=False).collect()
        }
        assert set(exact) == set(approx)
        for lang, n in exact.items():
            assert abs(approx[lang] - n) <= max(0.05 * n, 2), (lang, n, approx[lang])

    def test_merge_equals_direct_sketch(self, spark):
        """Union of per-group sketches must equal the sketch built directly
        over the whole data — the identity that makes stored shard sketches
        answer corpus-wide questions without a rescan."""
        from text_extensions_for_pandas_spark.operators.sketch import (
            hll_rollup,
            hll_sketches,
        )

        toks = self._tokens(spark)
        per_lang = hll_sketches(toks, ["lang"], "token")
        merged = hll_rollup(per_lang, []).collect()[0]
        direct = (
            hll_sketches(toks.withColumn("one", F.lit(1)), ["one"], "token")
            .collect()[0]
        )
        assert merged.estimate == direct.estimate

    def test_sketch_agg_is_partial(self, spark):
        """The sketch aggregate must show a map-side partial before the
        exchange — only sketches travel, not distinct values."""
        from text_extensions_for_pandas_spark.operators.sketch import (
            hll_sketches,
        )

        toks = self._tokens(spark)
        plan = hll_sketches(toks, ["lang"], "token")._jdf.queryExecution().executedPlan().toString()
        before_exchange = plan.split("Exchange hashpartitioning(lang")[0]
        assert "hll_sketch_agg" in before_exchange


def test_write_partitioned_prunes_directories(spark, tmp_path):
    """Reading with a partition-column filter must touch only that
    partition's directory (partition pruning), and rows inside each file
    must be clustered by the sort column (row-group stat pruning setup)."""
    from text_extensions_for_pandas_spark.operators.scale import (
        write_partitioned,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "by_lang")
    write_partitioned(docs, path, ["lang"], sort_cols=["n_chars"])

    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    # partition pruning: the scan carries the filter as a PartitionFilter
    # (inputFiles() reports the unpruned relation, so check the plan)
    plan = plan_of(back, "formatted")
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0], plan
    # only the lang=en directory's rows are actually read
    read_files = {
        r.f for r in back.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert read_files and all("lang=en" in f for f in read_files)
    # row-count parity with the source
    assert back.count() == docs.filter("lang = 'en'").count()
    # clustered: n_chars is non-decreasing inside each physical file
    one = (
        spark.read.parquet(sorted(read_files)[0])
        .select("n_chars")
        .toPandas()["n_chars"]
    )
    assert (one.diff().dropna() >= 0).all()


def test_zorder_key_matches_python_interleave(spark):
    import random

    from text_extensions_for_pandas_spark.operators.scale import zorder_key

    rng = random.Random(7)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    pairs += [(0, 0), (65535, 65535), (1, 0), (0, 1)]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_key("a", "b").alias("z")).collect()
    }

    def interleave(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    for (a, b), z in got.items():
        assert z == interleave(a, b), (a, b)
    # locality sanity: nearby points share high bits more than far ones
    assert got[(0, 0)] == 0 and got[(65535, 65535)] == (1 << 32) - 1


def test_zorder_layout_shrinks_rowgroup_spans(spark, tmp_path):
    """The point of z-ordering: after sorting by the interleaved key,
    parquet row-group min/max spans are narrow on BOTH columns, so a
    predicate on either prunes most row groups.  Measured directly from
    the written file's row-group statistics."""
    import pyarrow.parquet as pq

    from text_extensions_for_pandas_spark.operators.scale import zorder_key

    from pyspark.sql import Window

    # rank-normalize both dimensions (what production z-order does — linear
    # min/max scaling leaves skewed columns concentrated in few quadrants)
    raw = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("vq"),
    )
    n = raw.count()
    wa = Window.orderBy("user_id", "event_id")
    wb = Window.orderBy("vq", "event_id")
    ev = (
        raw.withColumn(
            "ra", ((F.row_number().over(wa) - 1) * 65535 / n).cast("int")
        )
        .withColumn(
            "rb", ((F.row_number().over(wb) - 1) * 65535 / n).cast("int")
        )
        .withColumn("z", zorder_key(F.col("ra"), F.col("rb")))
    )

    def mean_span(path, col):
        f = pq.ParquetFile(path)
        spans = []
        for i in range(f.metadata.num_row_groups):
            for j in range(f.metadata.row_group(i).num_columns):
                c = f.metadata.row_group(i).column(j)
                if c.path_in_schema == col and c.statistics is not None:
                    spans.append(c.statistics.max - c.statistics.min)
        return sum(spans) / len(spans)

    small_groups = {"parquet.block.size": "16384"}
    base = str(tmp_path / "plain")
    # baseline = natural event order (the window computations above leave
    # ev sorted by one dimension, which would bias the comparison)
    ev.coalesce(1).sortWithinPartitions("event_id").write.options(
        **small_groups
    ).parquet(base)
    zpath = str(tmp_path / "zordered")
    ev.coalesce(1).sortWithinPartitions("z").write.options(**small_groups).parquet(zpath)

    def one_file(d):
        import glob

        return glob.glob(f"{d}/part-*.parquet")[0]

    b, z = one_file(base), one_file(zpath)
    n_groups = pq.ParquetFile(z).metadata.num_row_groups
    assert n_groups >= 4, "need several row groups for the span comparison"
    for col in ("ra", "rb"):
        plain_span = mean_span(b, col)
        z_span = mean_span(z, col)
        # both columns' per-row-group spans must shrink materially
        assert z_span < plain_span * 0.6, (col, z_span, plain_span)


class TestCountMinSketch:
    """Count-min sketch: overestimate guarantee, merge identity, and
    bounded size."""

    def _toks(self, spark, texts):
        import pyspark.sql.functions as F

        df = spark.createDataFrame([(t,) for t in texts], ["text"])
        return df.select(F.explode(F.split("text", " ")).alias("token"))

    def test_estimates_never_underestimate_and_top_tokens_exact(self, spark):
        import pyspark.sql.functions as F

        from text_extensions_for_pandas_spark.operators.sketch import (
            cms_estimate,
            cms_sketch,
        )

        toks = self._toks(
            spark,
            ["a a a a b b c d", "a b b e f g h", "a c c i j k l m"],
        )
        exact = toks.groupBy("token").agg(F.count("*").alias("cnt"))
        sk = cms_sketch(toks, "token", d=4, w=64)
        est = cms_estimate(sk, exact.select("token"), "token", d=4, w=64)
        joined = {
            r["item"]: r["est"]
            for r in est.collect()
        }
        for r in exact.collect():
            assert joined[r["token"]] >= r["cnt"]
        # with w=64 >> 13 distinct tokens, collisions are unlikely enough
        # that the heavy hitter is exact
        assert joined["a"] == 6

    def test_merge_equals_direct_sketch(self, spark):
        from tests.conftest import rows_to_tuples
        from text_extensions_for_pandas_spark.operators.sketch import (
            cms_merge,
            cms_sketch,
        )

        t1 = self._toks(spark, ["x y z x", "p q r"])
        t2 = self._toks(spark, ["x p p w", "z z q"])
        direct = cms_sketch(t1.unionByName(t2), "token", d=3, w=32)
        merged = cms_merge(
            cms_sketch(t1, "token", d=3, w=32),
            cms_sketch(t2, "token", d=3, w=32),
        )
        assert rows_to_tuples(direct, "row", "bucket", "cnt") == rows_to_tuples(
            merged, "row", "bucket", "cnt"
        )

    def test_sketch_size_bounded_by_d_times_w(self, spark):
        from text_extensions_for_pandas_spark.operators.sketch import (
            cms_sketch,
        )

        toks = self._toks(spark, ["m n o p q r s t u v w x y z"])
        sk = cms_sketch(toks, "token", d=2, w=8)
        assert sk.count() <= 2 * 8

    def test_null_values_excluded_like_count(self, spark):
        """NULLs are dropped from both the sketch and the probe side (the
        count(col) convention) — they must not create NULL-bucket cells
        that vanish from totals, and a NULL item gets no estimate row."""
        import pyspark.sql.functions as F

        from text_extensions_for_pandas_spark.operators.sketch import (
            cms_estimate,
            cms_sketch,
        )

        vals = spark.createDataFrame(
            [("a",), (None,), ("a",), ("b",), (None,)], ["token"]
        )
        sk = cms_sketch(vals, "token", d=3, w=16)
        rows = sk.collect()
        assert all(r.bucket is not None for r in rows)
        assert sum(r.cnt for r in rows) == 3 * 3  # 3 non-null values x d
        est = cms_estimate(
            sk,
            spark.createDataFrame([("a",), (None,)], ["token"]),
            "token",
            d=3,
            w=16,
        )
        got = {r.item: r.est for r in est.collect()}
        assert got == {"a": 2}


# -- narrow-scan spread policy: one spread where documents enter ----------


def _spreads(df) -> int:
    return (
        df._jdf.queryExecution().executedPlan().toString().count(
            "REPARTITION_BY_NUM"
        )
    )


def test_load_wide_spreads_single_file_scan_once(spark):
    import re

    from text_extensions_for_pandas_spark.queries import load, load_wide

    assert load(spark, SF_DIR, "documents").rdd.getNumPartitions() == 1
    wide = load_wide(spark, SF_DIR)
    assert _spreads(wide) == 1
    plan = wide._jdf.queryExecution().executedPlan().toString()
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(n, spark.sparkContext.defaultParallelism)
    spread = rf"hashpartitioning\(doc_id#\d+L?, {n}\), REPARTITION_BY_NUM"
    assert re.search(spread, plan), plan


def test_widen_narrow_input_keeps_parallel_frame(spark):
    from text_extensions_for_pandas_spark.operators.scale import (
        widen_narrow_input,
    )

    df = spark.range(0, 100, numPartitions=spark.sparkContext.defaultParallelism)
    assert widen_narrow_input(df, by=["id"]) is df


def _seven_operators():
    from text_extensions_for_pandas_spark.operators import dedup as D
    from text_extensions_for_pandas_spark.operators import pipeline as P

    return {
        "doc_shingles": D.doc_shingles,
        "simhash": D.simhash,
        "repeated_ngram_spans": lambda d: D.repeated_ngram_spans(d, k=20),
        "remove_repeated_substrings": lambda d: D.remove_repeated_substrings(
            d, k=20
        ),
        "fingerprint_overlap_pairs": D.fingerprint_overlap_pairs,
        "prepare_training_corpus": P.prepare_training_corpus,
        "corpus_funnel": P.corpus_funnel,
    }


@pytest.mark.parametrize("op", sorted(_seven_operators()))
def test_operator_takes_input_partitioning_as_given(spark, monkeypatch, op):
    """An operator handed a derived frame (here: documents joined to an
    aggregate of themselves) neither plans it at definition time — under
    AQE, probing its partition count runs the aggregate's shuffle — nor
    adds a spread of its own.

    The near-dup stage of the two pipeline operators cuts lineage on its
    id and pair lists, and a cut materializes by design (even a lazy
    ``localCheckpoint`` executes its AQE plan).  That is a separate,
    documented policy, so the cuts are made pass-through here: the job
    count then sees only what the operator does to its input."""
    from text_extensions_for_pandas_spark.operators import dedup as D
    from text_extensions_for_pandas_spark.operators import pipeline as P

    for mod in (D, P):
        monkeypatch.setattr(mod, "cut_lineage", lambda df, eager=False: df)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    derived = docs.join(docs.groupBy("lang").count(), "lang")
    sc = spark.sparkContext
    group = f"spread-policy-{op}"
    sc.setJobGroup(group, op)
    try:
        out = _seven_operators()[op](derived)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _spreads(out) == 0


# the schema of every package site that builds a small table on the driver:
# create_dict, url blocklist, LSH weights, ensemble roster, BPE vocab,
# minhash index meta, empty cms_read
_LOCAL_FRAME_CASES = [
    (
        [(0, ["new", None]), (1, None), (2, ["😀", "İ".lower(), "i̇"]), (3, [])],
        "entry_id int, toks array<string>",
    ),
    ([], "entry_id int, toks array<string>"),
    ([("Ads.Example",), (None,), ("😀.example",)], "domain string"),
    ([(0, 1, 2, -32768), (3, 4, 5, 32767)], "t INT, p INT, d INT, w LONG"),
    ([("m1",), ("İ",)], "model string"),
    (
        [("low", 5, ["l", "o", "w</w>"]), ("😀", 1, None), (None, None, [None])],
        "word string, count bigint, symbols array<string>",
    ),
    (
        [(5, 128, 8, 1 << 20)],
        "shingle_n int, n_hashes int, rows_per_band int, n_hash_buckets int",
    ),
    ([], "row int, bucket long, cnt long"),
]


@pytest.mark.parametrize("rows,schema", _LOCAL_FRAME_CASES)
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    from text_extensions_for_pandas_spark.session import local_frame

    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.isLocal()
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_dictionary_read_runs_no_python_rdd(spark):
    """The gazetteer reaches the matcher as a local relation, not a pickled
    ``PythonRDD`` scan that needs a Python worker on every read."""
    from text_extensions_for_pandas_spark.queries import q_extract_dict_rowwise

    out = q_extract_dict_rowwise(spark, SF_DIR)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_get_spark_skips_call_site_capture_but_keeps_error_message(spark):
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(1).select("no_such_col")
