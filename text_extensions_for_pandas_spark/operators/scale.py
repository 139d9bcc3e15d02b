"""Scale utilities: skew-salting and bucketed co-located joins.

Span workloads skew naturally — one giant document produces millions of
token/span rows under a single ``doc_id`` key, and popular dictionary
entries hot-spot join keys.  Two standing remedies beyond AQE's runtime
skew-join splitting (enabled in ``session.get_spark``):

* **Salting** — split each hot key into ``n`` subkeys: the big side gets a
  deterministic salt derived from a row-level column, the small side is
  replicated across all salts, and the join key becomes (key, salt).  The
  shuffle then spreads a hot key over ``n`` reducers.
* **Bucketing** — pre-shuffle both tables into the same bucket layout on
  the join key at write time; subsequent joins read co-located buckets and
  skip the exchange entirely (the right call for corpus tables that are
  joined on ``doc_id`` by every query, e.g. tokens ⋈ documents ⋈ spans).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def add_salt(
    df: DataFrame,
    n_salts: int,
    salt_source: str | None = None,
    salt_col: str = "__salt",
) -> DataFrame:
    """Deterministic row salt in ``[0, n_salts)``.

    ``salt_source``: column whose hash spreads rows (e.g. ``token_idx``);
    default uses every column — stable for identical rows, uniform enough
    for skew relief, and reproducible across retries (no ``rand()``, which
    breaks retried tasks / speculative execution).
    """
    src = (
        [F.col(salt_source)]
        if salt_source
        else [F.col(c) for c in df.columns]
    )
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*src), F.lit(n_salts)).cast("int")
    )


def replicate_salts(
    df: DataFrame, n_salts: int, salt_col: str = "__salt"
) -> DataFrame:
    """Replicate every row once per salt value (the small side of a salted
    join)."""
    return df.withColumn(
        salt_col,
        F.explode(
            F.sequence(F.lit(0).cast("int"), F.lit(n_salts - 1).cast("int"))
        ),
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
    salt_source: str | None = None,
) -> DataFrame:
    """Equijoin with the key space salted ``n_salts`` ways.

    Use when the *small* side is still too big to broadcast and the key
    distribution is skewed; the small side pays ``n_salts``× replication,
    the hot keys of the large side spread over ``n_salts`` reducers.
    """
    lhs = add_salt(large, n_salts, salt_source)
    rhs = replicate_salts(small, n_salts)
    return lhs.join(rhs, on + ["__salt"], how).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "doc_id",
    num_buckets: int = 32,
    path: str | None = None,
    sort_col: str | None = "token_idx",
) -> None:
    """Persist a corpus table bucketed (and optionally sorted) by its join
    key.  Joins and groupBys on ``bucket_col`` between tables written with
    the same bucket count then run exchange-free (verified in
    tests/test_scale.py)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, bucket_col
    )
    if sort_col and sort_col in df.columns:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a corpus laid out for scan pruning: one directory per
    ``partition_cols`` value (partition pruning skips whole directories at
    read time) with rows clustered by ``sort_cols`` inside each file, so
    parquet row-group min/max statistics prune within files too ("z-order
    lite" — effective when one sort column dominates selectivity).

    The ``repartition(partition_cols)`` first is what keeps the file count
    bounded: without it every task writes a file into every partition
    directory — tasks x partitions files, the classic small-files failure
    at 1000 executors.
    """
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(
            *[F.col(c) for c in (partition_cols + sort_cols)]
        )
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


@contextmanager
def _overlapped(spark: SparkSession):
    """Yield ``submit(fn)``, which starts ``fn`` (typically one small
    write to its own directory) on a thread pool and returns at once, so
    the fixed per-job latency of independent writes overlaps instead of
    adding up.  Leaving the block waits for every submitted call, then
    re-raises the first failure in submission order: no worker's
    exception is lost, and no write is still running once the block is
    left.

    Each callable is wrapped with ``pyspark.inheritable_thread_target``
    at submission: a plain pool thread starts with empty JVM local
    properties, so its jobs would leave the caller's job group (a
    streaming query's run id, a traced operation's group), lose its job
    tags and description, and drop out of any per-group job trace.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    futures = []
    # the stream has four writes per batch (five with url dedup, whose
    # first one lands long before the last three start)
    with ThreadPoolExecutor(4) as pool:
        yield lambda fn: futures.append(pool.submit(wrap(fn)))
    for fut in futures:
        fut.result()


def _spread_bits_16(x):
    """Spread a 16-bit value's bits to the even positions of 32 bits
    (standard Morton magic-mask sequence — 8 JVM bit ops, no UDF)."""
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(col_a, col_b) -> "F.Column":
    """Morton/Z-order interleave of two non-negative int columns (each
    masked to 16 bits): sorting by this key clusters rows so parquet
    row-group min/max statistics prune on BOTH columns — the technique
    behind Delta's OPTIMIZE ZORDER, as a pure codegen expression.

    Pair with :func:`write_partitioned`::

        write_partitioned(df.withColumn("__z", zorder_key("a", "b")),
                          path, ["lang"], sort_cols=["__z"])

    Scale columns into [0, 65535] first (e.g. rank- or range-normalize);
    the key of (a, b) is a 32-bit int with a's bits at odd positions.
    """
    a = (F.col(col_a) if isinstance(col_a, str) else col_a).cast("int")
    b = (F.col(col_b) if isinstance(col_b, str) else col_b).cast("int")
    a = a.bitwiseAND(F.lit(0xFFFF))
    b = b.bitwiseAND(F.lit(0xFFFF))
    return (
        F.shiftleft(_spread_bits_16(a).cast("bigint"), 1)
        .bitwiseOR(_spread_bits_16(b).cast("bigint"))
        .cast("bigint")
    )


def widen_narrow_input(df: DataFrame, by: list[str]) -> DataFrame:
    """Spread a NARROW input over the session's shuffle parallelism before
    CPU-dense per-row work (hash sketches, gram explosion, regex gates).

    Policy: operators never repartition their input; they take its
    partitioning as given.  A caller spreads a narrow corpus ONCE, on the
    frame where its documents enter — in this package that is
    ``queries.load_wide``, this function's only caller.  The guard below
    plans ``df`` (``rdd.getNumPartitions``), and under AQE that runs the
    upstream shuffles of a derived frame, so call it on a scan, not on a
    frame a caller handed you.

    A single-file / single-row-group parquet scan is ONE task, so every
    narrow projection before the first Exchange — exactly where this
    engine puts its md5/xxhash sketch compute — serializes on one core
    regardless of cluster size (guide §2.5 "input skew: one huge
    unsplittable file … repartition immediately after the read").
    Measured: the 16-hash char-mode MinHash signature pass over sf0.1
    drops 9.3 s → 0.9 s.  At corpus scale inputs split into many tasks
    and this is a NO-OP (the guard below); it only fires when the scan's
    parallelism is below the session's cores.

    The repartition is hash-keyed on ``by`` (deterministic under task
    retry — no round-robin) with an EXPLICIT partition count: a keyed
    repartition without one is AQE-coalescible, and AQE's byte-based
    advisory folds a small-byte/high-CPU stage right back into one task.
    The count follows ``spark.sql.shuffle.partitions`` — the deployment's
    scale knob, not a local constant.
    """
    sess = df.sparkSession
    floor_p = sess.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= floor_p:
        return df
    n = max(
        int(sess.conf.get("spark.sql.shuffle.partitions", str(floor_p))),
        floor_p,
    )
    return df.repartition(n, *[F.col(c) for c in by])
