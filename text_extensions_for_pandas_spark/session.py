"""SparkSession factory with scale-oriented defaults.

Test/bench runs use ``local[N]``; the same configuration keys are the ones
that matter on a real cluster (AQE, shuffle partitions, Arrow batch size).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "text_extensions_for_pandas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults are chosen for correctness-at-scale:

    * AQE on (runtime coalescing + skew-join splitting — big documents are
      the natural skew source for span workloads).
    * Arrow enabled for the pandas-UDF islands (tokenizers, consolidate).
    * UTC session timezone so timestamp semantics match the DuckDB oracle.
    * PySpark's per-call call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled=false``).  With it on,
      every DataFrame and Column call records a Python stack.  Building the
      three ``spans_corpus`` benchmark queries (warm, ``local[4]`` on a
      4-core VM) took 2,700-3,200 py4j round trips and 1.7-2.1 s with it
      on, against 860-1,300 round trips and 0.8-1.7 s with it off: about
      half of each query's driver-side time.  The trade-off: an error
      keeps Spark's message and plan but loses the Python ``file:line``
      "DataFrame query context".  PySpark reads the setting once per
      process, from the first active session that asks; to get call sites
      back, build the session yourself with the setting ``true`` before any
      DataFrame call.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark 4 rejects it
        # unless read as long (we convert back to timestamp in the loader)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # ContextCleaner periodic GC: Spark's default (30min).  A previous
        # round set this to 60s to free finished queries' persisted blocks
        # faster, but spark.cleaner.periodicGC.interval fires System.gc() —
        # a stop-the-world FULL GC of the whole local-mode JVM — and
        # measured per-query cost was severe (ann_recall warm median 23.7s
        # with 60s vs 2.9s with 30min on the sf0.1 bench box: every query
        # long enough to straddle a tick ate a multi-second pause).  The
        # persisted internals the 60s setting was cleaning are skinny
        # id+hash tables with MEMORY_AND_DISK/LRU semantics, so letting
        # them age out is the cheaper failure mode.  Env knob kept for
        # genuinely week-long driver sessions.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_PERIODIC_GC", "30min"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-built table as a JVM ``LocalRelation``.

    ``spark.createDataFrame(rows, schema)`` pickles the rows into a
    ``PythonRDD``, so every read of the frame runs a Python-worker job.
    Built from an Arrow table under the same Spark schema, the frame is a
    local relation: same schema and rows, and reading it stays in the JVM.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    columns = list(zip(*rows)) or [[]] * len(struct.fields)
    table = pa.Table.from_arrays(columns, schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)
