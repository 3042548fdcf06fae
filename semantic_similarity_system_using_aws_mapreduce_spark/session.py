"""SparkSession factory, and the one way to make a driver-side relation.

Defaults are chosen for the dual design point:
  * local[N] single-JVM testing (the CI / bench environment), and
  * a many-executor cluster at ~100 TB, where the same settings
    (AQE on, skew-join handling, partition coalescing) are what you
    would deploy with — only shuffle partition counts change.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(
    app_name: str = "semantic_similarity_system_using_aws_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    Shuffle partitions default to the local core count — at cluster
    scale you would size this to ~2-3x total executor cores instead,
    or simply rely on AQE coalescing from a high initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode runs all executor threads inside the driver JVM,
        # whose default heap is 1g — 32 concurrent tasks OOM on any
        # real workload.  Honored only at JVM launch (first session).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # NOT set: spark.sql.parquet.aggregatePushdown — it only applies
        # to the DSv2 parquet reader (v1 is the default path here), so
        # it would be a dead config implying a benefit that never fires.
        # Runtime bloom-filter join filters and dynamic partition
        # pruning are on by default in Spark 4 (verified).
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # NOT set here: spark.sql.legacy.codingErrorAction / javaCharsets.
    # Only the crawl surface wants REPLACE-on-malformed-bytes decode
    # semantics, and the WARC readers scope both confs to their OWN
    # plan construction (sources/warc.py:_charset_scope — set, build,
    # restore; safe under any SparkSession factory); a session-global
    # set would silently change `decode()` from Spark 4 fail-fast to
    # REPLACE for every other caller.
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_relation(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | T.StructType
) -> DataFrame:
    """A small driver-side relation from ``rows`` (positional tuples)
    and a DDL string or ``StructType`` ``schema``.

    The rows go to the JVM as one ``pyarrow.Table``, so the plan leaf
    is a ``LocalRelation``: it carries exact size statistics and scans
    without a Python worker; a broadcast of it still runs one small job
    over the driver-held rows.  A plain
    ``createDataFrame(<list>, ddl)`` is a ``LogicalRDD`` over a
    ``PythonRDD`` instead, and every task that reads it waits on a
    Python worker to unpickle the rows.  Past
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps
    the batches in a JVM-side RDD, so a large input stays safe.  This
    is the package's one ``createDataFrame`` call."""
    struct = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    arrow = to_arrow_schema(struct)
    table = pa.table(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
