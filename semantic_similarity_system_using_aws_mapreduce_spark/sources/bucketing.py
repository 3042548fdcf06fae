"""Bucketed-table layout: pre-shuffled storage for exchange-free joins
and aggregations.

At 100 TB the dominant cost of a fact-to-fact join is the shuffle of
both sides.  Writing a table bucketed by its join key spends that
shuffle ONCE at write time; every later equi-join or groupBy on the
key then reads co-located buckets and skips the Exchange entirely
(`test_bucketing.py` asserts the plan has no Exchange under the join).
This is the Spark-native equivalent of the reference pipeline's
"keep data partitioned by token between jobs" discipline — but durable
across jobs and queries, not per-job.

Sizing guidance: pick ``n_buckets`` so one bucket of the LARGER table
is a few hundred MB (e.g. 100 TB / 262144 buckets ≈ 400 MB); both
join sides must use the same bucket count and key for the exchange to
be elided.  Bucket-pruning on point lookups is a bonus: an equality
filter on the bucket key scans 1/n_buckets of the data.

Spark's bucketed format requires the table catalog (``saveAsTable``,
not ``save``) — bucket metadata lives in the metastore.  The local
in-memory catalog works; production would back this with
Hive/Glue/Unity.

Versioned probe tables: the streaming ingest loop keeps two derived
bucketed tables (signature buckets, segment index) that it rebuilds
at compaction and probes every micro-batch.  Both follow ONE protocol,
implemented here: a rebuild writes a fresh ``<table>__v<batch>_a<n>``
version and then atomically swaps a one-row meta table
(covered_batch, table_version, n_buckets) to name it
(:func:`rebuild_bucket_table`); a probe reads the meta
(:func:`live_bucket_version`), re-registers the named version in a
fresh session (:func:`reregister_bucket_table`) and probes it next to
the parquet rows written since (:func:`bucket_probe`); superseded
versions are dropped by :func:`drop_bucket_versions`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation
from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import (
    atomic_replace,
    read_parquet_recovering,
)

#: path suffix of a probe table's one-row meta, next to the parquet
#: table it is built from
BUCKETMETA_SUFFIX = "_bucketmeta"


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 32,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) catalog
    table.  Sorting within buckets additionally elides the Sort under
    a sort-merge join."""
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def warehouse_dir(spark: SparkSession) -> str:
    """The local directory managed catalog tables live under."""
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")


def live_bucket_version(spark: SparkSession, meta_path: str) -> Row | None:
    """The meta row (covered_batch, table_version, n_buckets) naming the
    live version of a probe table, or None when no version was ever
    committed (no meta, or a meta that names none)."""
    meta = read_parquet_recovering(spark, meta_path)
    row = meta.first() if meta is not None and "table_version" in meta.columns else None
    return row if row is not None and row["table_version"] else None


def rebuild_bucket_table(
    spark: SparkSession,
    meta_path: str,
    table: str,
    rows: DataFrame,
    key_cols: list[str],
    n_buckets: int,
    covered_batch: int | None,
) -> DataFrame:
    """Write ``rows`` as a FRESH bucketed version of ``table``, then
    atomically swap the meta at ``meta_path`` to name it, then drop
    every other version.  ``covered_batch=None`` is the plain
    unversioned write (one-shot use, no meta).

    Crash safety: a catalog ``saveAsTable`` overwrite has no atomic
    rename, so the live version is never rewritten.  A crash during the
    table write leaves a torn version no meta names; a crash after the
    swap leaves an orphan the next rebuild (or vacuum) drops.  Probes
    only read a version the meta names, so they see either the previous
    intact version or the new one, never a torn one.

    The version name is unique per rebuild ATTEMPT (``_a<n>``), not
    just per batch: a crash-replay of the compacting batch re-enters
    with the same ``covered_batch`` and must not overwrite the version
    the meta already names.  Attempts are enumerated from the warehouse
    DIRECTORIES, because the in-memory catalog forgets them on restart
    while their directories survive."""
    # the catalog stores names lowercased; fold so GC never misses one
    table = table.lower()
    if covered_batch is None:
        write_bucketed(rows, table, key_cols, n_buckets=n_buckets)
        return spark.table(table)
    warehouse = warehouse_dir(spark)
    prefix = f"{table}__v{covered_batch}_a"
    prior = [
        int(d[len(prefix):])
        for d in (os.listdir(warehouse) if os.path.isdir(warehouse) else [])
        if d.startswith(prefix) and d[len(prefix):].isdigit()
    ]
    version = f"{prefix}{max(prior) + 1 if prior else 0}"
    write_bucketed(rows, version, key_cols, n_buckets=n_buckets)
    atomic_replace(
        local_relation(
            spark,
            [(covered_batch, version, n_buckets)],
            "covered_batch long, table_version string, n_buckets long",
        ),
        meta_path,
    )
    drop_bucket_versions(spark, table, keep=version)
    return spark.table(version)


def reregister_bucket_table(
    spark: SparkSession,
    version: str,
    n_buckets: int,
    cols_ddl: str,
    key_cols: list[str],
) -> bool:
    """Make a probe-table version queryable in THIS session.  The
    default catalog is in-memory, so a fresh process knows nothing of a
    version whose warehouse directory (bucket-suffixed files included)
    survived; it is re-registered as an external bucketed table over
    that directory.  Without this the probe would fall back to the
    unbucketed parquet rows until the next rebuild.  True iff the
    version is now queryable."""
    if spark.catalog.tableExists(version):
        return True
    loc = os.path.join(warehouse_dir(spark), version)
    if not os.path.isdir(loc):
        return False
    spark.sql(
        f"CREATE TABLE {version} ({cols_ddl}) USING parquet "
        f"CLUSTERED BY ({', '.join(key_cols)}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return True


def bucket_probe(
    spark: SparkSession,
    meta_path: str,
    parquet: DataFrame,
    own_ids: DataFrame,
    cols_ddl: str,
    key_cols: list[str],
) -> list[DataFrame] | None:
    """``[bucketed base, parquet tail]`` for a probe: the live version
    less the ``own_ids`` rows (a replayed batch must not collide with
    itself), and the rows of ``parquet`` written after the version's
    covered batch (excluding the caller's own ids there is the
    caller's).  The two are probed as separate relations: their rows
    have different shapes, and a union would discard the base's
    bucketing.  A stale-but-intact meta only makes the tail overlap
    the base, which the probe's de-duplication absorbs; a hole is
    impossible.  None when no live version is usable, so the caller
    probes ``parquet`` alone."""
    live = live_bucket_version(spark, meta_path)
    if live is None or not reregister_bucket_table(
        spark, live["table_version"], int(live["n_buckets"]), cols_ddl, key_cols
    ):
        return None
    return [
        spark.table(live["table_version"]).join(own_ids, "doc_id", "left_anti"),
        parquet.filter(F.col("ingest_batch") > live["covered_batch"]),
    ]


def drop_bucket_versions(
    spark: SparkSession, table: str, keep: str | None = None
) -> list[str]:
    """Drop every ``<table>__v*`` version but ``keep``: catalog entries
    AND warehouse directories, including those of attempts that crashed
    before reaching the catalog.  Returns the names dropped."""
    table = table.lower()
    dropped = []
    for t in spark.catalog.listTables():
        if t.name.startswith(f"{table}__v") and t.name != keep:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            dropped.append(t.name)
    warehouse = warehouse_dir(spark)
    for d in os.listdir(warehouse) if os.path.isdir(warehouse) else []:
        if d.startswith(f"{table}__v") and d != keep:
            shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
            dropped.append(d)
    return dropped
