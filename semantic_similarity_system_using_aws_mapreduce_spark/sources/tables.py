"""Scan helpers for the driver's synthetic parquet fixture tables."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """The events fixture's timestamp physical encoding has varied
    across driver versions: TIMESTAMP(NANOS) (readable only as int64
    via ``spark.sql.legacy.parquet.nanosAsLong``), parquet
    ``timestamp[us]`` with ``isAdjustedToUTC=false`` (which Spark 4's
    reader infers as TIMESTAMP_NTZ), and plain UTC-adjusted TIMESTAMP.
    Normalize all three to TIMESTAMP so downstream epoch math
    (``unix_micros``, double casts) resolves.  Callers pin the session
    timezone to UTC before building on the result, so the NTZ→LTZ cast
    is a pure reinterpretation and wall-clock values match the file
    (and the DuckDB oracle, which reads the same column as naive)."""
    t = dict(df.dtypes).get(col)
    if t == "bigint":  # nanos-as-long
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def spread_small_scan(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Round-robin respread of a scan whose split count cannot feed
    the cluster — the parquet fixture ships as ONE sub-row-group file
    that Spark cannot split, so every downstream explode/hash stage
    would otherwise run on one core while 31 idle (measured: the DSIR
    feature explode alone ran 3.3 s single-task at sf0.1).

    Use ONLY in front of work that EXPANDS the input (token explodes,
    per-shingle hashing) whose aggregates are order-independent
    (integer or micro-quantized sums): for map-sized work the extra
    exchange is pure waste, and FP row-sums must keep their input
    order for cross-engine hash stability.  The guard makes it a
    no-op whenever the scan already has >= defaultParallelism /
    ``min_factor`` splits — always true on a real cluster reading
    real multi-file tables, so at 100 TB this never fires."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor >= p:
        return df
    return df.repartition(p)
