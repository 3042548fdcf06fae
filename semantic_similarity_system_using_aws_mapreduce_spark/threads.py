"""Driver threads for Spark actions that do not depend on each other.

Spark schedules jobs from several driver threads at once, so two
independent actions can share the cores instead of running one after
the other.  A job's group, description and scheduler pool are local
properties of the driver thread that starts it; ``submit`` copies the
submitting thread's properties into the task, so a caller's
``sc.setJobGroup`` covers every job its worker threads start.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def submit(pool: ThreadPoolExecutor, spark: SparkSession, fn, *args) -> Future:
    """``pool.submit(fn, *args)`` with the calling thread's Spark local
    properties.  They are copied at each call, so no two tasks share one
    properties object (Spark sets the SQL execution id in it while an
    action runs)."""
    return pool.submit(inheritable_thread_target(spark)(fn), *args)
