"""Compute-or-reuse checkpointing (SURVEY S9).

The reference's idempotency pattern — "if the CSV exists, read it,
otherwise compute and write it" (final_tables.py:12-26 and 5 more sites)
— as a parquet-based job wrapper. This is driver logic, not an operator;
at scale it's what makes a 12-hour pipeline resumable.

Path probes and deletes go through the Hadoop FileSystem API (``io.fs``)
so the same code is resumable on HDFS/S3A URIs, not only the driver's
local disk.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import fs


def compute_or_reuse(
    spark: SparkSession,
    path: str,
    compute: Callable[[], DataFrame],
    force: bool = False,
) -> DataFrame:
    """Return the checkpointed DataFrame at ``path`` if present, else run
    ``compute``, persist it, and return the re-read (so downstream reads
    the materialized, statistics-bearing parquet, not the live plan).

    The re-read of a fresh write takes the written schema instead of
    inferring it from the parquet footers, which costs a Spark job; a
    reused checkpoint has no schema at hand and infers it. Local
    checkpoints made while the stage ran (author_statistics makes one)
    back only the frame just written, so they are released once it
    commits; DataFrame caches are left to their owners.
    """
    marker = path.rstrip("/") + "/_SUCCESS"
    if not force and fs.exists(spark, marker):
        return spark.read.parquet(path)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = compute()
    df.write.mode("overwrite").parquet(path)
    for rdd_id, rdd in jsc.getPersistentRDDs().items():
        if rdd_id not in before and rdd.isCheckpointed():
            rdd.unpersist(False)
    return spark.read.schema(df.schema).parquet(path)


def invalidate(path: str, spark: SparkSession | None = None) -> None:
    """Refresh-by-delete (S10; research_pipeline_dag.py:39-54).

    With a session, deletes through the Hadoop FS (works on any scheme);
    without one, falls back to local-disk removal."""
    if spark is not None:
        fs.delete(spark, path)
        return
    import shutil

    shutil.rmtree(path, ignore_errors=True)
