"""Lineage + metrics table (FIXTURES.md §5 schema).

One row per extraction partition per run: input rows/pages, failure
counts, a bounded sample of failures, wall time, docs/sec. The Spark
analog of the reference's SQLite task ledger
(``bulk_processing/utils/database.py:16-49``) and MetricsKeeper
reporting (``karanta/pipeline.py:1404-1470``) — but append-only rows
on a snapshot-committed table instead of mutable row state, so resume
needs no coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

FAILURE_SAMPLE_N = 5


def lineage_rows(pages: DataFrame, run_id: str, config_hash: str) -> DataFrame:
    """Aggregate page-level extraction rows into per-partition lineage
    records. Distributed groupBy — no driver collection."""
    return (
        pages.groupBy("partition_id")
        .agg(
            # Distinct non-null urls, as countDistinct counts them, but
            # one aggregate phase instead of an Expand and two phases.
            F.size(F.collect_set("url")).alias("rows_in"),
            F.count(F.lit(1)).alias("pages_out"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("rows_ok"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("rows_failed"),
            F.slice(
                F.collect_list(
                    F.when(~F.col("ok"), F.struct("url", "error"))
                ),
                1,
                FAILURE_SAMPLE_N,
            ).alias("failure_samples"),
            F.sum("extract_ms").alias("wall_ms_d"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(config_hash).alias("config_hash"),
            F.col("partition_id"),
            F.concat(F.lit("partition-"), F.col("partition_id")).alias("input_split"),
            F.col("rows_in").cast("long"),
            F.col("rows_ok").cast("long"),
            F.col("rows_failed").cast("long"),
            "failure_samples",
            F.col("wall_ms_d").cast("long").alias("wall_ms"),
            F.when(
                F.col("wall_ms_d") > 0,
                F.col("rows_in") / (F.col("wall_ms_d") / 1000.0),
            ).otherwise(F.lit(0.0)).alias("docs_per_sec"),
            F.current_timestamp().alias("committed_at"),
        )
    )


def job_statistics(metrics: DataFrame) -> DataFrame:
    """A6/A7 analog: per-run status rollup over the lineage table —
    the reference's SQLite ``COUNT(*) GROUP BY status`` + CASE-derived
    job status (``bulk_processing/utils/database.py:100-129``) and
    AVG/MIN/MAX analytics (``:224-241``)."""
    per_run = metrics.groupBy("run_id", "config_hash").agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_ok").alias("rows_ok"),
        F.sum("rows_failed").alias("rows_failed"),
        F.avg("docs_per_sec").alias("avg_docs_per_sec"),
        F.min("docs_per_sec").alias("min_docs_per_sec"),
        F.max("docs_per_sec").alias("max_docs_per_sec"),
        F.sum("wall_ms").alias("total_wall_ms"),
    )
    return per_run.withColumn(
        "status",
        F.when(F.col("rows_failed") == 0, F.lit("completed"))
        .when(F.col("rows_ok") > 0, F.lit("completed_with_errors"))
        .otherwise(F.lit("failed")),
    )


def failures_path(metrics_path: str) -> str:
    """Sibling table of the lineage/metrics table holding EVERY failed
    url per run (not a bounded sample). The quarantine reads this: with
    only the FAILURE_SAMPLE_N-bounded ``failure_samples``, a partition
    with many failures would hide most failing urls from the attempt
    counter and they'd be retried forever."""
    return metrics_path.rstrip("/") + "_failures"


def failure_rows(pages: DataFrame, run_id: str) -> DataFrame:
    return pages.filter(~F.col("ok")).select(
        F.lit(run_id).alias("run_id"),
        "url",
        "error",
    )


def write_lineage(
    spark: SparkSession,
    pages: DataFrame,
    metrics_path: str,
    run_id: str,
    config_hash: str,
) -> None:
    lineage_rows(pages, run_id, config_hash).write.mode("append").parquet(metrics_path)
    failure_rows(pages, run_id).write.mode("append").parquet(
        failures_path(metrics_path)
    )
