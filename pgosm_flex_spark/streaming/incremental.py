"""Incremental / replication-analog operators — SURVEY.md §2.8.

The reference's ``--replication`` mode applies OSM diffs and then refreshes
derived artifacts (append start truncates the nested table,
/root/reference/db/deploy/replication_functions.sql:10-19; append finish
refreshes the subdivide matview and rebuilds nesting, lines 22-38). Late data
is handled by full-refresh of derived artifacts, not watermarks — the Spark
analog keeps that contract: idempotent per-cell recompute keyed by which
cells the diff touched (the append mode of jobs/import_job.py recomputes the
containment join's units for exactly these cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgosm_flex_spark.index import cells


def affected_cells(diff_points: DataFrame, res: int = 6) -> DataFrame:
    """Distinct coarse cells touched by a batch of changed points."""
    return (
        diff_points.select(
            cells.cell_col(F.col("lon"), F.col("lat"), res).alias("cell")
        ).distinct()
    )
