"""Checkpoint + lineage table — SURVEY.md I4 and the north rule's
"resumable from checkpoint with per-partition lineage + metrics".

The reference journals every import in ``osm.pgosm_flex``
(/root/reference/db/deploy/osm_pgosm_flex.sql:5-19, written
docker/db.py:255-302,666-695) and gets restartability from its batched
LIMIT/COMMIT loop (flex-config/sql/place_polygon_nested.sql:81-150). Here the
same contract is unit-of-work granular: a job is split into named work units
(typically coarse spatial cells); each unit's output is committed to its own
partition directory and then journaled with metrics. A killed job resumes by
anti-joining units against the journal — completed units are never
recomputed.

Storage is plain parquet append (one tiny file per unit — the journal is
driver-written and small); with Iceberg jars present the same API maps to an
Iceberg table with snapshot isolation.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

JOURNAL_SCHEMA = (
    "job_id string, unit string, status string, engine_version string, "
    "metrics string, started_at double, finished_at double, run_id string"
)


@dataclass
class Checkpointer:
    path: str  # journal directory
    job_id: str

    def _journal_dir(self) -> str:
        return os.path.join(self.path, "_journal")

    def read_journal(self, spark: SparkSession) -> DataFrame:
        d = self._journal_dir()
        if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for root, _, fs in os.walk(d) for f in fs
        ):
            return spark.createDataFrame([], schema=JOURNAL_SCHEMA)
        return spark.read.schema(JOURNAL_SCHEMA).parquet(d)

    def completed_units(self, spark: SparkSession) -> set[str]:
        j = self.read_journal(spark)
        rows = (
            j.filter((j["job_id"] == self.job_id) & (j["status"] == "completed"))
            .select("unit")
            .collect()
        )
        return {r["unit"] for r in rows}

    def _append(self, spark: SparkSession, rows: list[tuple]) -> None:
        """Journal rows are driver-written directly with pyarrow (one tiny
        uniquely-named file per append): concurrent unit threads can journal
        without racing on Spark's shared _temporary commit directory."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("job_id", pa.string()), ("unit", pa.string()),
                ("status", pa.string()), ("engine_version", pa.string()),
                ("metrics", pa.string()), ("started_at", pa.float64()),
                ("finished_at", pa.float64()), ("run_id", pa.string()),
            ]
        )
        cols = list(zip(*rows))
        table = pa.table(
            {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
        )
        d = self._journal_dir()
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(d, f"journal-{uuid.uuid4().hex}.parquet"))

    def mark_completed(
        self, spark: SparkSession, unit: str, metrics: dict, started_at: float
    ) -> None:
        from pgosm_flex_spark import __version__

        self._append(
            spark,
            [(
                self.job_id, unit, "completed", __version__,
                json.dumps(metrics, sort_keys=True), started_at, time.time(),
                uuid.uuid4().hex,
            )],
        )

    def run_units(
        self,
        spark: SparkSession,
        units: Iterable[str],
        process: Callable[[str], dict],
        max_parallel: int = 4,
    ) -> dict[str, dict]:
        """Process every unit not yet journaled as completed.

        ``process(unit)`` must write the unit's output to a location derived
        from the unit name (idempotent overwrite) and return a metrics dict.
        Output commit happens before journaling, so a crash between the two
        re-runs the unit idempotently — at-least-once with idempotent
        writes ⇒ exactly-once results, the same guarantee the reference gets
        from per-batch COMMIT.

        Units dispatch from a thread pool (``max_parallel`` concurrent Spark
        jobs): a strictly sequential loop leaves the cluster idle during each
        unit's scheduling/commit tail, which at 4N executors turns into the
        dominant cost. Spark's scheduler interleaves the concurrent jobs'
        stages across all cores; set ``max_parallel=1`` for the reference's
        strictly-serial batch-loop behavior.
        """
        done = self.completed_units(spark)
        results: dict[str, dict] = {}
        lock = threading.Lock()

        def run_one(unit: str) -> None:
            t0 = time.time()
            metrics = process(unit)
            self.mark_completed(spark, unit, metrics, t0)
            with lock:
                results[unit] = metrics

        todo = []
        for unit in units:
            if unit in done:
                results[unit] = {"skipped": True}
            else:
                todo.append(unit)
        if max_parallel <= 1 or len(todo) <= 1:
            for unit in todo:
                run_one(unit)
        else:
            with ThreadPoolExecutor(max_workers=max_parallel) as ex:
                futures = [ex.submit(run_one, u) for u in todo]
                for f in futures:
                    f.result()  # re-raise the first failure
        return results


def checkpointed_pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: DataFrame,
    out_dir: str,
    job_id: str,
    point_cols: list[str],
    unit_res: int = 4,
    max_parallel: int = 4,
    expected_units: Iterable[str] | None = None,
    unit_col: str | None = None,
    units: Iterable[str] | None = None,
    **pip_kwargs,
):
    """The flagship join as a resumable job: points are split by coarse cell
    (unit_res), each unit PIP-joins independently and commits
    ``out_dir/unit=<cell>/``, then journals. Resume skips completed cells.

    ``expected_units``: unit cells the caller knows are invalidated even if
    the (filtered) point set no longer reaches them — an append diff that
    moves or removes a cell's last points must still overwrite that cell's
    stale ``unit=<cell>/`` output (with an empty one), or stored pairs
    diverge from a full recompute.

    ``unit_col`` + ``units``: callers that already materialized the point
    side WITH its unit column (and learned the unit set from their own
    materialize action — one ``groupBy(unit).count()`` yields row count and
    unit list together) pass both to skip this function's own persist and
    unit-discovery pass. Measured at 96M points through the 4-executor
    topology, the default path costs a SECOND full-size cache of the point
    set (the ``withColumn`` persist below — double memory plus a fill pass)
    and a whole-cache distinct scan (124-488 task-seconds) before the first
    unit starts. With ``unit_col`` set, this function neither persists nor
    unpersists the caller's frame.
    """
    from pyspark.sql import functions as F

    from pgosm_flex_spark.index import cells
    from pgosm_flex_spark.operators.pip_join import (
        build_polygon_cover,
        cover_res_levels,
        pip_join,
    )

    cp = Checkpointer(path=out_dir, job_id=job_id)
    if unit_col is not None:
        if units is None:
            raise ValueError("unit_col requires units (the caller knows them)")
        pts = points.withColumnRenamed(unit_col, "__unit")
        units = {str(u) for u in units}
    else:
        pts = points.withColumn(
            "__unit", cells.cell_col(F.col("lon"), F.col("lat"), unit_res)
        ).persist()
        units = {str(r["__unit"]) for r in pts.select("__unit").distinct().collect()}
    if expected_units is not None:
        units |= set(expected_units)
    cover = build_polygon_cover(polygons).persist()
    # ONE materialize pass also yields the broadcast-strategy stats: rows +
    # boundary wkb bytes decide broadcast vs the salted shuffle fallback
    # (pip_join.should_broadcast_cover). A world/polygon set large enough to
    # blow the broadcast (measured: 337k polygons → 32M-row / 1 GB cover →
    # 590 s at 48M points) must co-partition by cell instead; callers can
    # still force either mode by passing broadcast_cover explicitly.
    cstats = cover.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("geom_wkb")).alias("b"),
    ).collect()[0]
    if "broadcast_cover" not in pip_kwargs:
        from pgosm_flex_spark.operators.pip_join import should_broadcast_cover

        pip_kwargs = dict(pip_kwargs)
        pip_kwargs["broadcast_cover"] = should_broadcast_cover(
            cstats["n"], cstats["b"]
        )
    # resolve the cover's resolution levels ONCE — per-unit pip_join calls
    # would otherwise each run a collect job just to rediscover them
    levels = cover_res_levels(cover)

    def process(unit: str) -> dict:
        sub = pts.filter(F.col("__unit") == int(unit))
        pairs = pip_join(
            sub, polygons, point_cols=point_cols, cover=cover,
            res_levels=levels, **pip_kwargs,
        )
        target = os.path.join(out_dir, f"unit={unit}")
        pairs.write.mode("overwrite").parquet(target)
        try:
            n = spark.read.parquet(target).count()
        except AnalysisException:  # zero-row unit: no part files to infer from
            n = 0  # a TRANSIENT read failure must still raise — the unit
            # would otherwise be journaled completed with a wrong metric
        return {"pairs": n}

    results = cp.run_units(spark, sorted(units), process, max_parallel=max_parallel)
    if unit_col is None:  # the caller owns its own persist otherwise
        pts.unpersist(blocking=False)
    cover.unpersist(blocking=False)
    return results
