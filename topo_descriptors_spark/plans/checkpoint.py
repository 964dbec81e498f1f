"""Checkpointed, resumable partitioned runs with lineage + metrics.

The reference has no checkpointing (each scale is computed and written
sequentially, reference topo.py:53-59); the north rule requires it:
per-partition completion markers, resume by anti-joining work units
against the marker table, and lineage + counter metrics persisted next
to the output snapshots.

Layout under ``out_dir``::

    part=<unit>/...      one output partition per work unit (parquet)
    _markers/u_<unit>/   completion markers (one tiny parquet dir per
                         unit: unit, n_rows, wall_sec, finished_at,
                         run_id — per-unit dirs so concurrent unit
                         completions never contend on a shared commit)
    _lineage.json        inputs, params, engine version, run history

A unit is marked complete ONLY after its partition write finished, so a
crash mid-unit leaves no marker and the unit reruns from scratch into
the same path (overwrite) — idempotent at-least-once execution with
exactly-once visible results.

At warehouse scale the marker table is tiny (one row per coarse unit —
date buckets / entity ranges), so the resume anti-join broadcasts.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor, as_completed
from threading import Lock

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F


def _markers_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_markers")


def completed_units(spark: SparkSession, out_dir: str) -> set[str]:
    path = _markers_path(out_dir)
    try:
        return {
            r.unit
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(path)
            .select("unit")
            .distinct()
            .collect()
        }
    except Exception:
        return set()


def pending_units(
    spark: SparkSession, units: Sequence, out_dir: str
) -> list:
    """Anti-join of work units against the marker table (driver-side set
    difference here because the unit list is driver-resident; see
    :func:`pending_units_df` for the DataFrame form)."""
    done = completed_units(spark, out_dir)
    return [u for u in units if str(u) not in done]


def pending_units_df(units_df: DataFrame, out_dir: str) -> DataFrame:
    """DataFrame form: ``units_df`` (column ``unit``) anti-joined against
    the marker table — the scalable resume path when the unit list is a
    table itself."""
    spark = units_df.sparkSession
    try:
        markers = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(_markers_path(out_dir))
            .select("unit")
        )
    except Exception:
        return units_df
    return units_df.join(F.broadcast(markers), "unit", "left_anti")


def run_partitioned(
    spark: SparkSession,
    units: Sequence,
    unit_fn: Callable[[object], DataFrame],
    out_dir: str,
    run_id: str = "run",
    lineage: dict | None = None,
    on_unit_done: Callable[[str, int, float], None] | None = None,
    max_parallel_units: int = 4,
) -> dict:
    """Execute ``unit_fn(unit)`` per pending work unit, writing each
    result to ``out_dir/part=<unit>`` with a completion marker.

    Already-marked units are skipped (resume).  Returns the run metrics
    dict (also persisted).  ``unit_fn`` must be deterministic per unit —
    reruns overwrite the partition.

    Scale design: row counts are captured with ``df.observe`` DURING the
    partition write (no re-read of written output), and up to
    ``max_parallel_units`` units run concurrently from driver threads —
    each under its own scheduler pool so a FAIR scheduler interleaves
    them and a partially-idle cluster stays busy.  Each unit's marker is
    its own tiny parquet directory (``_markers/u_<unit>``), so
    concurrent unit completions never contend on one output commit.
    With ``max_parallel_units=1`` execution is strictly sequential in
    ``units`` order (deterministic — useful for tests).  A failing unit
    leaves no marker (it reruns on resume); other in-flight units finish
    and commit before the first error is re-raised.
    """
    os.makedirs(out_dir, exist_ok=True)
    todo = pending_units(spark, units, out_dir)
    skipped = len(units) - len(todo)
    metrics = {"run_id": run_id, "units_total": len(units),
               "units_skipped_resume": skipped, "units_run": 0, "rows": 0}
    t_run = time.monotonic()
    lock = Lock()

    def _run_unit(unit) -> tuple[str, int, float]:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"unit_{unit}")
        try:
            t0 = time.monotonic()
            df = unit_fn(unit)
            obs = Observation(f"rows_{run_id}_{unit}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            part_path = os.path.join(out_dir, f"part={unit}")
            df.write.mode("overwrite").parquet(part_path)
            n_rows = int(obs.get["n"])  # filled by the write job itself
            wall = time.monotonic() - t0
            marker = spark.createDataFrame(
                [
                    Row(
                        unit=str(unit),
                        n_rows=n_rows,
                        wall_sec=float(round(wall, 3)),
                        finished_at=time.strftime(
                            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                        ),
                        run_id=run_id,
                    )
                ]
            )
            # per-unit marker write is the commit point for this unit
            marker.write.mode("overwrite").parquet(
                os.path.join(_markers_path(out_dir), f"u_{unit}")
            )
            return str(unit), n_rows, wall
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    def _finish(result: tuple[str, int, float]) -> None:
        unit, n_rows, wall = result
        with lock:
            metrics["units_run"] += 1
            metrics["rows"] += n_rows
        if on_unit_done is not None:
            on_unit_done(unit, n_rows, wall)

    if max_parallel_units <= 1:
        for unit in todo:
            _finish(_run_unit(unit))
    else:
        errors: list[Exception] = []
        with ThreadPoolExecutor(max_workers=max_parallel_units) as pool:
            futures = {pool.submit(_run_unit, u): u for u in todo}
            for fut in as_completed(futures):
                try:
                    _finish(fut.result())
                except Exception as exc:  # noqa: BLE001 — unit failure
                    errors.append(exc)
        if errors:
            raise errors[0]
    metrics["wall_sec"] = round(time.monotonic() - t_run, 3)

    lineage_path = os.path.join(out_dir, "_lineage.json")
    record = {
        "run_id": run_id,
        "engine": "topo_descriptors_spark",
        "lineage": lineage or {},
        "metrics": metrics,
    }
    history = []
    if os.path.exists(lineage_path):
        with open(lineage_path) as f:
            history = json.load(f)
    history.append(record)
    with open(lineage_path, "w") as f:
        json.dump(history, f, indent=2, default=str)
    return metrics


def read_run(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the full output of a partitioned run.

    Public API: the read side of the checkpointed runner."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "part=*")
    )
