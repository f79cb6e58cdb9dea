"""Pipeline runner — the ETLApp lifecycle re-expressed (SURVEY §3,
support/etl_app.py:90-285).

One run = plan → transform → write → record:

1. resolve the date window from the reference's CLI semantics
   (``-r/-s/-e``: last_run_date, start as absolute date or days-back,
   end; ``-F`` force; ``-0`` simulate; ``--debug`` repo suffix;
   ``-o`` tee output dir — etl_app.py:98-197);
2. plan = the J1 incremental anti-join of the source catalog listing
   against the target listing (``operators/incremental.py``) — the whole
   date range in ONE join, not a per-item driver loop.  The plan is
   catalog-sized, so it is resolved ONCE on the driver (one Arrow
   collect) and handed on as a local relation: the empty-plan gate, the
   planned count, the transform's reads of the plan and the catalog
   advance reuse those rows instead of re-running the anti-join;
3. transform = the registered pure DataFrame function for the stage;
4. write = partitioned layer write + catalog advance: ``run_stage``
   returns the upserted catalog as a frame (``StageRun.catalog``); the
   caller stores it (``catalog.upsert_table``) and emits the perfmet job
   row (``pipelines/perfmet.job_row``) — the runner itself writes
   neither.  ``simulate`` runs 1–3 and skips every write
   (storage.py:132-148's semantics), ``debug`` targets ``<layer>-test``
   paths (config_app.py:21-28).
"""

from __future__ import annotations

import argparse
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark import catalog as cat
from atd_data_lake_spark.io.writer import write_layer
from atd_data_lake_spark.operators.incremental import incremental_plan


def build_parser(app_name: str, descr: str = "") -> argparse.ArgumentParser:
    """The reference's standard flags (etl_app.py:95-115)."""
    p = argparse.ArgumentParser(prog=app_name, description=descr)
    p.add_argument("-r", "--last_run_date", help="YYYY-MM-DD lower bound")
    p.add_argument(
        "-s", "--start_date", help="days-back int or absolute YYYY-MM-DD"
    )
    p.add_argument("-e", "--end_date", help="YYYY-MM-DD upper bound")
    p.add_argument("-F", "--force", action="store_true")
    p.add_argument("-o", "--output_filepath", help="tee outputs here")
    p.add_argument("-0", "--simulate", action="store_true", dest="simulate")
    p.add_argument("--debug", action="store_true")
    return p


def resolve_dates(
    start_date: str | None,
    end_date: str | None,
    last_run_date: str | None,
    today: datetime | None = None,
) -> tuple[datetime | None, datetime | None, datetime | None]:
    """``-s`` accepts an integer (days back from today) or an absolute
    date (etl_app.py:139-151); one of -s/-r is required (:170-171)."""
    today = today or datetime.now().replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    start = None
    if start_date is not None:
        try:
            start = today - timedelta(days=int(start_date))
        except ValueError:
            start = datetime.fromisoformat(start_date)
    end = datetime.fromisoformat(end_date) if end_date else None
    last_run = datetime.fromisoformat(last_run_date) if last_run_date else None
    if start is None and last_run is None:
        raise ValueError("A last_run_date or start_date must be specified.")
    return start, end, last_run


@dataclass
class StageRun:
    """Outcome of one stage execution."""

    planned: int
    written: int
    seconds: float
    simulate: bool
    catalog: DataFrame  # post-run catalog state (unchanged when simulate)
    output: DataFrame | None = None


@dataclass
class Stage:
    """A registered pipeline stage: the Spark analog of one reference
    entry point (bt_json_standard, wt_ready, ...)."""

    name: str
    data_source: str
    src_repo: str
    tgt_repo: str
    #: (spark, plan) -> output DataFrame; ``plan`` carries the catalog rows
    #: to process (pointer, collection_date, ...).
    transform: Callable[[SparkSession, DataFrame], DataFrame]
    partition_cols: tuple[str, ...] = ("data_source", "collection_date")


def run_stage(
    spark: SparkSession,
    stage: Stage,
    catalog_df: DataFrame,
    lake_root: str,
    start: datetime | None = None,
    end: datetime | None = None,
    last_run_date: datetime | None = None,
    force: bool = False,
    simulate: bool = False,
    debug: bool = False,
) -> StageRun:
    """Execute one stage over its incremental plan.

    The returned ``StageRun.catalog`` is the catalog with one row per
    processed slice upserted for the target repo (S11) — a frame, not a
    write: storing it and emitting the perfmet row are the caller's.
    ``simulate`` runs planning + transform + count but writes nothing;
    ``debug`` redirects the layer path to ``<layer>-test``.
    """
    t0 = time.perf_counter()
    src = cat.query(
        catalog_df,
        repository=stage.src_repo,
        data_source=stage.data_source,
        start=start,
        end=end,
    )
    tgt = cat.query(
        catalog_df, repository=stage.tgt_repo, data_source=stage.data_source
    )
    # the anti-join's only evaluation: every later use of the plan reads
    # this LocalRelation and runs no job over the catalog
    tbl = incremental_plan(
        src, tgt, force=force, last_run_date=last_run_date
    ).toArrow()
    planned = tbl.num_rows
    if planned == 0:
        return StageRun(0, 0, time.perf_counter() - t0, simulate, catalog_df)
    plan = spark.createDataFrame(tbl)

    out = stage.transform(spark, plan)
    if simulate:
        out.count()  # the only action in simulate mode
        return StageRun(
            planned, 0, time.perf_counter() - t0, simulate, catalog_df, out
        )

    # the written count rides the write action as an observation
    # (accumulator-backed CollectMetrics) instead of an extra count() job
    # that would run the whole transform a second time
    obs_written = Observation()
    out = out.observe(obs_written, F.count(F.lit(1)).alias("n"))
    layer = stage.tgt_repo + ("-test" if debug else "")
    write_layer(out, lake_root, layer, mode="overwrite",
                partition_cols=stage.partition_cols)
    written = int(obs_written.get["n"])

    new_rows = plan.select(
        F.lit(stage.tgt_repo).alias("repository"),
        F.col("data_source"),
        F.col("id_base"),
        F.col("id_ext"),
        F.concat(F.lit(f"{lake_root}/{layer}")).alias("pointer"),
        F.col("collection_date"),
        F.col("collection_end"),
        F.current_timestamp().alias("processing_date"),
        F.lit("{}").alias("metadata"),
    )
    updated_catalog = cat.upsert(catalog_df, new_rows)
    return StageRun(
        planned,
        written,
        time.perf_counter() - t0,
        simulate,
        updated_catalog,
        out,
    )
