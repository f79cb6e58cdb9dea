"""Spark-job budget for one nightly lake stage: ``runner.run_stage``, the
``catalog.upsert_table`` MERGE that stores its catalog advance, and the
``txlog.read_table`` that reads the stored catalog back.

A nightly stage moves one day, so its wall is the fixed count of Spark
jobs it launches, not data volume.  This guard turns today's counts into
a ceiling the way ``test_plan_budgets.py`` caps exchanges: tightening is
free, loosening must be a deliberate edit here.

The shape is the lake's: a stored ``io/txlog`` catalog with three raw
days, two of them already processed into the target layer, read back
with ``txlog.read_table``; the stage plans the third day, writes it, and
its catalog advance is MERGEd back.  Each call runs under its own
``setJobGroup`` and the jobs are counted from the status tracker.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from atd_data_lake_spark import catalog as cat
from atd_data_lake_spark.io import txlog
from atd_data_lake_spark.runner import Stage, run_stage

# jobs per call, as measured on the plan-once runner, the sort-free
# MERGE source whose INT64 collection_date prunes every earlier day's
# file, and the footer-schema snapshot read (the re-planning runner ran
# 4, the two-pass MERGE 8 and the INT96 single-pass MERGE 5 on the same
# catalog; the inferring snapshot read ran 1)
RUN_STAGE_JOBS = 3
UPSERT_TABLE_JOBS = 2
READ_TABLE_JOBS = 0


def _row(repo: str, day: int):
    return (repo, "wt", "kits", "csv", f"/lake/{repo}",
            datetime(2019, 12, day), None, datetime(2020, 1, 1), "{}")


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_nightly_stage_job_budget(spark, tmp_path):
    table = str(tmp_path / "catalog")
    rows = [_row("raw", d) for d in (1, 2, 3)]
    rows += [_row("standardized", d) for d in (1, 2)]
    for r in rows:  # one commit per slice, as the lake's catalog grows
        cat.upsert_table(spark, table,
                         spark.createDataFrame([r], cat.CATALOG_SCHEMA))
    catalog_df = txlog.read_table(spark, table)

    stage = Stage(
        name="wt_standardize", data_source="wt", src_repo="raw",
        tgt_repo="standardized",
        transform=lambda spark_, plan: plan.select(
            "data_source",
            F.date_format("collection_date", "yyyy-MM-dd")
            .alias("collection_date"),
            F.lit(1).alias("v"),
        ),
    )
    run, run_jobs = _jobs(
        spark, "budget/run_stage",
        lambda: run_stage(spark, stage, catalog_df, str(tmp_path / "lake")),
    )
    assert run.planned == 1 and run.written == 1

    updates = cat.query(run.catalog, repository="standardized",
                        data_source="wt", start=datetime(2019, 12, 3))
    res, upsert_jobs = _jobs(
        spark, "budget/upsert_table",
        lambda: cat.upsert_table(spark, table, updates),
    )
    assert res.removes == 0
    stored, read_jobs = _jobs(
        spark, "budget/read_table", lambda: txlog.read_table(spark, table),
    )
    assert stored.count() == len(rows) + 1

    # the MERGE source keeps query's sort out of its plan: no range
    # exchange, so no sampling job
    plan = cat.one_per_pk(updates)._jdf.queryExecution().executedPlan()
    assert "rangepartitioning" not in plan.toString()

    assert run_jobs <= RUN_STAGE_JOBS, run_jobs
    assert upsert_jobs <= UPSERT_TABLE_JOBS, upsert_jobs
    assert read_jobs <= READ_TABLE_JOBS, read_jobs
