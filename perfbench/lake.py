"""``lake_lifecycle``: the lake's nightly job for the ``wt`` source, raw →
standardized → ready → public, through ``runner.run_stage``, the layer
writer, the pipelines and the ``io/txlog`` catalog.

Phases, each timed as whole passes over the three stages (one per
target layer, in layer order, as the nightly cron runs them):

1. backfill — every day but the last ``nightly`` ones, in one pass;
2. nightly — one new day per pass;
3. no-op — the same run again with nothing new.

After each stage the catalog advance is MERGEd into the stored catalog
with ``catalog.upsert_table`` and read back with ``txlog.read_table``, so
the next stage plans against storage, not a growing lineage.  The run is
one fresh process, as a nightly batch job is: the backfill pass pays the
engine's first-use costs.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from datetime import datetime, timedelta
from functools import reduce
from statistics import median

from pyspark.sql import functions as F

from atd_data_lake_spark import catalog as cat
from atd_data_lake_spark import runner
from atd_data_lake_spark.io import txlog
from atd_data_lake_spark.pipelines import perfmet, wt

import gen_sensors
from common import (Tracer, add_stages, cpu_ratio, job_group, stage_totals,
                    zero_stages)

SOURCE = "wt"
LAYERS = ("standardized", "ready", "public")
PHASES = ("backfill", "nightly", "noop")
DAYS = 3  # two backfill days, one nightly day
NIGHTLY = 1
DETECTORS = 400  # 38 400 raw rows a day
MIN_NOOP = 1


def _day(ts) -> str:
    return ts.strftime("%Y-%m-%d")


def _end_of(day: str) -> datetime:
    return datetime.fromisoformat(day) + timedelta(days=1)


def prepare(work: str, seed: int, days: int = DAYS,
            detectors: int = DETECTORS) -> dict:
    """The Spark-free part of set-up, run while the session starts: a fresh
    lake directory with the raw files and the device dimension."""
    t0 = time.perf_counter()
    root = os.path.join(work, "lake")
    shutil.rmtree(root, ignore_errors=True)
    raw = gen_sensors.write_raw(os.path.join(root, "raw"), seed, days, detectors)
    devices = gen_sensors.write_devices(os.path.join(root, "dims"))
    return {"root": root, "days": days, "detectors": detectors, "raw": raw,
            "devices": devices, "generate_s": time.perf_counter() - t0}


class Lake:
    """One lake under ``root``: raw files, layers, catalog, devices."""

    def __init__(self, spark, inputs: dict):
        self.spark, self.root, self.raw = spark, inputs["root"], inputs["raw"]
        self.lake_root = os.path.join(self.root, "lake")
        self.catalog_path = os.path.join(self.root, "catalog")
        self.planned_days: dict[str, list[str]] = {}
        self.commits: list[txlog.CommitResult] = []
        self.devices = spark.read.parquet(inputs["devices"])

    def setup(self) -> None:
        """Seed the raw catalog rows (one MERGE) and build the stages."""
        rows = [
            ("raw", SOURCE, "kits", "csv", meta["path"],
             datetime.fromisoformat(day), None, datetime(2024, 1, 1), "{}")
            for day, meta in sorted(self.raw.items())
        ]
        seed_rows = self.spark.createDataFrame(rows, cat.CATALOG_SCHEMA)
        self.commits.append(cat.upsert_table(self.spark, self.catalog_path, seed_rows))
        self.catalog_df = txlog.read_table(self.spark, self.catalog_path)
        make = {"standardized": self._standardize, "ready": self._ready,
                "public": self._publish}
        src_of = {"standardized": "raw", "ready": "standardized", "public": "ready"}
        self.stages = [
            runner.Stage(name=f"{SOURCE}_{layer}", data_source=SOURCE,
                         src_repo=src_of[layer], tgt_repo=layer,
                         transform=make[layer])
            for layer in LAYERS
        ]

    # -- stage transforms: read the planned slices, call pipelines.wt ----------

    def _planned(self, layer: str, plan, cols=("collection_date",)) -> list:
        rows = plan.select(*cols).collect()
        self.planned_days[layer] = sorted({_day(r["collection_date"]) for r in rows})
        return rows

    def _slices(self, spark, layer: str, days: list[str]):
        base = f"{self.lake_root}/{layer}"
        return spark.read.option("basePath", base).parquet(
            *[f"{base}/data_source={SOURCE}/collection_date={d}" for d in days]
        )

    def _standardize(self, spark, plan):
        rows = self._planned("standardized", plan, ("pointer", "collection_date"))
        raw = spark.read.csv(sorted(r["pointer"] for r in rows), header=True)
        return wt.standardize(raw).withColumn("data_source", F.lit(SOURCE)).withColumn(
            "collection_date", F.date_format("curDateTime", "yyyy-MM-dd")
        )

    def _ready(self, spark, plan):
        self._planned("ready", plan)
        std = self._slices(spark, "standardized", self.planned_days["ready"])
        return wt.ready(std, self.devices)

    def _publish(self, spark, plan):
        self._planned("public", plan)
        ready = self._slices(spark, "ready", self.planned_days["public"])
        return wt.publish(ready).withColumn("data_source", F.lit(SOURCE)).withColumn(
            "collection_date", F.substring("curdatetime", 1, 10)
        )

    # -- passes -----------------------------------------------------------------

    def run_pass(self, phase: str, end: datetime, tracer: Tracer) -> dict:
        """Every stage once; the pass wall and one record per stage."""
        records = []
        t0 = time.perf_counter()
        for stage in self.stages:
            layer = stage.tgt_repo
            rec: dict = {"phase": phase, "layer": layer, "ok": True,
                         "planned": 0, "written": 0, "days": [],
                         "run_s": 0.0, "catalog_s": 0.0}
            self.planned_days.pop(layer, None)
            try:
                s0 = time.perf_counter()
                with tracer.span("run_stage", phase=phase, layer=layer):
                    run = runner.run_stage(self.spark, stage, self.catalog_df,
                                           self.lake_root, end=end)
                s1 = time.perf_counter()
                rec.update(planned=run.planned, written=run.written,
                           days=self.planned_days.get(layer, []), run_s=s1 - s0)
                if run.planned:
                    with tracer.span("catalog", phase=phase, layer=layer):
                        updates = cat.query(
                            run.catalog, repository=layer, data_source=SOURCE
                        ).filter(F.date_format("collection_date", "yyyy-MM-dd")
                                 .isin(rec["days"]))
                        res = cat.upsert_table(self.spark, self.catalog_path, updates)
                        self.catalog_df = txlog.read_table(self.spark, self.catalog_path)
                    self.commits.append(res)
                    rec.update(files_added=res.adds, files_removed=res.removes,
                               catalog_s=time.perf_counter() - s1)
            except Exception as e:  # noqa: BLE001 — a failed stage is counted
                rec.update(ok=False, error=str(e).split("\n")[0][:300],
                           traceback=traceback.format_exc())
            records.append(rec)
        return {"phase": phase, "wall_s": time.perf_counter() - t0, "stages": records}

    # -- checks -----------------------------------------------------------------

    def check_catalog(self, days: list[str]) -> list[str]:
        """Exactly one catalog row per (repository, source, day): raw for
        every generated day, each layer for every day processed so far.
        Also records the catalog's row count."""
        got = (
            txlog.read_table(self.spark, self.catalog_path)
            .groupBy("repository", "data_source",
                     F.date_format("collection_date", "yyyy-MM-dd").alias("d"))
            .count()
            .collect()
        )
        seen = {(r["repository"], r["data_source"], r["d"]): r["count"] for r in got}
        self.catalog_rows = sum(seen.values())
        want = {("raw", SOURCE, d) for d in self.raw}
        want |= {(layer, SOURCE, d) for layer in LAYERS for d in days}
        errors = [f"catalog: {k} has {n} rows" for k, n in seen.items() if n != 1]
        errors += [f"catalog: {k} missing" for k in sorted(want - set(seen))]
        errors += [f"catalog: {k} unexpected" for k in sorted(set(seen) - want)]
        return errors

    def check_public(self, days: list[str]) -> list[str]:
        """Rows conserved raw → public for every day, and ``row_id``
        unique across the whole public layer."""
        pub = self._slices(self.spark, "public", days)
        got = {
            _day(r["collection_date"]): r["n"]
            for r in pub.groupBy("collection_date").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        errors = [f"public {d}: {got.get(d, 0)} rows, raw {self.raw[d]['rows']}"
                  for d in days if got.get(d, 0) != self.raw[d]["rows"]]
        n, ids = pub.agg(F.count(F.lit(1)), F.countDistinct("row_id")).first()
        if ids != n:
            errors.append(f"public: {n - ids} repeated row_id")
        return errors

    def walk(self, rel: str) -> dict:
        """Rows (parquet footers), files and bytes under one directory."""
        import pyarrow.parquet as pq

        rows = files = size = 0
        for dirpath, _, names in os.walk(os.path.join(self.root, rel)):
            for n in names:
                p = os.path.join(dirpath, n)
                size += os.path.getsize(p)
                if n.endswith(".parquet"):
                    files += 1
                    rows += pq.read_metadata(p).num_rows
        return {"rows": rows, "files": files, "bytes": size}


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------


def _wrap_write_layer(tracer: Tracer):
    """Trace ``write_layer`` as ``run_stage`` calls it (through the runner
    module's own binding), without changing the package; returns the
    original to restore."""
    inner = runner.write_layer

    def traced(df, lake_root, layer, **kw):
        with tracer.span("write_layer", layer=layer):
            return inner(df, lake_root, layer, **kw)

    runner.write_layer = traced
    return inner


def run(spark, seed: int, seconds: float, tracer: Tracer, inputs: dict,
        corrupt: bool = False) -> dict:
    """Seed the catalog, run the three phases, check.  No-op passes repeat
    until ``seconds`` have passed since the backfill began (at least
    ``MIN_NOOP``).  ``corrupt`` drops one public row before the checks
    (the self-test's proof that they fire)."""
    t_setup = time.perf_counter()
    lake = Lake(spark, inputs)
    lake.setup()
    setup_s = time.perf_counter() - t_setup

    days = inputs["days"]
    all_days = [gen_sensors.day_str(i) for i in range(days)]
    back_days = all_days[: days - NIGHTLY]
    inner = _wrap_write_layer(tracer) if tracer.enabled else None
    passes = []
    errors: list[str] = []

    def timed_pass(phase: str, end: datetime) -> None:
        with job_group(spark, f"pass/{phase}"), tracer.span("pass", phase=phase):
            passes.append(lake.run_pass(phase, end, tracer))

    t_timed = time.perf_counter()
    try:
        timed_pass("backfill", _end_of(back_days[-1]))
        errors += lake.check_catalog(back_days)
        for d in all_days[days - NIGHTLY:]:
            timed_pass("nightly", _end_of(d))
        while (sum(p["phase"] == "noop" for p in passes) < MIN_NOOP
               or time.perf_counter() - t_timed < seconds):
            timed_pass("noop", _end_of(all_days[-1]))
    finally:
        if inner is not None:
            runner.write_layer = inner

    if corrupt:
        _drop_one_public_row(spark, lake, all_days[0])
    errors += lake.check_public(all_days)
    errors += lake.check_catalog(all_days)
    for p in passes:
        for s in p["stages"]:
            if not s["ok"]:
                errors.append(f"{p['phase']} {s['layer']}: {s['error']}")
            elif p["phase"] == "noop" and s["planned"]:
                errors.append(f"noop {s['layer']}: planned {s['planned']}")
                s["ok"] = False

    walls = {ph: [p["wall_s"] for p in passes if p["phase"] == ph] for ph in PHASES}
    backfill_rows = sum(lake.raw[d]["rows"] for d in back_days)
    raw_bytes = sum(m["bytes"] for m in lake.raw.values())
    storage = {layer: lake.walk(f"lake/{layer}") for layer in LAYERS}
    storage["catalog"] = lake.walk("catalog")
    attempted = sum(len(p["stages"]) for p in passes)
    failed = sum(not s["ok"] for p in passes for s in p["stages"])
    result = {
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": median(walls["nightly"]),
            "rows_per_s": backfill_rows / walls["backfill"][0],
            "bytes_per_input_byte": sum(v["bytes"] for v in storage.values()) / raw_bytes,
        },
        "phases": {ph: {"walls_s": w, "median_s": median(w)} for ph, w in walls.items()},
        "noop_s": median(walls["noop"]),
        "setup_parts": {"generate_s": inputs["generate_s"], "catalog_seed_s": setup_s},
        "input": {
            "source": SOURCE, "days": days, "backfill_days": len(back_days),
            "nightly_days": NIGHTLY, "rows_per_day": inputs["detectors"] * 96,
            "backfill_rows": backfill_rows, "raw_bytes": raw_bytes,
        },
        "storage": storage,
        "catalog_rows": lake.catalog_rows,
        "txlog": {"commits": len(lake.commits),
                  "files_added": sum(c.adds for c in lake.commits),
                  "files_removed": sum(c.removes for c in lake.commits)},
        "passes": passes,
        "errors": errors,
        "attempted": attempted,
        "failed": min(attempted, failed + len(errors)),
        "timed_wall_s": sum(p["wall_s"] for p in passes),
    }
    if tracer.enabled:
        result["trace"] = _trace_summary(tracer)
        result["perfmet_job_rows"] = _perfmet_rows(spark, lake, passes)
        result["contention"] = {ph: result["trace"][ph]["cpu_per_run"] for ph in PHASES}
    else:
        result["contention"] = {ph: cpu_ratio(stage_totals(spark, f"pass/{ph}"))
                                for ph in PHASES}
    return result


def _drop_one_public_row(spark, lake: Lake, day: str) -> None:
    path = f"{lake.lake_root}/public/data_source={SOURCE}/collection_date={day}"
    df = spark.read.parquet(path)
    keep = df.limit(df.count() - 1).toPandas()
    shutil.rmtree(path)
    os.makedirs(path)
    keep.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def _trace_summary(tracer: Tracer) -> dict:
    """Per phase: the wall, per layer plan (``run_stage`` minus its
    ``write_layer`` child) / write / catalog seconds, the catalog share of
    the wall, Spark stage totals, CPU ÷ run, and how much of the wall the
    stage spans cover."""
    spans = tracer.spans
    out: dict = {}
    for phase in PHASES:
        roots = [s for s in spans if s["name"] == "pass" and s["phase"] == phase]
        wall = sum(tracer.duration(r) for r in roots)
        stages = zero_stages()
        for r in roots:
            add_stages(stages, tracer.subtree_stages(r))
        layers = {}
        for layer in LAYERS:
            mine = [s for s in spans if s.get("phase") == phase
                    and s.get("layer") == layer]
            run_ids = {s["id"] for s in mine if s["name"] == "run_stage"}
            run_s = sum(tracer.duration(s) for s in mine if s["name"] == "run_stage")
            write = sum(tracer.duration(s) for s in spans
                        if s["name"] == "write_layer" and s["parent"] in run_ids)
            layers[layer] = {
                "plan_s": run_s - write,
                "write_s": write,
                "catalog_s": sum(tracer.duration(s) for s in mine
                                 if s["name"] == "catalog"),
            }
        children = [s for s in spans if s["parent"] in {r["id"] for r in roots}]
        out[phase] = {
            "wall_s": wall,
            "layers": layers,
            "catalog_share": (sum(v["catalog_s"] for v in layers.values()) / wall
                              if wall else 0.0),
            "spark": stages,
            "cpu_per_run": cpu_ratio(stages),
            "span_coverage": tracer.coverage(children, wall),
        }
    return out


def _perfmet_rows(spark, lake: Lake, passes: list[dict]) -> list[dict]:
    """One ``etl_perfmet_job``-shaped row per stage run that wrote
    something, built with ``perfmet.job_row``, plus Delta-style
    ``operationMetrics`` (output rows, bytes and files) walked from the
    partitions the stage wrote."""
    runs = [s for p in passes for s in p["stages"] if s["planned"]]
    if not runs:
        return []
    obs = spark.createDataFrame(
        [(i, r["written"], datetime.fromisoformat(r["days"][0]),
          _end_of(r["days"][-1])) for i, r in enumerate(runs)],
        "i int, n_obs long, min_ts timestamp, max_ts timestamp",
    )
    rows = reduce(
        lambda a, b: a.unionByName(b),
        [perfmet.job_row(obs.filter(F.col("i") == i), SOURCE,
                         f"{r['phase']}.{r['layer']}", r["run_s"] + r["catalog_s"])
         for i, r in enumerate(runs)],
    ).collect()
    out = []
    for r, row in zip(runs, rows):
        parts = [lake.walk(f"lake/{r['layer']}/data_source={SOURCE}/collection_date={d}")
                 for d in r["days"]]
        out.append({
            **row.asDict(),
            "operationMetrics": {
                "numOutputRows": sum(p["rows"] for p in parts),
                "numOutputBytes": sum(p["bytes"] for p in parts),
                "numFiles": sum(p["files"] for p in parts),
            },
        })
    return out
