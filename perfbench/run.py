#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload lake_lifecycle --seed 1 --seconds 2 --trace 0

Workloads: ``lake_lifecycle`` (``lake.py``) and ``query_sweep``
(``queries.py``).  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with one span per layer call
and prints the per-layer metrics.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
full artifact (host state, session shape, spans, per-stage records) goes
to ``perfbench/out/<workload>_seed<n>_trace<t>.json``.  The exit code is
non-zero when any correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
# temporary files stay inside the checkout
TMP = os.path.join(HERE, "work", "tmp")
os.makedirs(TMP, exist_ok=True)
os.environ["TMPDIR"] = TMP

# the package under test must import before anything starts
import common  # noqa: E402
import lake  # noqa: E402
import queries  # noqa: E402

WORKLOADS = {"lake_lifecycle": lake, "query_sweep": queries}

# name -> unit; every workload reports every metric of its mode
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "bytes_per_input_byte": "ratio",
}


def _per_layer_units() -> dict[str, str]:
    units = {}
    for phase in ("backfill", "nightly"):
        for layer in lake.LAYERS:
            for step in ("plan_s", "write_s", "catalog_s"):
                units[f"{phase}.{layer}.{step}"] = "s"
        units[f"{phase}.catalog_share"] = "ratio"
        units[f"{phase}.spark.tasks"] = "count"
        units[f"{phase}.spark.task_run_s"] = "s"
        units[f"{phase}.spark.task_cpu_s"] = "s"
        units[f"{phase}.spark.shuffle_write_mb"] = "MB"
        units[f"{phase}.spark.spill_mb"] = "MB"
        units[f"{phase}.spark.cpu_per_run"] = "ratio"
    for layer in lake.LAYERS:
        units[f"{layer}.rows_written"] = "rows"
        units[f"{layer}.files_written"] = "files"
        units[f"{layer}.bytes_written"] = "bytes"
    units["txlog.files_added"] = "files"
    units["txlog.files_removed"] = "files"
    units["catalog.rows"] = "rows"
    units["noop.pass_s"] = "s"
    for fam in queries.FAMILIES:
        units[f"{fam}.wall_s"] = "s"
        units[f"{fam}.task_cpu_s"] = "s"
        units[f"{fam}.shuffle_mb"] = "MB"
        units[f"{fam}.spill_mb"] = "MB"
        units[f"{fam}.cpu_per_run"] = "ratio"
    units["trace.span_coverage"] = "ratio"
    units["trace.self_s"] = "s"
    return units


PER_LAYER = _per_layer_units()


def per_layer_values(workload: str, result: dict, tracer) -> dict[str, float]:
    """Every per-layer metric; those of layers another workload exercises
    read 0 (the layer did no work in this run)."""
    v = {name: 0.0 for name in PER_LAYER}
    trace = result["trace"]
    if workload == "lake_lifecycle":
        for phase in ("backfill", "nightly"):
            t = trace[phase]
            for layer in lake.LAYERS:
                for step, x in t["layers"][layer].items():
                    v[f"{phase}.{layer}.{step}"] = x
            v[f"{phase}.catalog_share"] = t["catalog_share"]
            for k in ("tasks", "task_run_s", "task_cpu_s", "shuffle_write_mb",
                      "spill_mb"):
                v[f"{phase}.spark.{k}"] = t["spark"][k]
            v[f"{phase}.spark.cpu_per_run"] = t["cpu_per_run"]
        for layer in lake.LAYERS:
            st = result["storage"][layer]
            v[f"{layer}.rows_written"] = st["rows"]
            v[f"{layer}.files_written"] = st["files"]
            v[f"{layer}.bytes_written"] = st["bytes"]
        v["txlog.files_added"] = result["txlog"]["files_added"]
        v["txlog.files_removed"] = result["txlog"]["files_removed"]
        v["catalog.rows"] = result["catalog_rows"]
        v["noop.pass_s"] = result["noop_s"]
        v["trace.span_coverage"] = min(
            trace[ph]["span_coverage"] for ph in ("backfill", "nightly", "noop")
        )
    else:
        for fam, f in trace["families"].items():
            for k in ("wall_s", "task_cpu_s", "shuffle_mb", "spill_mb", "cpu_per_run"):
                v[f"{fam}.{k}"] = f[k]
        v["trace.span_coverage"] = trace["span_coverage"]
    v["trace.self_s"] = tracer.self_s
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the self-test only: tiny inputs, and one output corrupted before
    # the checks so that they must fail
    ap.add_argument("--small", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    workload = WORKLOADS[args.workload]
    size = {}
    if args.small:
        size = {"days": 3, "detectors": 4} if workload is lake else {"sf": 0.001}
    work = os.path.join(common.WORK, args.workload)
    host = common.Host()

    # set-up: the inputs are made while the session starts
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(workload.prepare, work, args.seed, **size)
        spark = common.start_spark(work)
        session_s = time.perf_counter() - t0
    try:
        inputs = prepared.result()
        prepare_s = time.perf_counter() - t0
        tracer = common.Tracer(spark, bool(args.trace))
        result = workload.run(spark, args.seed, args.seconds, tracer, inputs,
                              corrupt=args.corrupt)
        e2e = dict(result.pop("end_to_end"))
        e2e["setup_s"] += prepare_s
        e2e["peak_rss_mb"] = common.peak_rss_mb(spark)
        shape = common.session_shape(spark)
    finally:
        common.stop_spark(spark)

    correct = not result["errors"]
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session_s": session_s, "prepare_s": prepare_s,
        "host": host.finish(), "session": shape, "end_to_end": e2e, **result,
    }
    if args.trace:
        values = per_layer_values(args.workload, result, tracer)
        units = PER_LAYER
        untraced = common.read_artifact(args.workload, args.seed, False)
        artifact["per_layer"] = values
        artifact["tracing_overhead"] = {
            "tracer_self_s": tracer.self_s,
            "traced_timed_wall_s": result["timed_wall_s"],
            "untraced_timed_wall_s": untraced and untraced["timed_wall_s"],
            "overhead_s": untraced and result["timed_wall_s"] - untraced["timed_wall_s"],
        }
        artifact["spans"] = tracer.dump()
    else:
        values, units = e2e, END_TO_END
    path = common.write_artifact(args.workload, args.seed, bool(args.trace), artifact)
    for err in result["errors"][:20]:
        print(f"# FAILED {err}", file=sys.stderr)
    print(f"# artifact: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
