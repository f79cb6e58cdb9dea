"""``query_sweep``: seeded sweeps of registry queries, one per operator
family, over generated tables, each result checked against the row count
of the query's DuckDB oracle over the same files.

A sweep runs every query once, in an order the seed permutes, to full
materialization (``count()``), clearing Spark's cache between queries as
``bench.py`` does.  Set-up warms the session (a join and aggregate over
two tables, one Python-worker job that imports the registry); the timed
sweeps follow until the time budget is spent, so the first one still
pays each query's own first-use costs (plan compilation, UDF start-up).
"""

from __future__ import annotations

import os
import time
import traceback
from functools import reduce

import numpy as np

import gen_tables
from common import (Tracer, add_stages, cpu_ratio, job_group, stage_totals,
                    zero_stages)

# family -> query, one per operator family: six relational families
# (joins, aggregates, windows) and six corpus families (text, vectors and
# graphs: Python workers, Arrow exchange, persist, iterative lineage)
RELATIONAL = {
    "tpch": "q3_shipping_priority",
    "pipelines": "pipe_gs_agg",
    "windows": "sessionize_batch",
    "joins": "j8_asof_backward",
    "basket": "mb_copurchase_lift",
    "dq": "dq_profile",
}
CORPUS = {
    "dedup": "dedup_minhash_lsh",
    "text": "text_tfidf_top_terms",
    "similarity": "sim_ann_ivf",
    "graph": "graph_pagerank",
    "curation": "cur_leakage_safe_split",
    "basket_er": "er_canonical_entities",
}
FAMILIES = {**RELATIONAL, **CORPUS}
SF = 0.01


def oracle_counts(data_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the generated files."""
    import duckdb

    from atd_data_lake_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen_tables.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(data_dir, t)}.parquet'"
        )
    out = {n: con.execute(f"SELECT count(*) FROM ({ORACLES[n]})").fetchone()[0]
           for n in names}
    con.close()
    return out


def _sweep(spark, data_dir, order, families, oracle, tracer, label,
           drop_one: str | None = None) -> dict:
    """One pass over the queries, each counted to full materialization.
    ``drop_one`` names a query whose output loses one row (self-test)."""
    from atd_data_lake_spark.queries import QUERIES

    rows, walls, errors, tracebacks = {}, {}, {}, {}
    t0 = time.perf_counter()
    for name in order:
        q0 = time.perf_counter()
        try:
            with job_group(spark, f"{label}/{name}"), tracer.span(
                "query", sweep=label, query=name, family=families[name]
            ):
                df = QUERIES[name](spark, data_dir)
                if name == drop_one:
                    df = df.limit(oracle[name] - 1)
                rows[name] = df.count()
                spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 — a failed query is counted
            spark.catalog.clearCache()
            errors[name] = str(e).split("\n")[0][:300]
            tracebacks[name] = traceback.format_exc()
        walls[name] = time.perf_counter() - q0
        if name not in errors and rows[name] != oracle[name]:
            errors[name] = f"{rows[name]} rows, oracle {oracle[name]}"
    return {"wall_s": time.perf_counter() - t0, "rows": rows,
            "query_s": walls, "errors": errors, "tracebacks": tracebacks}


def _warm_up(spark, data_dir: str) -> None:
    """Pay the session's first-use costs before the clock starts, so they
    do not land on whichever query the seed puts first: the JVM's scan,
    join, shuffle and aggregate paths, and a Python worker per core with
    the registry (hence every operator module) imported."""
    def table(name):
        return spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))

    orders, customer = table("orders"), table("customer")
    orders.join(customer, orders.o_custkey == customer.c_custkey).groupBy(
        "c_nationkey"
    ).count().collect()

    def import_registry(batches):
        import atd_data_lake_spark.queries  # noqa: F401

        yield from batches

    par = spark.sparkContext.defaultParallelism
    spark.range(1000, numPartitions=par).mapInPandas(
        import_registry, schema="id long"
    ).count()


def prepare(work: str, seed: int, sf: float = SF) -> dict:
    """The Spark-free part of set-up, run while the session starts: the
    tables and their oracle row counts."""
    t0 = time.perf_counter()
    data_dir = os.path.join(work, "tables")
    sizes = gen_tables.generate(data_dir, seed, sf)
    t1 = time.perf_counter()
    oracle = oracle_counts(data_dir, list(FAMILIES.values()))
    return {"data_dir": data_dir, "sf": sf, "sizes": sizes, "oracle": oracle,
            "generate_s": t1 - t0, "oracle_s": time.perf_counter() - t1}


def run(spark, seed: int, seconds: float, tracer: Tracer, inputs: dict,
        corrupt: bool = False) -> dict:
    """Warm the session, then the timed sweeps.  ``corrupt`` drops one row
    from the first query's output (the self-test's proof that the check
    fires)."""
    families = {q: fam for fam, q in FAMILIES.items()}
    names = list(families)
    order = [names[i] for i in np.random.default_rng(seed).permutation(len(names))]
    data_dir, oracle, sizes = inputs["data_dir"], inputs["oracle"], inputs["sizes"]

    t_setup = time.perf_counter()
    _warm_up(spark, data_dir)
    setup_s = time.perf_counter() - t_setup

    # timed: one sweep, then warm sweeps while the budget lasts (reported in
    # the artifact only, so the metrics always describe the same work)
    sweeps = []
    t_timed = time.perf_counter()
    while not sweeps or time.perf_counter() - t_timed < seconds:
        with tracer.span("sweep", index=len(sweeps)):
            sweeps.append(_sweep(spark, data_dir, order, families, oracle, tracer,
                                 len(sweeps), order[0] if corrupt else None))
    timed_wall = time.perf_counter() - t_timed

    # Spark stages of the first sweep's queries, summed after the clock
    # stops (traced: as each span ended)
    if tracer.enabled:
        stages = {s["query"]: s["stages"] for s in tracer.spans
                  if s["name"] == "query" and s["sweep"] == 0}
    else:
        stages = {q: stage_totals(spark, f"0/{q}") for q in names}
    first = reduce(add_stages, stages.values(), zero_stages())

    errors = [f"sweep{i} {q}: {e}" for i, s in enumerate(sweeps)
              for q, e in s["errors"].items()]
    attempted = len(names) * len(sweeps)
    input_rows = sum(sizes.values())
    sweep_s = sweeps[0]["wall_s"]
    result = {
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": sweep_s,
            "rows_per_s": input_rows / sweep_s,
            "bytes_per_input_byte": first["shuffle_write_mb"] / first["input_mb"],
        },
        "sweep_stages": first,
        "contention": {
            "sweep_cpu_per_run": cpu_ratio(first),
            "family_cpu_per_run": {
                families[q]: cpu_ratio(st) for q, st in stages.items()
            },
        },
        "input": {"sf": inputs["sf"], "tables": sizes, "rows": input_rows,
                  "order": order},
        "setup_parts": {"generate_s": inputs["generate_s"],
                        "oracle_s": inputs["oracle_s"], "warmup_s": setup_s},
        "oracle_rows": oracle,
        "sweeps_s": [s["wall_s"] for s in sweeps],
        "query_s": sweeps[0]["query_s"],
        "tracebacks": [s["tracebacks"] for s in sweeps],
        "rows": sweeps[0]["rows"],
        "errors": errors,
        "attempted": attempted,
        "failed": len(errors),
        "timed_wall_s": timed_wall,
    }
    if tracer.enabled:
        result["trace"] = _trace_summary(tracer, stages, timed_wall)
    return result


def _trace_summary(tracer: Tracer, stages: dict, timed_wall: float) -> dict:
    """For the first timed sweep, per query and per family: wall, task run
    and CPU time, shuffle (written + read), spill, tasks, and the CPU ÷ run
    ratio; and how much of the wall the spans cover."""
    spans = {s["query"]: s for s in tracer.spans
             if s["name"] == "query" and s["sweep"] == 0}
    per_query = {
        q: {"family": s["family"], "wall_s": tracer.duration(s), **stages[q],
            "cpu_per_run": cpu_ratio(stages[q])}
        for q, s in spans.items()
    }
    per_family = {}
    for fam, q in FAMILIES.items():
        st = stages[q]
        per_family[fam] = {
            "wall_s": per_query[q]["wall_s"],
            "task_cpu_s": st["task_cpu_s"],
            "task_run_s": st["task_run_s"],
            "shuffle_mb": st["shuffle_write_mb"] + st["shuffle_read_mb"],
            "spill_mb": st["spill_mb"],
            "tasks": st["tasks"],
            "cpu_per_run": cpu_ratio(st),
        }
    sweeps = [s for s in tracer.spans if s["name"] == "sweep"]
    return {
        "families": per_family,
        "queries": per_query,
        "span_coverage": tracer.coverage(sweeps, timed_wall),
        "query_span_coverage": tracer.coverage(list(spans.values()),
                                               tracer.duration(sweeps[0])),
    }
