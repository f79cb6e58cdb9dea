"""Driver-contract type gates (the classes local parity can't catch).

The external driver hashes RAW values: DuckDB renders a HUGEINT
(decimal128(38,0) — what ``sum(BIGINT)`` returns) differently from
Spark's BIGINT even when every value is identical, and its row
canonicalizer sorts raw tuples so nested columns crash it.  The local
parity sweep normalizes values before comparing, so those classes pass
locally and fail only in the driver — exactly how ``cur_token_budget``
shipped red in round 3.  These tests gate the contract at the TYPE
level so the class cannot reenter:

- every oracle's DuckDB output must be HUGEINT-free and nested-free;
- every registered Spark query's schema must be scalars-only and
  DecimalType-free: the driver renders DuckDB DECIMAL via pandas
  float64 ("31.4"/NaN) but collects Spark DecimalType as
  Decimal("31.40")/None, so a DecimalType output column hash-mismatches
  on every trailing-zero and NULL cell even when values are
  bit-identical — the round-5 ``w4_value_frames`` red row.  Keep
  decimal math internal; cast final outputs to DOUBLE/BIGINT.
"""

from __future__ import annotations

import duckdb
import pytest

from atd_data_lake_spark.queries import ORACLES, QUERIES

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_oracles_emit_no_hugeint_or_nested_columns(duck):
    bad = {}
    for name, sql in ORACLES.items():
        # DESCRIBE binds the query without executing it — the old
        # fetch_arrow_table() RAN all 276 oracles end-to-end (~100 s of
        # the suite) to read the same type information
        schema = duck.execute(f"DESCRIBE ({sql})").fetchall()
        offenders = {
            col: typ
            for col, typ, *_ in schema
            if typ in ("HUGEINT", "UHUGEINT")  # arrow decimal128(38, 0)
            or typ.startswith("DECIMAL(38")  # a widened decimal sum
            or "[]" in typ
            or typ.startswith(("STRUCT", "MAP", "LIST", "UNION"))
        }
        if offenders:
            bad[name] = offenders
    assert not bad, (
        f"oracle output columns the driver hasher renders unlike Spark "
        f"(cast sums to BIGINT / project scalars): {bad}"
    )


def _forbidden_output_fields(schema):
    from pyspark.sql import types as T

    forbidden = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)
    return [
        f.name for f in schema.fields if isinstance(f.dataType, forbidden)
    ]


def test_gate_flags_decimal_output(spark):
    """The gate itself must catch a deliberately-DecimalType schema —
    this is the hole that let ``w4_value_frames`` ship red in round 5."""
    df = spark.range(1).selectExpr(
        "CAST(id AS DECIMAL(12,2)) AS v", "id AS ok"
    )
    assert _forbidden_output_fields(df.schema) == ["v"]


def test_registered_queries_emit_scalars_only(spark, sf_dir):
    bad = {}
    # Mostly analysis-only, but not entirely: the *_executed streaming
    # queries run their micro-batches and cur_semantic_decontaminate
    # collects its (bounded) benchmark at construction time — building
    # every registry frame costs a few real jobs, which is accepted here
    # because this is the only gate that sees every schema the driver
    # will hash.  Built from a thread pool: 279 frames of driver-side
    # analysis are independent (the JVM analyzes concurrently; job
    # descriptions and tracked_caches scopes are thread-local) and the
    # serial walk was ~107 s of the suite.
    from concurrent.futures import ThreadPoolExecutor

    def _check(item):
        name, fn = item
        return name, _forbidden_output_fields(fn(spark, sf_dir).schema)

    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, offenders in pool.map(_check, QUERIES.items()):
            if offenders:
                bad[name] = offenders
    assert not bad, (
        f"registered queries must project scalar, non-decimal columns "
        f"only (nested crashes the driver canonicalizer; DecimalType "
        f"hash-mismatches the pandas-rendered DuckDB side): {bad}"
    )
