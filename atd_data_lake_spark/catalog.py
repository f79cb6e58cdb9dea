"""The catalog — bookkeeping table driving incremental recompute.

Reference: PostgreSQL `api.data_lake_catalog` reached over PostgREST
(docs/appendix_catalog.md:77-99; column semantics
docs/tech_architecture.md:121-153).  PK = (collection_date, repository,
data_source, id_base, id_ext), upsert-on-PK (docs/appendix_catalog.md:153);
`collection_date` inclusive, `collection_end` exclusive, NULL ⇒ +1 day.

Spark-first design: the catalog is a table (Parquet here; Delta `MERGE
INTO` on a deployment with Delta available — this module's ``upsert`` is
the engine-level equivalent expressed as union + latest-per-PK, which is
exactly what a MERGE materializes).  Query helpers are plain DataFrame
filters — Catalyst pushes them into the scan, replacing the reference's
hand-serialized PostgREST query params (catalog_postgrest.py:22-71) and
its 10k-row pagination (SURVEY §2 S10: "pagination unnecessary").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: docs/appendix_catalog.md:77-99 (id serial omitted — surrogate ids are
#: meaningless in a lakehouse; the PK identifies a row)
CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("repository", T.StringType(), False),
        T.StructField("data_source", T.StringType(), False),
        T.StructField("id_base", T.StringType(), False),
        T.StructField("id_ext", T.StringType(), False),
        T.StructField("pointer", T.StringType()),
        T.StructField("collection_date", T.TimestampType(), False),
        T.StructField("collection_end", T.TimestampType()),
        T.StructField("processing_date", T.TimestampType()),
        T.StructField("metadata", T.StringType()),  # jsonb → JSON string
    ]
)

PK = ["collection_date", "repository", "data_source", "id_base", "id_ext"]


def upsert(catalog: DataFrame, updates: DataFrame) -> DataFrame:
    """PK-keyed upsert (S11): new rows win over existing rows with the same
    PK (catalog.py:283-314 upsert cache, last-write-wins per
    drivers/catalog_postgrest.py:73-84).

    Equivalent Delta statement::

        MERGE INTO catalog USING updates ON <PK equality>
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
    """
    tagged = catalog.withColumn("_pri", F.lit(0)).unionByName(
        updates.withColumn("_pri", F.lit(1))
    )
    w = Window.partitionBy(*PK).orderBy(F.col("_pri").desc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )


def query(
    catalog: DataFrame,
    repository: str | None = None,
    data_source: str | None = None,
    id_base: str | None = None,
    id_ext: str | None = None,
    base_like: str | None = None,
    ext_like: str | None = None,
    start=None,
    end=None,
) -> DataFrame:
    """S10 + P4/P5: exact or LIKE filters on base/ext, half-open date range
    (catalog_postgrest.py:36-68), ordered by (collection_date, id_base,
    id_ext) like the reference's default ordering (support/catalog.py:221)."""
    out = catalog
    if repository is not None:
        out = out.filter(F.col("repository") == repository)
    if data_source is not None:
        out = out.filter(F.col("data_source") == data_source)
    if id_base is not None:
        out = out.filter(F.col("id_base") == id_base)
    if id_ext is not None:
        out = out.filter(F.col("id_ext") == id_ext)
    if base_like is not None:
        out = out.filter(F.col("id_base").like(base_like))
    if ext_like is not None:
        out = out.filter(F.col("id_ext").like(ext_like))
    if start is not None:
        out = out.filter(F.col("collection_date") >= F.lit(start))
    if end is not None:
        out = out.filter(F.col("collection_date") < F.lit(end))
    return out.orderBy("collection_date", "id_base", "id_ext")


def latest(catalog: DataFrame, **filters) -> DataFrame:
    """O2: latest catalog entry matching the filters
    (support/catalog.py:245-263, ORDER BY date DESC LIMIT 1)."""
    return query(catalog, **filters).orderBy(F.col("collection_date").desc()).limit(1)


def earliest(catalog: DataFrame, **filters) -> DataFrame:
    """O2 twin: earliest entry (catalog_postgrest.py:39-41 ascending)."""
    return query(catalog, **filters).limit(1)


def one_per_pk(updates: DataFrame) -> DataFrame:
    """``updates`` reduced to ONE row per PK, in its own column order.

    The winner among rows sharing a PK is the one with the latest
    ``processing_date``, ties broken by the remaining non-key columns in
    column order (greatest wins; NULL loses to any value).  The winner
    is a function of the rows alone, not of their order, so the reduction
    is an order-insensitive ``max`` aggregate: Catalyst drops any sort
    beneath it (``catalog.query``'s ``orderBy``, with its range exchange
    and sampling job), and a source already hash-partitioned on the PK
    (``upsert``'s window) feeds it without another exchange."""
    rest = [c for c in updates.columns if c not in PK]
    rank = [c for c in rest if c == "processing_date"] + [
        c for c in rest if c != "processing_date"
    ]
    return (
        updates.groupBy(*PK)
        .agg(F.max(F.struct(*rank)).alias("_win"))
        .select(*[F.col(c) if c in PK else F.col(f"_win.{c}")
                  for c in updates.columns])
    )


def upsert_table(spark, table_path: str, updates: DataFrame, commit_id=None):
    """The STORED form of :func:`upsert` — a real transactional
    ``MERGE INTO`` on the catalog's PK against an ``io/txlog``-managed
    parquet table (snapshot isolation, atomic commit, conflict
    detection, idempotent retry; VERDICT r1-r5 missing item #1 — no
    delta-spark wheel exists here, so the commit-log backend is native).

    First call bootstraps the table from ``updates``.  Returns the
    :class:`io.txlog.CommitResult`.

    ``updates`` is reduced to ONE row per PK first (:func:`one_per_pk` —
    a re-delivered batch carrying the same PK twice must not store two
    rows; matches :func:`upsert`'s one-winner-per-PK contract).  Among
    same-batch duplicates the latest ``processing_date`` wins, ties
    broken by the other non-key columns, whatever order the rows came
    in."""
    from atd_data_lake_spark.io import txlog

    # merge unconditionally — it handles the empty-table bootstrap via
    # commit(base=0), so a LOSING concurrent first writer gets
    # CommitConflict instead of the append path's auto-retry silently
    # double-inserting the same PKs
    return txlog.merge(spark, table_path, one_per_pk(updates), on=PK,
                       commit_id=commit_id)
