"""File-level min/max data skipping through the txlog commit log:
stats harvest from parquet footers, conservative pruning semantics
(missing stats = keep), checkpoint survival, COW-rewrite refresh, and
result-exactness of ``read_where`` vs a full-scan filter.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark.io import txlog


def _mk(spark, tmp_path, batches, coalesce=True):
    """Build a table from a list of row-lists; one append per batch."""
    table = str(tmp_path / "tbl")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "id long, v double, s string")
        if coalesce:
            df = df.coalesce(1)
        txlog.append(df, table, commit_id=f"b{i}")
    return table


def test_pruning_selects_only_overlapping_files(spark, tmp_path):
    # fixed-width string key: lexicographic order == numeric order, so
    # the string-stats assertions below aren't surprised by "s12" < "s9"
    batches = [
        [(i, float(i), f"s{i:02d}") for i in range(0, 10)],
        [(i, float(i), f"s{i:02d}") for i in range(10, 20)],
        [(i, float(i), f"s{i:02d}") for i in range(20, 30)],
    ]
    table = _mk(spark, tmp_path, batches)
    assert len(txlog.snapshot_files(table)) == 3
    assert len(txlog.pruned_files(table, "v", 12.0, 18.0)) == 1
    assert len(txlog.pruned_files(table, "v", 9.0, 10.0)) == 2
    assert len(txlog.pruned_files(table, "v", None, 5.0)) == 1
    assert len(txlog.pruned_files(table, "v", 100.0, None)) == 0
    # string column stats prune too
    assert len(txlog.pruned_files(table, "s", "s12", "s12")) == 1


def test_read_where_matches_full_scan_filter(spark, tmp_path):
    batches = [
        [(i, float(i % 7), f"s{i}") for i in range(0, 25)],
        [(i, float(i % 11), f"s{i}") for i in range(25, 50)],
    ]
    table = _mk(spark, tmp_path, batches)
    got = sorted(
        tuple(r)
        for r in txlog.read_where(spark, table, "v", 3.0, 8.0).collect()
    )
    want = sorted(
        tuple(r)
        for r in txlog.read_table(spark, table)
        .filter((F.col("v") >= 3.0) & (F.col("v") <= 8.0))
        .collect()
    )
    assert got == want and len(got) > 0


def test_read_where_empty_prune_keeps_schema(spark, tmp_path):
    table = _mk(spark, tmp_path, [[(1, 1.0, "a")]])
    df = txlog.read_where(spark, table, "v", 100.0, 200.0)
    assert df.columns == ["id", "v", "s"]
    assert df.count() == 0


def test_missing_stats_file_is_conservatively_kept(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, 1.0, "a")], "id long, v double, s string")
    # simulate a pre-stats (legacy) commit
    monkeypatch.setattr(txlog, "_harvest_stats", lambda *_: {})
    txlog.append(df1.coalesce(1), table, commit_id="legacy")
    monkeypatch.undo()
    df2 = spark.createDataFrame([(2, 50.0, "b")], "id long, v double, s string")
    txlog.append(df2.coalesce(1), table, commit_id="modern")
    # the legacy file has no stats: every range keeps it
    assert len(txlog.pruned_files(table, "v", 40.0, 60.0)) == 2
    got = sorted(
        tuple(r)
        for r in txlog.read_where(spark, table, "v", 40.0, 60.0).collect()
    )
    assert got == [(2, 50.0, "b")]


def test_stats_survive_checkpoint_replay(spark, tmp_path):
    # 12 single-file appends: auto-checkpoint lands at v10, so the
    # snapshot resolves checkpoint + 2 commits — stats must come back
    # from the checkpoint payload for the first 10 files
    batches = [
        [(i, float(10 * i), f"s{i}")] for i in range(12)
    ]
    table = _mk(spark, tmp_path, batches)
    ckpt = os.path.join(table, "_txlog", "ckpt-00000010.json")
    assert os.path.exists(ckpt)
    with open(ckpt) as f:
        assert json.load(f)["stats"]  # stats made it into the checkpoint
    assert len(txlog.pruned_files(table, "v", 30.0, 30.0)) == 1
    assert len(txlog.pruned_files(table, "v", 105.0, 115.0)) == 1  # post-ckpt file
    got = txlog.read_where(spark, table, "v", 30.0, 30.0).collect()
    assert [tuple(r) for r in got] == [(3, 30.0, "s3")]


def test_cow_merge_refreshes_stats(spark, tmp_path):
    batches = [
        [(i, float(i), f"s{i}") for i in range(0, 10)],
        [(i, float(i), f"s{i}") for i in range(10, 20)],
    ]
    table = _mk(spark, tmp_path, batches)
    # rewrite row id=5 with a value far outside its file's old range
    src = spark.createDataFrame([(5, 500.0, "s5")], "id long, v double, s string")
    txlog.merge(spark, table, src, on=["id"])
    files = txlog.pruned_files(table, "v", 400.0, 600.0)
    assert len(files) >= 1
    got = sorted(
        tuple(r)
        for r in txlog.read_where(spark, table, "v", 400.0, 600.0).collect()
    )
    assert got == [(5, 500.0, "s5")]
    # removed files' stats are gone from the snapshot map
    snap = set(txlog.snapshot_files(table))
    assert set(txlog.snapshot_stats(table)) <= snap


def test_tz_aware_bound_normalizes_to_utc_instant():
    import datetime

    tz5 = datetime.timezone(datetime.timedelta(hours=5))
    aware = datetime.datetime(2020, 1, 1, 12, 0, tzinfo=tz5)
    # the +05:00 wall clock is 07:00 UTC — pruning must compare instants
    assert txlog._ser_stat(aware) == "2020-01-01T07:00:00"


def test_date_column_with_datetime_bound_is_conservatively_kept(
    spark, tmp_path
):
    import datetime

    table = str(tmp_path / "tbl")
    for d in (1, 15):
        df = spark.createDataFrame(
            [(i, datetime.date(2024, 3, d)) for i in range(4)],
            "id long, day date",
        )
        txlog.append(df.coalesce(1), table, commit_id=f"d{d}")
    # datetime bounds against DATE stats: mixed temporal shapes must
    # not prune (lexicographic '2024-03-14' < '2024-03-14T00:00:00'
    # would wrongly drop the file whose 2024-03-14 rows match)
    lo = datetime.datetime(2024, 3, 1, 6, 0, 0)
    hi = datetime.datetime(2024, 3, 14, 6, 0, 0)
    assert len(txlog.pruned_files(table, "day", lo, hi)) == 2
    # same-shape DATE bounds still prune
    assert (
        len(
            txlog.pruned_files(
                table, "day", datetime.date(2024, 3, 10), datetime.date(2024, 3, 20)
            )
        )
        == 1
    )


def test_timestamp_stats_prune_by_iso_order(spark, tmp_path):
    import datetime

    table = str(tmp_path / "tbl")
    for day in (1, 15):
        rows = [
            (i, datetime.datetime(2024, 3, day, h, 0, 0))
            for i, h in enumerate(range(0, 8))
        ]
        df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
        txlog.append(df.coalesce(1), table, commit_id=f"d{day}")
    lo = datetime.datetime(2024, 3, 14)
    hi = datetime.datetime(2024, 3, 16)
    assert len(txlog.pruned_files(table, "ts", lo, hi)) == 1
    assert txlog.read_where(spark, table, "ts", lo, hi).count() == 8


# ---------------------------------------------------------------------------
# r9: multi-column skipping over a clustered write (VERDICT r8 item 6)
# ---------------------------------------------------------------------------


def test_write_clustered_two_predicate_read_opens_intersection(
    spark, tmp_path
):
    """A 2-predicate read over a write_clustered layout must open ONLY
    the files where both ranges land: 16 range-disjoint files on id,
    both predicates together keep exactly one."""
    table = str(tmp_path / "ctbl")
    rows = [(i, float(i), f"s{i:03d}") for i in range(1600)]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    txlog.write_clustered(df, table, cluster_by=["id", "v"], num_files=16)
    assert len(txlog.snapshot_files(table)) == 16

    # id and v are perfectly correlated here, so a narrow band on both
    # intersects exactly one 100-row file
    preds = {"id": (250, 299), "v": (250.0, 299.0)}
    kept = txlog.pruned_files_multi(table, preds)
    assert len(kept) == 1
    rep = txlog.prune_report(table, preds)
    assert rep == {
        "files_total": 16,
        "files_kept": 1,
        "files_skipped": 15,
        "skip_ratio": round(15 / 16, 6),
    }
    # one-sided / single-column predicates intersect conservatively
    assert len(txlog.pruned_files_multi(table, {"id": (None, 99)})) == 1
    assert (
        len(txlog.pruned_files_multi(table, {"id": (0, 199), "v": (150.0, None)}))
        == 1
    )

    got = sorted(
        tuple(r)
        for r in txlog.read_where_multi(spark, table, preds).collect()
    )
    want = sorted(
        tuple(r)
        for r in txlog.read_table(spark, table)
        .filter((F.col("id") >= 250) & (F.col("id") <= 299))
        .filter((F.col("v") >= 250.0) & (F.col("v") <= 299.0))
        .collect()
    )
    assert got == want and len(got) == 50


def test_compact_and_merge_preserve_stats(spark, tmp_path):
    """Every rewrite verb routes through commit() -> _harvest_stats, so
    the files a compact or CDC-merge writes carry skip stats too."""
    table = str(tmp_path / "mtbl")
    b1 = spark.createDataFrame(
        [(i, float(i), "a") for i in range(0, 50)], "id long, v double, s string"
    ).coalesce(1)
    b2 = spark.createDataFrame(
        [(i, float(i), "a") for i in range(50, 100)], "id long, v double, s string"
    ).coalesce(1)
    txlog.append(b1, table)
    txlog.append(b2, table)

    # MERGE (CDC path): upsert a slice; new files must carry stats
    src = spark.createDataFrame(
        [(10, 1000.0, "z"), (200, 200.0, "n")], "id long, v double, s string"
    ).coalesce(1)
    txlog.merge(spark, table, src, on=["id"])
    stats = txlog.snapshot_stats(table)
    files = txlog.snapshot_files(table)
    assert files and all(f in stats and "v" in stats[f] for f in files)
    # the merged-slice file's max reflects the upserted value
    assert any(st["v"]["max"] >= 1000.0 for st in stats.values())

    # OPTIMIZE/compact: rewritten file carries fresh whole-table stats
    txlog.compact(spark, table, target_files=1)
    stats = txlog.snapshot_stats(table)
    files = txlog.snapshot_files(table)
    assert len(files) == 1 and files[0] in stats
    st = stats[files[0]]
    assert st["id"]["min"] == 0 and st["id"]["max"] == 200
    assert st["v"]["max"] == 1000.0
    # and pruning still fires post-compact (single file: trivially kept)
    assert txlog.prune_report(table, {"id": (0, 10)})["files_kept"] == 1


def test_stats_replay_falls_back_to_older_checkpoint(spark, tmp_path):
    """ADVICE r8: _replay_active_stats must try progressively older
    checkpoints (like _commit_ids_upto) instead of jumping straight to
    full replay when the newest checkpoint is corrupt."""
    table = str(tmp_path / "ktbl")
    for i in range(4):
        df = spark.createDataFrame(
            [(j, float(j)) for j in range(i * 10, i * 10 + 10)],
            "id long, v double",
        ).coalesce(1)
        txlog.append(df, table)
        txlog.write_checkpoint(table)
    ckpts = txlog._list_checkpoints(table)
    assert len(ckpts) == 4
    # corrupt the NEWEST checkpoint
    with open(txlog._checkpoint_file(table, ckpts[-1]), "w") as f:
        f.write("{not json")
    active, stats = txlog._replay_active_stats(table, ckpts[-1])
    assert len(active) == 4
    assert all(f in stats for f in active)
    # and pruning over the recovered stats still works
    assert len(txlog.pruned_files(table, "v", 15.0, 15.0)) == 1


# ---------------------------------------------------------------------------
# INT64 timestamps: the catalog's collection_date prunes its MERGE
# ---------------------------------------------------------------------------


def test_session_timestamp_key_records_min_max(spark, tmp_path):
    """The session writes ``TimestampType`` as INT64, so a timestamp
    column's footer has min/max and the commit records them."""
    import datetime

    import pyarrow.parquet as pq

    table = str(tmp_path / "tbl")
    rows = [(i, datetime.datetime(2024, 3, 1, i, 30, 0, 250)) for i in range(4)]
    txlog.append(
        spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1),
        table,
    )
    (path,) = txlog.snapshot_files(table)
    assert pq.ParquetFile(path).schema.column(1).physical_type == "INT64"
    assert txlog.snapshot_stats(table)[path]["ts"] == {
        "min": "2024-03-01T00:30:00.000250",
        "max": "2024-03-01T03:30:00.000250",
    }


def _catalog_row(repo, day):
    import datetime

    return (repo, "wt", "kits", "csv", f"/lake/{repo}",
            datetime.datetime(2019, 12, day), None,
            datetime.datetime(2020, 1, 1), "{}")


def test_new_day_catalog_merge_opens_no_snapshot_file(spark, tmp_path):
    """A nightly catalog advance carries a new ``collection_date``, whose
    key box misses every earlier file's recorded range: the MERGE opens
    no snapshot file — proven by overwriting them all with garbage after
    their commits — and lands as a plain append."""
    from atd_data_lake_spark import catalog as cat

    table = str(tmp_path / "catalog")
    for repo in ("raw", "standardized"):
        cat.upsert_table(
            spark, table,
            spark.createDataFrame([_catalog_row(repo, 1)], cat.CATALOG_SCHEMA),
        )
    for path in txlog.snapshot_files(table):
        with open(path, "wb") as f:
            f.write(b"not a parquet file")

    res = cat.upsert_table(
        spark, table,
        spark.createDataFrame([_catalog_row("standardized", 2)],
                              cat.CATALOG_SCHEMA),
    )
    canon = txlog._canon(table)
    commit = txlog._read_commit(canon, res.version)
    assert commit["removes"] == []
    landed = spark.read.parquet(
        *[os.path.join(canon, f) for f in commit["adds"]]
    )
    assert [(r.repository, r.collection_date.day) for r in landed.collect()] \
        == [("standardized", 2)]


def test_legacy_int96_file_reads_exact_and_stays_a_merge_candidate(
    spark, tmp_path
):
    """A snapshot still holding an INT96 file (no footer min/max) beside
    INT64 ones reads back exact timestamps, and a MERGE matching a key
    in it still removes it: missing stats keep a file a candidate, while
    the INT64 file of another day is pruned."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "tbl")
    canon = txlog._canon(table)
    old_ts = [datetime.datetime(2019, 12, 1, 6, 30, 0, 123457),
              datetime.datetime(2019, 12, 1, 7, 0, 0, 1)]
    rel = os.path.join("data", "part-int96.parquet")
    os.makedirs(os.path.join(canon, "data"))
    pq.write_table(
        pa.table({"ts": pa.array(old_ts, pa.timestamp("us")),
                  "v": ["a", "b"]}),
        os.path.join(canon, rel),
        use_deprecated_int96_timestamps=True,
    )
    txlog.commit(table, [rel], [], "append", 0)
    assert "ts" not in txlog.snapshot_stats(table)[os.path.join(canon, rel)]
    new_ts = datetime.datetime(2019, 12, 5, 0, 0, 0, 999999)
    txlog.append(
        spark.createDataFrame([(new_ts, "c")], "ts timestamp, v string")
        .coalesce(1),
        table,
    )
    assert sorted(tuple(r) for r in txlog.read_table(spark, table).collect()) \
        == [(old_ts[0], "a"), (old_ts[1], "b"), (new_ts, "c")]

    src = spark.createDataFrame([(old_ts[1], "B2")], "ts timestamp, v string")
    res = txlog.merge(spark, table, src, on=["ts"])
    assert txlog._read_commit(canon, res.version)["removes"] == [rel]
    assert sorted(tuple(r) for r in txlog.read_table(spark, table).collect()) \
        == [(old_ts[0], "a"), (old_ts[1], "B2"), (new_ts, "c")]
