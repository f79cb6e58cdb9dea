"""io/txlog.py — the native transactional MERGE backend: snapshot
isolation, atomic commit, optimistic concurrency, idempotent retry,
copy-on-write file pruning, time travel."""

from __future__ import annotations

import os

import pytest

from atd_data_lake_spark.io import txlog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def test_append_then_read_roundtrip(spark, table):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    res = txlog.append(df, table)
    assert res.version == 1 and not res.replayed
    assert _rows(txlog.read_table(spark, table)) == [(1, "a"), (2, "b")]


def test_merge_updates_inserts_and_preserves_untouched_files(spark, table):
    """MERGE semantics + copy-on-write: the file holding only unmatched
    keys is neither rewritten nor removed (byte-identical on disk)."""
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b = spark.createDataFrame([(10, "x"), (11, "y")], "k long, v string")
    txlog.append(a.coalesce(1), table)
    txlog.append(b.coalesce(1), table)
    untouched = [p for p in txlog.snapshot_files(table)
                 if _rows(spark.read.parquet(p))[0][0] == 10]
    assert len(untouched) == 1
    before = (os.path.getmtime(untouched[0]), os.path.getsize(untouched[0]))

    src = spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string")
    res = txlog.merge(spark, table, src, on=["k"])
    assert res.version == 3
    assert _rows(txlog.read_table(spark, table)) == [
        (1, "a"), (2, "B2"), (3, "c"), (10, "x"), (11, "y"),
    ]
    after = (os.path.getmtime(untouched[0]), os.path.getsize(untouched[0]))
    assert before == after  # copy-on-write pruned it out of the rewrite
    assert os.path.relpath(untouched[0], table) not in txlog._read_commit(
        table, 3
    )["removes"]


def test_snapshot_isolation_and_time_travel(spark, table):
    a = spark.createDataFrame([(1, "a")], "k long, v string")
    txlog.append(a, table)
    v1 = txlog.current_version(table)
    snap_v1 = txlog.read_table(spark, table, version=v1)
    txlog.merge(
        spark, table,
        spark.createDataFrame([(1, "CHANGED")], "k long, v string"), on=["k"],
    )
    # the reader pinned to v1 still sees the old value AFTER the commit
    assert _rows(snap_v1) == [(1, "a")]
    assert _rows(txlog.read_table(spark, table, version=v1)) == [(1, "a")]
    assert _rows(txlog.read_table(spark, table)) == [(1, "CHANGED")]


def test_optimistic_conflict_detection(spark, table):
    txlog.append(spark.createDataFrame([(1, "a")], "k long, v string"), table)
    base = txlog.current_version(table)
    # writer A lands first
    txlog.commit(table, [], [], "noop", base)
    # writer B computed against the same base -> must fail, not clobber
    with pytest.raises(txlog.CommitConflict):
        txlog.commit(table, [], [], "noop", base)


def test_idempotent_retry_by_commit_id(spark, table):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    txlog.append(df, table)
    base = txlog.current_version(table)
    first = txlog.commit(table, [], [], "noop", base, commit_id="c-123")
    again = txlog.commit(table, [], [], "noop", base, commit_id="c-123")
    assert again.replayed and again.version == first.version
    assert txlog.current_version(table) == first.version


def test_merge_on_empty_table_bootstraps(spark, table):
    src = spark.createDataFrame([(1, "a")], "k long, v string")
    res = txlog.merge(spark, table, src, on=["k"])
    assert res.version == 1
    assert _rows(txlog.read_table(spark, table)) == [(1, "a")]


def test_catalog_upsert_table_merges_on_pk(spark, table):
    import datetime

    from atd_data_lake_spark import catalog as cat

    def row(base, pointer):
        return (
            "raw", "bt", base, "csv", pointer,
            datetime.datetime(2020, 1, 1), None, None, None,
        )

    cols = ("repository data_source id_base id_ext pointer collection_date"
            " collection_end processing_date metadata").split()
    mk = lambda rows: spark.createDataFrame(rows, cat.CATALOG_SCHEMA)  # noqa: E731
    cat.upsert_table(spark, table, mk([row("f1", "p1"), row("f2", "p2")]))
    cat.upsert_table(spark, table, mk([row("f2", "p2-NEW"), row("f3", "p3")]))
    out = {
        r.id_base: r.pointer
        for r in txlog.read_table(spark, table).select("id_base", "pointer").collect()
    }
    assert out == {"f1": "p1", "f2": "p2-NEW", "f3": "p3"}
    assert cols  # schema sanity for the reader of this test


def test_stream_sink_exactly_once_on_batch_replay(spark, table, tmp_path):
    """An executed availableNow stream writes through the txlog sink;
    re-invoking the sink with the same batch id (the restart-replay
    window) must not duplicate rows."""
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema("k long, v string").parquet(src_dir)
    )
    sink = txlog.stream_sink(table, app_id="test-app")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _rows(txlog.read_table(spark, table)) == [(1, "a"), (2, "b")]
    v = txlog.current_version(table)

    # simulate the restart-replay: same batch id hits the sink again
    sink(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    assert txlog.current_version(table) == v
    assert _rows(txlog.read_table(spark, table)) == [(1, "a"), (2, "b")]


def test_history_and_vacuum(spark, table):
    a = spark.createDataFrame([(1, "a")], "k long, v string")
    txlog.append(a.coalesce(1), table)
    txlog.merge(
        spark, table,
        spark.createDataFrame([(1, "a2")], "k long, v string"), on=["k"],
    )
    hist = txlog.history(table)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[1]["op"] == "merge" and hist[1]["n_removes"] == 1

    deleted = txlog.vacuum(table, keep_versions=1, min_age_seconds=0)
    assert len(deleted) >= 1  # v1's replaced file is gone
    # the retained snapshot still reads
    assert _rows(txlog.read_table(spark, table)) == [(1, "a2")]
    # time travel past the retention window now fails at read time
    import pytest as _pytest

    with _pytest.raises(Exception):
        txlog.read_table(spark, table, version=1).collect()


def test_merge_handles_non_canonical_table_path(spark, tmp_path):
    """r6 review (repro-confirmed): a dot-segment table path must not
    silently skip the copy-on-write removes and duplicate matched keys."""
    canon = str(tmp_path / "tbl")
    dotted = str(tmp_path) + "/./tbl"
    txlog.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), canon
    )
    txlog.merge(
        spark, dotted,
        spark.createDataFrame([(2, "B2")], "k long, v string"), on=["k"],
    )
    assert _rows(txlog.read_table(spark, canon)) == [(1, "a"), (2, "B2")]


def test_stream_sink_app_ids_namespace_batch_ids(spark, table):
    """r6 review: two streams writing one table must not collide on bare
    batch ids — app-scoped commit ids keep both streams' batch 0."""
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    txlog.stream_sink(table, app_id="A")(df, 0)
    txlog.stream_sink(table, app_id="B")(df, 0)
    assert len(_rows(txlog.read_table(spark, table))) == 2
    # while a replay WITHIN one app is still a no-op
    txlog.stream_sink(table, app_id="A")(df, 0)
    assert len(_rows(txlog.read_table(spark, table))) == 2


def test_replayed_append_writes_no_data(spark, table):
    """r6 review: the replay check runs BEFORE data materialization —
    a replayed batch must not orphan duplicate parquet files."""
    import os as _os

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    txlog.append(df, table, commit_id="c1")
    data_dir = _os.path.join(table, "data")
    n_files = len(_os.listdir(data_dir))
    res = txlog.append(df, table, commit_id="c1")
    assert res.replayed
    assert len(_os.listdir(data_dir)) == n_files


def test_append_retries_through_concurrent_commit(spark, table, monkeypatch):
    """r6 review: appends are version-independent — a commit landing
    between an append's snapshot and its commit must be absorbed by
    retry, not kill the (streaming) writer."""
    txlog.append(spark.createDataFrame([(1, "a")], "k long, v string"), table)

    real_commit = txlog.commit
    fired = {"done": False}

    def racing_commit(tbl, adds, removes, op, base, commit_id=None):
        if not fired["done"]:
            fired["done"] = True
            # another writer lands v2 first
            real_commit(tbl, [], [], "noop", txlog.current_version(tbl))
            raise txlog.CommitConflict("simulated race")
        return real_commit(tbl, adds, removes, op, base, commit_id)

    monkeypatch.setattr(txlog, "commit", racing_commit)
    res = txlog.append(
        spark.createDataFrame([(2, "b")], "k long, v string"), table
    )
    monkeypatch.undo()
    assert res.version == 3
    assert len(_rows(txlog.read_table(spark, table))) == 2


def test_vacuum_age_guard_spares_young_files(spark, table):
    a = spark.createDataFrame([(1, "a")], "k long, v string")
    txlog.append(a.coalesce(1), table)
    txlog.merge(
        spark, table,
        spark.createDataFrame([(1, "a2")], "k long, v string"), on=["k"],
    )
    # default retention: the just-replaced (young) file survives
    assert txlog.vacuum(table, keep_versions=1) == []
    assert txlog.vacuum(table, keep_versions=1, min_age_seconds=0)


def test_upsert_table_dedupes_pk_within_batch(spark, table):
    import datetime

    from atd_data_lake_spark import catalog as cat

    def row(base, pointer):
        return ("raw", "bt", base, "csv", pointer,
                datetime.datetime(2020, 1, 1), None, None, None)

    mk = lambda rows: spark.createDataFrame(rows, cat.CATALOG_SCHEMA)  # noqa: E731
    cat.upsert_table(spark, table, mk([row("f1", "p1"), row("f1", "p1-dup")]))
    out = txlog.read_table(spark, table).collect()
    assert len(out) == 1


@pytest.mark.parametrize("order", [1, -1])
def test_upsert_table_same_batch_winner_is_deterministic(spark, tmp_path, order):
    """Among same-batch rows for one PK the latest ``processing_date``
    wins, ties broken by the other non-key columns in column order —
    whichever order the rows arrive in."""
    import datetime

    from atd_data_lake_spark import catalog as cat

    def row(base, pointer, processed):
        return ("raw", "bt", base, "csv", pointer,
                datetime.datetime(2020, 1, 1), None,
                datetime.datetime(2020, 1, processed), None)

    batch = [
        row("f1", "z-older", 2), row("f1", "a-newer", 3),
        row("f2", "a", 2), row("f2", "b", 2), row("f2", None, 2),
    ][::order]
    table = str(tmp_path / f"tbl{order}")
    cat.upsert_table(
        spark, table, spark.createDataFrame(batch, cat.CATALOG_SCHEMA)
    )
    out = txlog.read_table(spark, table).select(
        "id_base", "pointer", "processing_date"
    ).collect()
    assert sorted(tuple(r) for r in out) == [
        ("f1", "a-newer", datetime.datetime(2020, 1, 3)),
        ("f2", "b", datetime.datetime(2020, 1, 2)),
    ]


def test_stray_files_in_log_dir_are_ignored(spark, table):
    """A non-version file in _txlog/ (editor artifact, backup) must not
    brick reads or commits (r6 advice: int(name[1:-5]) raised)."""
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    txlog.append(df, table)
    log_dir = os.path.join(table, "_txlog")
    for stray in ("v-backup.json", "v1.json.orig", "vXXXXXXXX.json"):
        with open(os.path.join(log_dir, stray), "w") as f:
            f.write("{}")
    assert txlog.current_version(table) == 1
    assert _rows(txlog.read_table(spark, table)) == [(1, "a")]
    res = txlog.append(df, table)
    assert res.version == 2


def test_concurrent_bootstrap_conflicts_instead_of_doubling(
    spark, table, monkeypatch
):
    """Two racing FIRST writers on an empty table: the loser must get
    CommitConflict, not a silent double-insert (r6 advice: the old
    version==0 append shortcut auto-retried and landed both batches)."""
    from atd_data_lake_spark import catalog as cat

    import datetime

    def row(base):
        return ("raw", "bt", base, "csv", "ptr",
                datetime.datetime(2020, 1, 1), None, None, None)

    batch = spark.createDataFrame([row("f1")], cat.CATALOG_SCHEMA)
    real_write = txlog._write_data_files
    fired = {}

    def racing_write(df, tbl):
        adds = real_write(df, tbl)
        if "done" not in fired:
            fired["done"] = True
            # the rival bootstrapper lands v1 between our snapshot
            # read (base=0) and our commit
            rival = real_write(df, tbl)
            txlog.commit(tbl, rival, [], "merge", 0)
        return adds

    monkeypatch.setattr(txlog, "_write_data_files", racing_write)
    with pytest.raises(txlog.CommitConflict):
        cat.upsert_table(spark, table, batch)
    monkeypatch.undo()
    # exactly the rival's row landed — one row per PK holds
    assert len(txlog.read_table(spark, table).collect()) == 1


def test_tracked_caches_scopes_are_thread_local(spark):
    """A persist registered on thread B must not land in thread A's
    scope (r6 advice: process-global _CACHE_SCOPES cross-registered)."""
    import threading

    from atd_data_lake_spark.operators import scale

    df_b = spark.range(3)
    done = threading.Event()

    def other_thread():
        scale.scoped_persist(df_b)  # no scope on THIS thread: untracked
        done.set()

    with scale.tracked_caches() as reg:
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
        assert done.is_set()
        assert reg == []  # thread B's persist did not leak into A's scope
    assert df_b.storageLevel.useMemory  # and was not unpersisted by A
    df_b.unpersist()


def _race_writer(tbl, barrier, results, idx):
    """Module-level so multiprocessing 'spawn' can pickle it."""
    from atd_data_lake_spark.io import txlog as tx

    wins = 0
    conflicts = 0
    for _ in range(5):
        base = tx.current_version(tbl)
        barrier.wait()  # both read the same base, then race
        try:
            tx.commit(tbl, [f"data/w{idx}.parquet"], [], "merge", base)
            wins += 1
        except tx.CommitConflict:
            conflicts += 1
        barrier.wait()  # loser re-reads AFTER the winner landed
    results[idx] = (wins, conflicts)


def test_two_process_version_race_one_winner(tmp_path):
    """REAL concurrency on _reserve_version: two OS processes (spawned,
    no shared interpreter state) race link(2) for the SAME version on
    the same table dir, synchronized by a barrier, over 5 rounds.  Every
    round exactly one wins and one gets CommitConflict (r6 verdict item
    5 — the in-process conflict test can't prove the link(2) atomicity
    claim)."""
    import multiprocessing as mp

    table = str(tmp_path / "race_tbl")
    writer = _race_writer

    ctx = mp.get_context("spawn")  # never fork the test JVM
    with ctx.Manager() as mgr:
        barrier = mgr.Barrier(2)
        results = mgr.dict()
        ps = [
            ctx.Process(target=writer, args=(table, barrier, results, i))
            for i in range(2)
        ]
        for p in ps:
            p.start()
        for p in ps:
            p.join(timeout=120)
            assert p.exitcode == 0
        (w0, c0), (w1, c1) = results[0], results[1]
    # every round produced exactly one winner and one conflict
    assert w0 + w1 == 5 and c0 + c1 == 5
    assert w0 + c0 == 5 and w1 + c1 == 5
    # and both processes won at least once would be flaky to assert;
    # the invariant is the log: versions 1..5 exist, each from one writer
    from atd_data_lake_spark.io import txlog as tx

    assert tx.current_version(table) == 5
    for v in range(1, 6):
        c = tx._read_commit(table, v)
        assert c["adds"] in (["data/w0.parquet"], ["data/w1.parquet"])


def test_merge_public_txlog_exactly_once_and_cow(spark, table):
    """The publish path through the log: idempotent commit_id replay,
    MERGE-on-record_id semantics, conflict on stale base."""
    from atd_data_lake_spark.io.publish import merge_public_txlog

    b1 = spark.createDataFrame(
        [("r1", "a", 1), ("r2", "b", 1), ("r2", "b-dup", 1)],
        "record_id string, payload string, batch int",
    )
    res = merge_public_txlog(spark, table, b1, commit_id="pub-1")
    assert res.version == 1 and not res.replayed
    rows = {r["record_id"]: r for r in txlog.read_table(spark, table).collect()}
    assert set(rows) == {"r1", "r2"}  # in-batch dup collapsed

    # re-delivered batch: no-op replay
    res2 = merge_public_txlog(spark, table, b1, commit_id="pub-1")
    assert res2.replayed and txlog.current_version(table) == 1

    # second publish updates r2, inserts r3, leaves r1 untouched
    b2 = spark.createDataFrame(
        [("r2", "B2", 2), ("r3", "c", 2)],
        "record_id string, payload string, batch int",
    )
    merge_public_txlog(spark, table, b2, commit_id="pub-2")
    out = {r["record_id"]: r["payload"]
           for r in txlog.read_table(spark, table).collect()}
    assert out == {"r1": "a", "r2": "B2", "r3": "c"}


def test_compact_coalesces_files_preserves_rows_and_history(spark, table):
    """OPTIMIZE: N append files -> 1 data file, rows identical, old
    versions still time-travelable until vacuum, concurrent commit
    conflicts instead of losing data."""
    for i in range(4):
        txlog.append(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string")
            .coalesce(1),
            table,
        )
    before = _rows(txlog.read_table(spark, table))
    assert len(txlog.snapshot_files(table)) == 4

    res = txlog.compact(spark, table, target_files=1)
    assert res.version == 5 and res.removes == 4
    assert len(txlog.snapshot_files(table)) == 1
    assert _rows(txlog.read_table(spark, table)) == before
    # pre-compaction snapshot still readable (files not yet vacuumed)
    assert _rows(txlog.read_table(spark, table, version=4)) == before
    # idempotent replay
    again = txlog.compact(spark, table, target_files=1, commit_id="c-1")
    assert again.version == 6
    replay = txlog.compact(spark, table, target_files=1, commit_id="c-1")
    assert replay.replayed and txlog.current_version(table) == 6
    # vacuum now reclaims the superseded files
    reclaimed = txlog.vacuum(table, keep_versions=1, min_age_seconds=0)
    assert len(reclaimed) >= 4
    assert _rows(txlog.read_table(spark, table)) == before


def test_compact_conflicts_with_concurrent_writer(spark, table, monkeypatch):
    txlog.append(
        spark.createDataFrame([(1, "a")], "k long, v string"), table
    )
    real_write = txlog._write_data_files
    fired = {}

    def racing_write(df, tbl):
        adds = real_write(df, tbl)
        if "done" not in fired:
            fired["done"] = True
            rival = real_write(
                spark.createDataFrame([(2, "b")], "k long, v string"), tbl
            )
            txlog.commit(tbl, rival, [], "append",
                         txlog.current_version(tbl))
        return adds

    monkeypatch.setattr(txlog, "_write_data_files", racing_write)
    with pytest.raises(txlog.CommitConflict):
        txlog.compact(spark, table)
    monkeypatch.undo()
    # the rival's row is intact; compacting the new base succeeds
    assert len(_rows(txlog.read_table(spark, table))) == 2
    txlog.compact(spark, table)
    assert len(_rows(txlog.read_table(spark, table))) == 2


def test_delete_keys_cow_time_travel_and_idempotency(spark, table):
    """DELETE: matched rows gone, untouched file byte-identical,
    deleted rows still time-travelable until vacuum, replay no-op,
    no-match delete records a no-op commit."""
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b = spark.createDataFrame([(10, "x")], "k long, v string")
    txlog.append(a.coalesce(1), table)
    txlog.append(b.coalesce(1), table)
    untouched = [p for p in txlog.snapshot_files(table)
                 if _rows(spark.read.parquet(p))[0][0] == 10][0]
    before = (os.path.getmtime(untouched), os.path.getsize(untouched))

    keys = spark.createDataFrame([(2,)], "k long")
    res = txlog.delete_keys(spark, table, keys, on=["k"], commit_id="d1")
    assert res.version == 3 and res.removes == 1
    assert _rows(txlog.read_table(spark, table)) == [(1, "a"), (10, "x")]
    assert (os.path.getmtime(untouched), os.path.getsize(untouched)) == before
    # time travel still shows the deleted row pre-delete
    assert (2, "b") in _rows(txlog.read_table(spark, table, version=2))
    # idempotent replay
    again = txlog.delete_keys(spark, table, keys, on=["k"], commit_id="d1")
    assert again.replayed and txlog.current_version(table) == 3
    # no-match delete: no-op commit, nothing rewritten
    res2 = txlog.delete_keys(
        spark, table, spark.createDataFrame([(99,)], "k long"), on=["k"]
    )
    assert res2.version == 4 and res2.adds == 0 and res2.removes == 0
    assert _rows(txlog.read_table(spark, table)) == [(1, "a"), (10, "x")]


def test_read_table_merge_schema_additive_evolution(spark, table):
    """A later append carrying a NEW column reads back (merge_schema)
    with older files' missing column as NULL; the default strict read
    keeps serving the first file's schema."""
    txlog.append(
        spark.createDataFrame([(1, "a")], "k long, v string"), table
    )
    txlog.append(
        spark.createDataFrame(
            [(2, "b", "extra")], "k long, v string, note string"
        ),
        table,
    )
    evolved = txlog.read_table(spark, table, merge_schema=True)
    assert set(evolved.columns) == {"k", "v", "note"}
    got = {r["k"]: r["note"] for r in evolved.collect()}
    assert got == {1: None, 2: "extra"}
    strict = txlog.read_table(spark, table)
    assert strict.columns == ["k", "v"]
    assert _rows(strict) == [(1, "a"), (2, "b")]


def test_read_table_schema_is_the_inferred_one_without_a_job(spark, table):
    """The snapshot schema comes from the first file's footer: it equals
    what Spark's inference returns — every field nullable, even where the
    written frame declared NOT NULL — and costs no Spark job."""
    import datetime

    from atd_data_lake_spark import catalog as cat

    row = ("raw", "bt", "f1", "csv", "p1", datetime.datetime(2020, 1, 1),
           None, None, None)
    txlog.append(spark.createDataFrame([row], cat.CATALOG_SCHEMA), table)
    txlog.append(spark.createDataFrame([row], cat.CATALOG_SCHEMA), table)
    inferred = spark.read.parquet(*txlog.snapshot_files(table)).schema
    assert all(f.nullable for f in inferred.fields)

    sc = spark.sparkContext
    sc.setJobGroup("read_table_schema", "read_table_schema")
    try:
        got = txlog.read_table(spark, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got.schema == inferred
    assert sc.statusTracker().getJobIdsForGroup("read_table_schema") == []
    assert got.count() == 2


def test_read_table_without_spark_footer_key_infers(spark, table):
    """A snapshot written by another parquet writer has no Spark schema
    in its footer; the read falls back to Spark's inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    canon = txlog._canon(table)
    rel = os.path.join("data", "part-arrow.parquet")
    os.makedirs(os.path.join(canon, "data"))
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}),
                   os.path.join(canon, rel))
    txlog.commit(table, [rel], [], "append", 0)
    assert txlog._footer_schema(os.path.join(canon, rel)) is None
    got = txlog.read_table(spark, table)
    assert got.schema.simpleString() == "struct<k:bigint,v:string>"
    assert _rows(got) == [(1, "a"), (2, "b")]


def test_merge_evaluates_source_once(spark, table):
    """The source is written first and its keys are read back from
    those files: a counting source's rows flow through exactly once,
    even on the rewrite path (matched keys, carried rows)."""
    txlog.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .coalesce(1),
        table,
    )
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    src = spark.createDataFrame(
        [(2, "B2"), (3, "c")], "k long, v string"
    ).mapInPandas(tick, schema="k long, v string")
    res = txlog.merge(spark, table, src, on=["k"])
    assert res.removes == 1
    assert acc.value == 2  # one pass over the two source rows
    assert _rows(txlog.read_table(spark, table)) == [
        (1, "a"), (2, "B2"), (3, "c"),
    ]


def test_merge_never_opens_files_whose_key_stats_miss(spark, table):
    """The source's footer stats bound its keys; a snapshot file whose
    recorded [min, max] misses that box is not a candidate, so it is
    never opened — proven by overwriting it with garbage after its
    commit.  The MERGE still lands with the right removes."""
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b = spark.createDataFrame([(10, "x"), (11, "y")], "k long, v string")
    txlog.append(a.coalesce(1), table)
    far = txlog.append(b.coalesce(1), table)
    canon = txlog._canon(table)
    near = txlog._read_commit(canon, 1)["adds"]
    (far_file,) = txlog._read_commit(canon, far.version)["adds"]
    with open(os.path.join(canon, far_file), "wb") as f:
        f.write(b"not a parquet file")

    src = spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string")
    res = txlog.merge(spark, table, src, on=["k"])
    commit = txlog._read_commit(canon, res.version)
    assert commit["removes"] == near
    assert far_file not in commit["removes"]
    landed = spark.read.parquet(
        *[os.path.join(canon, f) for f in commit["adds"]]
    )
    assert _rows(landed) == [(1, "a"), (2, "B2"), (3, "c")]


def test_merge_never_stats_prunes_float_keys(spark, table):
    """Parquet writers may leave NaN out of a file's min/max, while
    Spark's join matches NaN to NaN: a file whose recorded range misses
    the source's must still be a candidate when the key is floating
    point, or the MERGE would insert a second NaN row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    canon = txlog._canon(table)
    rel = os.path.join("data", "part-arrow.parquet")
    os.makedirs(os.path.join(canon, "data"))
    pq.write_table(
        pa.table({"k": [1.0, float("nan")], "v": ["a", "n"]}),
        os.path.join(canon, rel),
    )
    txlog.commit(table, [rel], [], "append", 0)
    st = txlog.snapshot_stats(table)[os.path.join(canon, rel)]["k"]
    assert st == {"min": 1.0, "max": 1.0}  # NaN left out of the stats

    src = spark.createDataFrame(
        [(5.0, "x"), (float("nan"), "N2")], "k double, v string"
    )
    res = txlog.merge(spark, table, src, on=["k"])
    assert txlog._read_commit(canon, res.version)["removes"] == [rel]
    got = {
        ("nan" if r["k"] != r["k"] else r["k"]): r["v"]
        for r in txlog.read_table(spark, table).collect()
    }
    assert got == {1.0: "a", 5.0: "x", "nan": "N2"}
