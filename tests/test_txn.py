"""Transactional manifest table (sources/txn.py): atomic commits,
snapshot isolation, optimistic concurrency, partition replacement,
vacuum. These are the properties the streaming exactly-once sinks and
the CDC upsert lean on."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from tdataframe_spark.sources.txn import (
    ConcurrentWriteError,
    is_txn_table,
    txn_latest,
    txn_latest_meta,
    txn_read,
    txn_snapshots,
    txn_vacuum,
    txn_write,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_overwrite_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    a = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    b = spark.range(5, 8).select(F.col("id"), (F.col("id") * 2).alias("v"))
    v1 = txn_write(a, path, mode="append")
    v2 = txn_write(b, path, mode="append")
    assert (v1, v2) == (1, 2) and is_txn_table(path)
    assert _rows(txn_read(spark, path)) == _rows(a.unionByName(b))
    v3 = txn_write(a, path, mode="overwrite")
    assert v3 == 3
    assert _rows(txn_read(spark, path)) == _rows(a)


def test_snapshot_isolation_under_later_commits(spark, tmp_path):
    """A reader pinned to version N sees N's exact bytes even after the
    table moves on — files are immutable, manifests name complete sets."""
    path = str(tmp_path / "t")
    a = spark.range(4).select(F.col("id"), F.lit("a").alias("src"))
    txn_write(a, path)
    pinned = txn_read(spark, path, version=1)
    txn_write(
        spark.range(4).select(F.col("id"), F.lit("b").alias("src")),
        path,
        mode="overwrite",
    )
    assert _rows(pinned) == _rows(a)  # materialized AFTER the overwrite
    assert {r["src"] for r in txn_read(spark, path).collect()} == {"b"}
    assert _rows(txn_read(spark, path, version=1)) == _rows(a)


def test_replace_where_refreshes_only_matching_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(d, i, 1.0) for d in (1, 2, 3) for i in range(3)], "day int, k int, v double"
    )
    txn_write(base, path, partition_by=["day"], mode="overwrite")
    v1_files = {f["path"] for f in txn_latest(path)[1]["files"]}
    fresh = spark.createDataFrame([(2, 9, 5.0)], "day int, k int, v double")
    txn_write(fresh, path, partition_by=["day"], replace_where={"day": [2]})
    got = _rows(txn_read(spark, path))
    want = _rows(base.filter("day != 2").unionByName(fresh))
    assert got == want
    # untouched days keep their ORIGINAL files (no rewrite)
    kept = {f["path"] for f in txn_latest(path)[1]["files"]
            if f["partition"].get("day") in ("1", "3")}
    assert kept and kept <= v1_files
    # partition_filter prunes on manifest values, before Spark lists
    only2 = txn_read(spark, path, partition_filter={"day": [2]})
    assert _rows(only2) == _rows(fresh)


def test_concurrent_appends_never_lose_data(spark, tmp_path):
    """Two writers racing the manifest number: the loser retries against
    the new head, so every append lands (the O_EXCL link is the lock)."""
    path = str(tmp_path / "t")
    errs = []
    barrier = threading.Barrier(2)

    def worker(tag, lo, hi):
        try:
            df = spark.createDataFrame(
                [(tag, i) for i in range(lo, hi)], "tag string, i int"
            )
            barrier.wait()
            for _ in range(3):
                txn_write(df, path, mode="append")
        except Exception as e:  # pragma: no cover - fail loudly below
            errs.append(e)

    ts = [
        threading.Thread(target=worker, args=("a", 0, 5)),
        threading.Thread(target=worker, args=("b", 5, 10)),
    ]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    v, _ = txn_latest(path)
    assert v == 6  # all six commits published, distinct versions
    counts = dict(
        txn_read(spark, path).groupBy("tag").count().collect()
    )
    assert counts == {"a": 15, "b": 15}


def test_expected_version_cas(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(3)
    txn_write(df, path)
    with pytest.raises(ConcurrentWriteError, match="expected v0"):
        txn_write(df, path, expected_version=0)
    assert txn_write(df, path, expected_version=1) == 2


def test_meta_rides_the_commit_and_empty_read_has_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "x")], "k int, s string")
    txn_write(df, path, meta={"batch_id": 7, "owner": "abc"})
    assert txn_latest_meta(path) == {"batch_id": 7, "owner": "abc"}
    assert txn_snapshots(path) == [(1, {"batch_id": 7, "owner": "abc"})]
    # an overwrite with zero rows still reads back with the right schema
    txn_write(df.filter("k < 0"), path, mode="overwrite")
    empty = txn_read(spark, path)
    assert empty.count() == 0 and empty.columns == ["k", "s"]


def test_vacuum_reclaims_unreferenced_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    a = spark.range(3).select(F.col("id"))
    txn_write(a, path)
    txn_write(spark.range(3, 6).select(F.col("id")), path, mode="overwrite")
    data_root = os.path.join(path, "data")
    assert len(os.listdir(data_root)) == 2
    removed = txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert len(removed) == 1 and len(os.listdir(data_root)) == 1
    assert {r["id"] for r in txn_read(spark, path).collect()} == {3, 4, 5}
    with pytest.raises(FileNotFoundError):
        json.load(open(os.path.join(path, "_txn", "manifest-000000000001.json")))


def test_time_travel_reads_the_commit_at_or_before_ts(spark, tmp_path):
    from tdataframe_spark.sources.txn import _load

    path = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "a")], "k int, s string")
    b = spark.createDataFrame([(2, "b")], "k int, s string")
    txn_write(a, path)
    txn_write(b, path)
    ts1 = _load(path, 1)["ts"]
    ts2 = _load(path, 2)["ts"]
    assert ts2 >= ts1
    assert _rows(txn_read(spark, path, as_of=ts1)) == _rows(a)
    assert _rows(txn_read(spark, path, as_of=ts2 + 1)) == _rows(a.unionByName(b))
    with pytest.raises(FileNotFoundError, match="no commit at or before"):
        txn_read(spark, path, as_of=ts1 - 10)
    with pytest.raises(ValueError, match="version OR as_of"):
        txn_read(spark, path, version=1, as_of=ts1)


def test_txn_changes_row_level_feed(spark, tmp_path):
    """Change feed between snapshots from the manifests' file diff:
    appends surface as inserts, a replace_where refresh surfaces exactly
    the changed rows as delete+insert pairs (unchanged rows in untouched
    FILES never appear), an upsert update is its delete+insert pair."""
    from tdataframe_spark.sources.txn import txn_changes, txn_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(d, i, 1.0) for d in (1, 2) for i in range(3)], "day int, k int, v double"
    )
    txn_write(base, path, partition_by=["day"], mode="overwrite")  # v1
    txn_write(
        spark.createDataFrame([(3, 0, 9.0)], "day int, k int, v double"),
        path,
        partition_by=["day"],
    )  # v2: pure append
    ch = txn_changes(spark, path, 1, 2).collect()
    assert {(r["day"], r["k"], r["_change_type"]) for r in ch} == {(3, 0, "insert")}

    # v3: refresh day=2 — one row's value changes, two rows are rewritten
    # unchanged within the replaced files; the unchanged rewrites cancel
    # in the multiset diff, so only the truly changed row may appear
    refreshed = spark.createDataFrame(
        [(2, 0, 1.0), (2, 1, 5.0), (2, 2, 1.0)], "day int, k int, v double"
    )
    txn_write(refreshed, path, partition_by=["day"], replace_where={"day": [2]})
    ch = {
        (r["day"], r["k"], r["v"], r["_change_type"])
        for r in txn_changes(spark, path, 2, 3).collect()
    }
    assert ch == {(2, 1, 1.0, "delete"), (2, 1, 5.0, "insert")}

    # v4: batch MERGE — an update is its delete+insert pair, a new key an insert
    txn_upsert(
        spark.createDataFrame([(1, 0, 7.0), (9, 9, 2.0)], "day int, k int, v double"),
        path,
        keys=["day", "k"],
    )
    ch = {
        (r["day"], r["k"], r["v"], r["_change_type"])
        for r in txn_changes(spark, path, 3).collect()
    }
    assert ch == {
        (1, 0, 1.0, "delete"), (1, 0, 7.0, "insert"), (9, 9, 2.0, "insert"),
    }
    # and the merged head equals the expected table
    want = {(1, 0, 7.0), (1, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 1, 5.0),
            (2, 2, 1.0), (3, 0, 9.0), (9, 9, 2.0)}
    assert {tuple(r) for r in txn_read(spark, path).collect()} == want


def test_txn_changes_since_cursor_loop(spark, tmp_path):
    """Pull-based incremental consumption: each poll returns exactly the
    delta since the persisted cursor plus the new cursor; a poll with no
    new commits returns an empty frame and the unchanged cursor."""
    from tdataframe_spark.sources.txn import txn_changes_since

    path = str(tmp_path / "t")
    txn_write(spark.createDataFrame([(1, "a")], "k int, s string"), path)
    df, cur = txn_changes_since(spark, path, 0)
    assert cur == 1
    assert {(r["k"], r["_change_type"]) for r in df.collect()} == {(1, "insert")}
    # idle poll: no new commits
    df, cur2 = txn_changes_since(spark, path, cur)
    assert cur2 == cur and df.count() == 0
    assert df.columns == ["k", "s", "_change_type"]
    # two more commits consumed in one poll
    txn_write(spark.createDataFrame([(2, "b")], "k int, s string"), path)
    txn_write(spark.createDataFrame([(3, "c")], "k int, s string"), path)
    df, cur3 = txn_changes_since(spark, path, cur2)
    assert cur3 == 3
    assert {r["k"] for r in df.collect()} == {2, 3}


def test_compact_txn_preserves_pinned_readers(spark, tmp_path):
    """Lakehouse OPTIMIZE: many small commits compact into one atomic
    overwrite commit; a reader pinned to the pre-compaction version keeps
    reading its exact snapshot (old files survive until vacuum), the new
    head has fewer files and identical content."""
    from tdataframe_spark.sources.layout import compact_txn

    path = str(tmp_path / "t")
    for i in range(5):  # five tiny commits = five file sets
        txn_write(
            spark.createDataFrame(
                [(i * 10 + j, f"v{i}") for j in range(4)], "k int, s string"
            ),
            path,
        )
    v_before, m_before = txn_latest(path)
    pinned = txn_read(spark, path, version=3)
    pinned_rows = _rows(pinned)
    before = _rows(txn_read(spark, path))

    n = compact_txn(spark, path)
    v_after, m_after = txn_latest(path)
    assert v_after == v_before + 1 and m_after["meta"]["compaction"]
    assert m_after["meta"]["source_version"] == v_before
    assert len(m_after["files"]) == n < len(m_before["files"])
    assert _rows(txn_read(spark, path)) == before
    # the pinned snapshot still reads its exact pre-compaction bytes
    assert _rows(txn_read(spark, path, version=3)) == pinned_rows
    # vacuum then reclaims the superseded commit dirs; head still reads
    removed = txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert removed and _rows(txn_read(spark, path)) == before


def test_compact_txn_preserves_partitioning_and_fails_on_race(spark, tmp_path):
    """Review regressions: (1) compacting a day-partitioned table must
    re-record per-file partition values — partition-filtered reads and
    replace_where refreshes after an OPTIMIZE would otherwise silently
    miss every compacted row; (2) the read-modify-write is pinned with
    expected_version, so a commit landing mid-compaction raises instead
    of silently vanishing from the compacted head."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(d, i, 1.0) for d in (1, 2) for i in range(3)], "day int, k int, v double"
    )
    txn_write(base, path, partition_by=["day"], mode="overwrite")
    txn_write(
        spark.createDataFrame([(2, 9, 2.0)], "day int, k int, v double"),
        path, partition_by=["day"],
    )
    compact_txn(spark, path)
    _, m = txn_latest(path)
    assert all(f["partition"].get("day") in ("1", "2") for f in m["files"]), m
    # partition-filtered read still sees the compacted rows
    assert len(txn_read(spark, path, partition_filter={"day": [2]}).collect()) == 4
    # replace_where after compaction replaces, not duplicates
    txn_write(
        spark.createDataFrame([(2, 0, 7.0)], "day int, k int, v double"),
        path, partition_by=["day"], replace_where={"day": [2]},
    )
    got = _rows(txn_read(spark, path))
    assert got == _rows(
        base.filter("day = 1").unionByName(
            spark.createDataFrame([(2, 0, 7.0)], "day int, k int, v double")
        )
    )
    # upsert CAS: another commit between read and merge must raise loudly
    # (simulated by bumping the head after txn_upsert captured it — here
    # we just assert txn_write's CAS plumbing is what txn_upsert uses)
    v, _ = txn_latest(path)
    with pytest.raises(ConcurrentWriteError):
        txn_write(base, path, mode="overwrite", expected_version=v - 1)


def test_txn_fence_survives_interleaved_non_sink_commits(
    spark, tmp_path, monkeypatch
):
    """The one exactly-once fence of a txn table is the per-app watermark
    on the head. Fold-sink commits (app_id from _txn_app, app_version =
    batch id), then an OPTIMIZE, an overwrite and a vacuum: the vacuum
    leaves exactly one manifest, the applied batch is still skipped, a
    foreign checkpoint is still refused, and a pinned read of an old
    version raises FileNotFoundError. The vacuum unlinks the old
    manifests before it reclaims any directory, so a crash at its first
    physical delete leaves no surviving manifest naming a reclaimed
    file."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import _versions, txn_app_version
    from tdataframe_spark.streaming.ops import _txn_app

    path, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    app = _txn_app(path, ck, "rollup")
    txn_write(spark.range(3), path, app_id=app, app_version=0)     # v1
    txn_write(spark.range(3, 6), path, app_id=app, app_version=1)  # v2
    compact_txn(spark, path)                                       # v3
    txn_write(spark.range(10, 13), path, mode="overwrite")         # v4

    def crash_rmtree(p, *a, **k):
        raise RuntimeError("injected crash at first physical delete")

    # txn_vacuum imports shutil locally — patch the module attribute
    monkeypatch.setattr("shutil.rmtree", crash_rmtree)
    with pytest.raises(RuntimeError, match="injected crash"):
        txn_vacuum(path, keep_versions=1, min_age_s=0)
    monkeypatch.undo()
    assert _versions(path) == [4]
    assert txn_read(spark, path).count() == 3
    assert txn_vacuum(path, keep_versions=1, min_age_s=0)  # reclaims now
    assert _versions(path) == [4]

    assert txn_app_version(path, app) == 1
    assert txn_write(spark.range(3), path, app_id=app, app_version=1) == 4
    assert txn_read(spark, path).count() == 3
    with pytest.raises(ValueError, match="owned by checkpoint"):
        _txn_app(path, str(tmp_path / "other"), "rollup")
    for v in (1, 3):
        with pytest.raises(FileNotFoundError):
            txn_read(spark, path, version=v)
    assert txn_write(spark.range(3), path, app_id=app, app_version=2) == 5


def test_vacuum_spares_young_unreferenced_commits(spark, tmp_path):
    """Review regression: an unreferenced-but-young data dir may be a
    commit mid-publish (files are staged BEFORE the manifest race) —
    vacuum must leave it alone under the retention window."""
    path = str(tmp_path / "t")
    txn_write(spark.range(3), path)
    staged = os.path.join(path, "data", "deadbeef0000")
    os.makedirs(staged)
    open(os.path.join(staged, "part-0.parquet"), "wb").write(b"x")
    assert txn_vacuum(path, min_age_s=3600) == []
    assert os.path.isdir(staged)
    removed = txn_vacuum(path, min_age_s=0)
    assert removed == [staged]


def test_txn_write_rejects_unknown_mode_and_upsert_rejects_plain_dir(spark, tmp_path):
    from tdataframe_spark.sources.txn import txn_upsert

    with pytest.raises(ValueError, match="mode must be"):
        txn_write(spark.range(1), str(tmp_path / "t"), mode="Overwrite")
    plain = str(tmp_path / "plain")
    spark.range(5).write.parquet(plain)
    with pytest.raises(ValueError, match="plain parquet table"):
        txn_upsert(spark.range(2).selectExpr("id", "id as v"), plain, keys=["id"])


def test_txn_upsert_preserves_partitioning_and_races_loudly(spark, tmp_path, monkeypatch):
    """Second-review regressions: (1) upserting a partitioned table must
    re-record per-file partition values (or partition_filter reads go
    empty and later replace_where DUPLICATES — the compact_txn bug class);
    (2) a commit landing between txn_upsert's snapshot read and its merge
    commit must raise through txn_upsert itself, not just txn_write; (3)
    a batch with an extra/missing column merges under additive schema
    evolution; (4) the plain-table guard also catches hive-partitioned
    plain layouts."""
    from tdataframe_spark.sources import txn as txn_mod
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(d, i, 1.0) for d in (1, 2) for i in range(3)], "day int, k int, v double"
    )
    txn_write(base, path, partition_by=["day"], mode="overwrite")
    txn_upsert(
        spark.createDataFrame([(2, 0, 9.0)], "day int, k int, v double"),
        path, keys=["day", "k"],
    )
    _, m = txn_latest(path)
    assert all(f["partition"].get("day") in ("1", "2") for f in m["files"]), m
    assert len(txn_read(spark, path, partition_filter={"day": [2]}).collect()) == 3
    txn_write(
        spark.createDataFrame([(2, 5, 4.0)], "day int, k int, v double"),
        path, partition_by=["day"], replace_where={"day": [2]},
    )
    got = _rows(txn_read(spark, path))
    assert got == _rows(
        base.filter("day = 1").unionByName(
            spark.createDataFrame([(2, 5, 4.0)], "day int, k int, v double")
        )
    ), "replace_where after upsert duplicated rows"

    # (3) schema evolution through the merge: extra column NULL-backfills
    txn_upsert(
        spark.createDataFrame(
            [(1, 0, 2.0, "x")], "day int, k int, v double, tag string"
        ),
        path, keys=["day", "k"],
    )
    head = txn_read(spark, path)
    assert "tag" in head.columns
    assert {r["tag"] for r in head.collect()} == {None, "x"}

    # (2) inject a commit between txn_upsert's read and its commit
    # (into the selective path's snapshot-subset read)
    real_subset = txn_mod._read_file_subset
    bumped = {"done": False}

    def racing_subset(spark_, p, manifest, rel_paths):
        out = real_subset(spark_, p, manifest, rel_paths)
        if not bumped["done"]:
            bumped["done"] = True
            txn_write(
                spark.createDataFrame([(9, 9, 9.0, None)],
                                      "day int, k int, v double, tag string"),
                p, partition_by=["day"],
            )
        return out

    monkeypatch.setattr(txn_mod, "_read_file_subset", racing_subset)
    with pytest.raises(ConcurrentWriteError):
        txn_upsert(
            spark.createDataFrame(
                [(1, 1, 3.0, None)], "day int, k int, v double, tag string"
            ),
            path, keys=["day", "k"],
        )
    monkeypatch.undo()

    # (4) hive-partitioned plain table: guard must refuse
    plain = str(tmp_path / "plain")
    base.write.partitionBy("day").parquet(plain)
    with pytest.raises(ValueError, match="plain parquet table"):
        txn_upsert(base, plain, keys=["day", "k"])


def test_vacuum_keeps_the_fence_manifest_and_asof_falls_back_to_mtime(
    spark, tmp_path
):
    """Second-review regressions: vacuum must keep the replay fence
    and ownership record (the watermark rides the head manifest, which
    vacuum always keeps), and as_of on a manifest without 'ts' falls
    back to the file mtime instead of being unreachable."""
    import time as _time

    from tdataframe_spark.sources.txn import _load, _manifest_path
    from tdataframe_spark.streaming.ops import _txn_app

    path = str(tmp_path / "t")
    app = _txn_app(path, str(tmp_path / "ck"), "rollup")
    txn_write(spark.range(3), path, app_id=app, app_version=0)
    txn_write(spark.range(3, 6), path, mode="overwrite")  # non-sink head
    txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert txn_write(spark.range(3), path, app_id=app, app_version=0) == 2
    with pytest.raises(ValueError, match="owned by checkpoint"):
        _txn_app(path, str(tmp_path / "other"), "rollup")

    # as_of fallback: strip 'ts' from the head manifest (pre-timestamp era)
    v, m = txn_latest(path)
    m.pop("ts")
    mp = _manifest_path(path, v)
    os.unlink(mp)
    with open(mp, "w") as f:
        json.dump(m, f)
    assert "ts" not in _load(path, v)
    got = txn_read(spark, path, as_of=_time.time() + 1)
    assert {r["id"] for r in got.collect()} == {3, 4, 5}


def test_schema_evolution_additive_columns_null_backfill(spark, tmp_path):
    """Additive schema evolution: appending a frame with a NEW column
    widens the table schema; rows in older files read back NULL for it,
    a frame MISSING a column appends fine (NULL-backfilled), and a
    same-name type conflict raises instead of silently coercing."""
    path = str(tmp_path / "t")
    txn_write(spark.createDataFrame([(1, "a")], "k int, s string"), path)
    txn_write(
        spark.createDataFrame([(2, "b", 9.5)], "k int, s string, score double"),
        path,
    )
    got = {r["k"]: (r["s"], r["score"]) for r in txn_read(spark, path).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    assert txn_read(spark, path).columns == ["k", "s", "score"]
    # a frame missing an evolved column still appends; NULL backfill
    txn_write(spark.createDataFrame([(3, "c")], "k int, s string"), path)
    got = {r["k"]: r["score"] for r in txn_read(spark, path).collect()}
    assert got == {1: None, 2: 9.5, 3: None}
    # same-name different-type: loud refusal
    with pytest.raises(ValueError, match="type conflict on 'score'"):
        txn_write(
            spark.createDataFrame([(4, "d", "oops")], "k int, s string, score string"),
            path,
        )
    # time travel reads the OLD schema at the old version
    assert txn_read(spark, path, version=1).columns == ["k", "s"]


def test_txn_many_commits_smoke(spark, tmp_path):
    """A long commit history stays correct and serviceable: 30 appends →
    head reads every row, a cursor catch-up from 0 replays the full feed,
    time travel hits mid-history, and vacuum(keep=1) collapses the
    manifest count without touching live data."""
    path = str(tmp_path / "t")
    for i in range(30):
        txn_write(
            spark.createDataFrame([(i, i * 10)], "k int, v int"), path
        )
    head = txn_read(spark, path)
    assert head.count() == 30
    from tdataframe_spark.sources.txn import txn_changes_since

    df, cur = txn_changes_since(spark, path, 0)
    assert cur == 30 and df.count() == 30
    assert {r["_change_type"] for r in df.collect()} == {"insert"}
    mid = txn_read(spark, path, version=15)
    assert mid.count() == 15
    txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert txn_read(spark, path).count() == 30


def test_torn_manifest_is_impossible_by_construction(spark, tmp_path):
    """A crash mid-publish leaves only a .tmp- file; readers never see a
    partial manifest because visibility is the atomic link, not the
    write. Simulate the crash artifact and confirm reads ignore it."""
    path = str(tmp_path / "t")
    txn_write(spark.range(2), path)
    stray = os.path.join(path, "_txn", ".tmp-deadbeef")
    with open(stray, "w") as f:
        f.write('{"version": 99, "files": [')  # torn JSON, never linked
    v, m = txn_latest(path)
    assert v == 1 and len(m["files"]) >= 1
    assert txn_read(spark, path).count() == 2


def test_unknown_partition_keys_raise_instead_of_matching_nothing(
    spark, tmp_path
):
    """r6-ADVICE: _part_matches string-compares against recorded partition
    values, so a typo'd (or non-partition) key used to silently match
    nothing — an empty read, or a replace_where that retains every file
    and DUPLICATES the new rows. All four doors now validate keys."""
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "day int, v int"
    )
    path = str(tmp_path / "t")
    txn_write(df, path, partition_by=["day"])

    with pytest.raises(ValueError, match="not partition columns"):
        txn_read(spark, path, partition_filter={"dya": [1]})
    # replace_where keys must be partition columns of the WRITE ...
    with pytest.raises(ValueError, match="not in partition_by"):
        txn_write(
            df.filter("day = 1"), path, replace_where={"dya": [1]}
        )
    # ... and of the existing table (else every file is retained)
    with pytest.raises(ValueError, match="existing table"):
        txn_write(
            df.filter("day = 1").withColumnRenamed("day", "dya"),
            path,
            partition_by=["dya"],
            replace_where={"dya": [1]},
        )

    # unpartitioned table: both filters error clearly
    flat = str(tmp_path / "flat")
    txn_write(df, flat)
    with pytest.raises(ValueError, match="unpartitioned"):
        txn_read(spark, flat, partition_filter={"day": [1]})

    # the valid forms still work
    assert txn_read(spark, path, partition_filter={"day": [1]}).count() == 2


def test_replace_where_rejects_rows_outside_the_predicate(spark, tmp_path):
    """r6-ADVICE: Delta's replaceWhere validation — rows outside the
    predicate must not ride the commit (they would coexist with the
    retained files' copies of those partitions, silently duplicating)."""
    df = spark.createDataFrame(
        [(1, 10), (2, 20)], "day int, v int"
    )
    path = str(tmp_path / "t")
    txn_write(df, path, partition_by=["day"])
    with pytest.raises(ValueError, match="replace_where violation"):
        txn_write(  # frame spans day 1 AND 2, predicate names only day 1
            df, path, partition_by=["day"], replace_where={"day": [1]}
        )
    # nothing was committed, and the staged files were cleaned up
    assert txn_latest(path)[0] == 1
    data_root = os.path.join(path, "data")
    assert len(os.listdir(data_root)) == 1
    # the filtered frame commits fine
    txn_write(
        df.filter("day = 1").withColumn("v", F.lit(99)),
        path,
        partition_by=["day"],
        replace_where={"day": [1]},
    )
    assert _rows(txn_read(spark, path)) == [(1, 99), (2, 20)]


def test_changes_since_on_a_table_with_no_commits_is_empty_not_a_crash(
    spark, tmp_path
):
    """r6-ADVICE: a pull consumer started before the producer's first
    commit must get an empty feed and keep its cursor, not die in _load
    on a manifest that doesn't exist yet."""
    from tdataframe_spark.sources.txn import txn_changes_since

    path = str(tmp_path / "not_yet")
    df, cur = txn_changes_since(spark, path, 0)
    assert df.count() == 0 and cur == 0
    # producer appears → the same loop picks up the first commit
    txn_write(spark.range(3), path)
    df, cur = txn_changes_since(spark, path, cur)
    assert df.count() == 3 and cur == 1


def test_txn_upsert_delete_arm(spark, tmp_path, monkeypatch):
    """WHEN MATCHED DELETE (delete_when): tombstone rows erase their keys
    and are not inserted; unmatched tombstones are no-ops; the predicate
    is judged on the order_col WINNER (a key whose latest version is a
    tombstone deletes even when older versions were updates); NULL
    predicate values mean not-a-tombstone; and the delete-merge is
    CAS-pinned — a commit racing it raises instead of vanishing."""
    from tdataframe_spark.sources import txn as txn_mod
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)], "k int, v double"
    )
    txn_write(base, path, mode="overwrite")
    batch = spark.createDataFrame(
        # update k=1, delete k=2, unmatched tombstone k=9 (no-op),
        # NULL flag on k=3 (kept as an update)
        [(1, 10.0, False), (2, 0.0, True), (9, 0.0, True), (3, 30.0, None)],
        "k int, v double, gone boolean",
    )
    txn_upsert(batch, path, keys=["k"], delete_when="gone")
    got = {r["k"]: (r["v"], r["gone"]) for r in txn_read(spark, path).collect()}
    assert set(got) == {1, 3, 4}
    assert got[1][0] == 10.0 and got[3][0] == 30.0 and got[4][0] == 4.0

    # order_col: k=1's latest version is a tombstone, older was an update
    txn_write(base, path, mode="overwrite")
    versioned = spark.createDataFrame(
        [(1, 99.0, False, 1), (1, 0.0, True, 2), (2, 20.0, False, 5)],
        "k int, v double, gone boolean, ts int",
    )
    txn_upsert(versioned, path, keys=["k"], order_col="ts", delete_when="gone")
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert set(got) == {2, 3, 4} and got[2] == 20.0

    # race: a commit between the snapshot read and the merge commit
    # raises (injected into the selective path's snapshot-subset read)
    real_subset = txn_mod._read_file_subset
    bumped = {"done": False}

    def racing_subset(spark_, p, manifest, rel_paths):
        out = real_subset(spark_, p, manifest, rel_paths)
        if not bumped["done"]:
            bumped["done"] = True
            txn_write(
                spark.createDataFrame([(8, 8.0, None, 0)],
                                      "k int, v double, gone boolean, ts int"),
                p,
            )
        return out

    monkeypatch.setattr(txn_mod, "_read_file_subset", racing_subset)
    with pytest.raises(ConcurrentWriteError):
        txn_upsert(versioned, path, keys=["k"], order_col="ts",
                   delete_when="gone")


def test_txn_restore_is_manifest_only_rollback(spark, tmp_path):
    """Delta-style RESTORE: the rollback commit points at the restored
    snapshot's existing files (zero data copied — the data/ dir gains no
    new commit dir), the head reads the original content, the bad commit
    stays pinned-readable for audit, vacuum afterwards keeps the restored
    (re-referenced) files while reclaiming the bad commit's, and
    restoring a vacuumed version raises."""
    from tdataframe_spark.sources.txn import txn_restore

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(i, float(i)) for i in range(10)], "k int, v double")
    txn_write(base, path, mode="overwrite")                     # v1
    txn_write(base.filter("k < 3"), path, mode="overwrite")     # v2 (bad)
    n_commit_dirs = len(os.listdir(os.path.join(path, "data")))

    v = txn_restore(path, 1, meta={"reason": "bad overwrite"})
    assert v == 3
    # manifest-only: no new data files were written
    assert len(os.listdir(os.path.join(path, "data"))) == n_commit_dirs
    assert _rows(txn_read(spark, path)) == _rows(base)
    assert txn_latest(path)[1]["meta"]["restore_of"] == 1
    # the bad snapshot stays readable (audit) until vacuum
    assert txn_read(spark, path, version=2).count() == 3

    # vacuum: v1's files are re-referenced by the head (v3) → kept;
    # v2's files are unreferenced → reclaimed
    removed = txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert len(removed) == 1
    assert _rows(txn_read(spark, path)) == _rows(base)

    # restoring a version whose files were vacuumed raises clearly
    with pytest.raises(FileNotFoundError):
        txn_restore(path, 2)


def test_compact_txn_zorder_bounds_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER BY on the transactional table: after a z-ordered
    compaction every file's min/max range is bounded on BOTH clustered
    columns (multi-dimensional pruning a single-column sort cannot give),
    content and partitioning metadata are unchanged, and sort_by+zorder_by
    together raise."""
    import random

    import pyarrow.parquet as pq

    from tdataframe_spark.sources.layout import compact_txn

    def file_width(f, column):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == column and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        return max(maxs) - min(mins)

    rng = random.Random(3)
    rows = [(i, rng.randrange(1000), rng.randrange(1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "i int, x int, y int").repartition(8)
    path = str(tmp_path / "t")
    txn_write(df, path, mode="overwrite")
    with pytest.raises(ValueError, match="exclusive"):
        compact_txn(spark, path, sort_by=["x"], zorder_by=["x", "y"])
    compact_txn(spark, path, target_file_bytes=4096, zorder_by=["x", "y"])
    got = txn_read(spark, path)
    assert _rows(got.select("i", "x", "y")) == sorted(rows)
    _, m = txn_latest(path)
    files = [os.path.join(path, f["path"]) for f in m["files"]]
    assert len(files) > 4  # actually split into several files
    for col in ("x", "y"):
        # each file covers a bounded slice of the domain on BOTH columns:
        # average per-file width well under the full 0..999 span
        widths = [file_width(f, col) for f in files]
        avg = sum(widths) / len(widths)
        assert avg < 700, (col, sorted(widths))


def test_ivf_stats_reports_occupancy(spark, tmp_path):
    """ivf_stats: per-cell counts + fractions for IVF and IVF-PQ indexes
    (fractions sum to 1; cells match the persisted table) — the
    rebuild-on-drift signal for the append-forever lifecycle."""
    import random

    from tdataframe_spark.ops.similarity import (
        ivf_build,
        ivf_stats,
        ivfpq_build,
    )

    rng = random.Random(1)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(120)],
        "vec_id int, embedding array<double>",
    )
    for builder, sub in ((ivf_build, "ivf"), (ivfpq_build, "ivfpq")):
        path = str(tmp_path / sub)
        if sub == "ivf":
            builder(emb, path, n_cells=4)
        else:
            builder(emb, path, n_cells=4, m=4, n_codes=8)
        stats = ivf_stats(spark, path).collect()
        assert sum(r["n"] for r in stats) == 120
        assert abs(sum(r["frac"] for r in stats) - 1.0) < 1e-6
        assert len(stats) <= 4


def test_version_hint_fast_head_with_stale_and_corrupt_fallbacks(spark, tmp_path):
    """O(1) head resolution: publishing drops a version hint; txn_latest
    probes forward from it (stale hints cost a few stats, never a wrong
    answer) and falls back to the directory listing when the hint is
    corrupt or missing. The hint never moves backwards."""
    from tdataframe_spark.sources.txn import _hint_path, _write_hint

    path = str(tmp_path / "t")
    for i in range(3):
        txn_write(spark.range(i, i + 1), path)
    hp = _hint_path(path)
    assert open(hp).read().strip() == "3"
    assert txn_latest(path)[0] == 3

    with open(hp, "w") as f:  # stale hint: probe forward
        f.write("1")
    assert txn_latest(path)[0] == 3
    with open(hp, "w") as f:  # corrupt hint: listing fallback
        f.write("not-a-number")
    assert txn_latest(path)[0] == 3
    os.unlink(hp)  # missing hint: listing fallback
    assert txn_latest(path)[0] == 3
    _write_hint(path, 2)
    _write_hint(path, 1)  # must not regress below 2
    assert open(hp).read().strip() == "2"
    assert txn_latest(path)[0] == 3


def test_data_skipping_prunes_files_and_stays_exact(spark, tmp_path):
    """Iceberg/Delta-style data skipping: txn_write(stats_cols=...)
    records per-file min/max in the manifest; txn_read(range_filter=...)
    prunes FILES before Spark lists anything. Pinned: fewer files read
    under a selective range, results (with the caller's row filter) equal
    the unpruned filter exactly, files without stats are conservatively
    kept, a stats-less column raises, and compaction PRESERVES the
    recorded stats columns."""
    from tdataframe_spark.sources.layout import compact_txn

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(4000)], "k int, v double"
    )
    txn_write(
        df.repartitionByRange(8, "v").sortWithinPartitions("v"),
        path, mode="overwrite", stats_cols=["v"],
    )
    full = txn_read(spark, path)
    pruned = txn_read(spark, path, range_filter={"v": (1000.0, 1499.0)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = _rows(full.filter("v between 1000 and 1499"))
    assert _rows(pruned.filter("v between 1000 and 1499")) == want
    # open-ended bound
    lo = txn_read(spark, path, range_filter={"v": (None, 99.0)})
    assert len(lo.inputFiles()) < len(full.inputFiles())
    assert lo.filter("v < 100").count() == 100
    with pytest.raises(ValueError, match="no recorded stats"):
        txn_read(spark, path, range_filter={"w": (0, 1)})

    # a stats-less commit is conservatively kept by every range read
    txn_write(
        spark.createDataFrame([(99999, 1250.0)], "k int, v double"), path
    )
    again = txn_read(spark, path, range_filter={"v": (1000.0, 1499.0)})
    assert (99999, 1250.0) in _rows(again.select("k", "v"))

    # compaction recomputes stats for the rewritten files
    compact_txn(spark, path, target_file_bytes=8192, sort_by=["v"])
    _, m = txn_latest(path)
    assert all("v" in f.get("stats", {}) for f in m["files"])
    post = txn_read(spark, path, range_filter={"v": (1000.0, 1499.0)})
    assert len(post.inputFiles()) < len(txn_read(spark, path).inputFiles())
    assert _rows(post.filter("v between 1000 and 1499").select("k", "v")) == sorted(
        set(want) | {(99999, 1250.0)}
    )


def test_range_filter_validates_against_full_snapshot_and_stats_cols_typo(
    spark, tmp_path
):
    """Review pins: (a) range_filter validation runs against the FULL
    snapshot — a partition whose files lack stats keeps its files
    (conservative) instead of erroring on a correct column name; (b) a
    typo'd stats_cols raises at write time instead of silently recording
    empty stats forever."""
    path = str(tmp_path / "t")
    d1 = spark.createDataFrame([(1, i, float(i)) for i in range(10)],
                               "day int, k int, v double")
    d2 = spark.createDataFrame([(2, i, float(i)) for i in range(10)],
                               "day int, k int, v double")
    txn_write(d1, path, partition_by=["day"], stats_cols=["v"])
    txn_write(d2, path, partition_by=["day"])  # no stats on day=2
    out = txn_read(
        spark, path,
        partition_filter={"day": [2]},
        range_filter={"v": (100.0, 200.0)},  # day-2 files kept: no stats
    )
    assert out.count() == 10
    with pytest.raises(ValueError, match="not columns of the frame"):
        txn_write(d1, path, partition_by=["day"], stats_cols=["vv"])


def test_txn_upsert_inherits_stats_cols(spark, tmp_path):
    """ADVICE r7: txn_upsert used to recommit via txn_write without
    stats_cols, so the FIRST merge on a table built with stats_cols
    dropped every per-file min/max — all existing
    txn_read(range_filter=...) readers then raised 'no recorded stats'.
    Pinned: after an upsert (including one with a delete arm) the head
    manifest still records stats for the inherited columns and a range
    read still prunes and matches the exact filter."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(4000)], "k int, v double"
    )
    txn_write(
        df.repartitionByRange(8, "v").sortWithinPartitions("v"),
        path, mode="overwrite", stats_cols=["v"],
    )
    txn_upsert(
        spark.createDataFrame(
            [(1200, -1.0), (99999, 1250.0)], "k int, v double"
        ),
        path, keys=["k"],
    )
    _, m = txn_latest(path)
    assert all("v" in f.get("stats", {}) for f in m["files"]), m
    pruned = txn_read(spark, path, range_filter={"v": (1000.0, 1499.0)})
    full = txn_read(spark, path)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert _rows(pruned.filter("v between 1000 and 1499")) == _rows(
        full.filter("v between 1000 and 1499")
    )
    # a second merge with a delete arm keeps stats alive too
    txn_upsert(
        spark.createDataFrame([(99999, 0.0)], "k int, v double"),
        path, keys=["k"], delete_when="v = 0.0",
    )
    _, m2 = txn_latest(path)
    assert all("v" in f.get("stats", {}) for f in m2["files"]), m2
    # a stats-less table stays stats-less (no spurious stats_cols)
    p2 = str(tmp_path / "plain")
    txn_write(df.limit(10), p2, mode="overwrite")
    txn_upsert(
        spark.createDataFrame([(3, 9.0)], "k int, v double"), p2, keys=["k"]
    )
    _, mp = txn_latest(p2)
    assert all("stats" not in f for f in mp["files"]), mp


def test_replace_where_on_unpartitioned_table_cleans_staged_dir(
    spark, tmp_path
):
    """ADVICE r7: the in-retry-loop replace_where validation (predicate
    keys not partition columns of the EXISTING table) raises after the
    commit's data files were already staged; it must rmtree the staged
    dir like the pre-loop per-file violation path does, not leave an
    orphan until vacuum."""
    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(1, 1.0)], "k int, v double"),
        path, mode="overwrite",  # unpartitioned table
    )
    data_dir = os.path.join(path, "data")
    before = set(os.listdir(data_dir))
    with pytest.raises(ValueError, match="not.*partition columns"):
        txn_write(
            spark.createDataFrame([(5, 2, 2.0)], "day int, k int, v double"),
            path, partition_by=["day"], replace_where={"day": [5]},
        )
    assert set(os.listdir(data_dir)) == before  # staged dir cleaned up


def test_deletion_vectors_delete_without_rewrite(spark, tmp_path):
    """txn_delete: row-level DELETE via deletion vectors — the data
    files are untouched (same inputFiles), matching rows disappear from
    reads, deletes COMPOSE across commits, a no-match predicate is a
    no-op (no empty commit), pinned/as_of readers of older versions
    still see the rows, and partition/range pruning still applies."""
    from tdataframe_spark.sources.txn import txn_delete

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(1000)], "k int, day int, v double"
    )
    v1 = txn_write(df, path, mode="overwrite", partition_by=["day"],
                   stats_cols=["v"])

    def data_files(df_):
        return sorted(p for p in df_.inputFiles() if "/data/" in p)

    files_before = data_files(txn_read(spark, path))

    v2 = txn_delete(spark, path, "k % 10 = 0")
    assert v2 == v1 + 1
    cur = txn_read(spark, path)
    assert data_files(cur) == files_before  # no data file rewritten
    assert cur.count() == 900
    assert cur.filter("k % 10 = 0").count() == 0
    # pinned read still sees everything
    assert txn_read(spark, path, version=v1).count() == 1000

    # deletes compose; second delete only hits still-live rows
    v3 = txn_delete(spark, path, F.col("k") < 100)
    assert v3 == v2 + 1
    assert txn_read(spark, path).count() == 810  # 900 - 90 live k<100
    # no-match predicate: no commit
    assert txn_delete(spark, path, "k < 0") == v3
    assert txn_latest(path)[0] == v3

    # pruned reads apply DVs too: exactly the live day-2 keys
    day2 = txn_read(spark, path, partition_filter={"day": [2]})
    want = {r["k"] for r in txn_read(spark, path).collect() if r["k"] % 4 == 2}
    assert want and {r["k"] for r in day2.collect()} == want
    rng = txn_read(spark, path, range_filter={"v": (500.0, 600.0)})
    assert {r["k"] for r in rng.filter("v between 500 and 600").collect()} == {
        k for k in range(500, 601) if k % 10 != 0
    }


def test_deletion_vectors_compose_with_writers(spark, tmp_path):
    """DVs survive appends and replace_where (retained files keep their
    deletes), upsert/compaction materialize them (rows stay gone, files
    rewritten), overwrite clears them, and restore brings a snapshot's
    deletes back with it."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import (
        txn_delete, txn_restore, txn_upsert,
    )

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(100)],
            "k int, day int, v double",
        ),
        path, mode="overwrite", partition_by=["day"],
    )
    txn_delete(spark, path, "k < 10")
    # append: deleted rows stay gone, new rows visible
    txn_write(
        spark.createDataFrame([(1000, 0, 1.0)], "k int, day int, v double"),
        path, partition_by=["day"],
    )
    assert txn_read(spark, path).count() == 91
    assert txn_read(spark, path).filter("k < 10").count() == 0
    # replace_where day=1: day-0 files keep their DVs
    txn_write(
        spark.createDataFrame([(2001, 1, 2.0)], "k int, day int, v double"),
        path, partition_by=["day"], replace_where={"day": [1]},
    )
    got = txn_read(spark, path)
    assert got.filter("day = 0 and k < 10").count() == 0
    assert got.filter("k = 2001").count() == 1

    # upsert reads DV-applied and rewrites the TOUCHED files (r10
    # selective MERGE): tombstoned rows cannot resurrect; DV entries
    # referencing untouched files legitimately survive and keep
    # applying, while a rewrite="full" pass clears every DV
    txn_upsert(
        spark.createDataFrame([(50, 0, 999.0)], "k int, day int, v double"),
        path, keys=["k"],
    )
    assert txn_read(spark, path).filter("day = 0 and k < 10").count() == 0
    assert txn_read(spark, path).filter("v = 999.0").count() == 1
    txn_upsert(
        spark.createDataFrame([(51, 0, 998.0)], "k int, day int, v double"),
        path, keys=["k"], rewrite="full",
    )
    _, m = txn_latest(path)
    assert m.get("dv", []) == []
    assert txn_read(spark, path).filter("day = 0 and k < 10").count() == 0

    # delete → compact: files physically rewritten, rows stay deleted, dv cleared
    v_del = txn_delete(spark, path, "k = 50")
    compact_txn(spark, path, target_file_bytes=1 << 20)
    _, m2 = txn_latest(path)
    assert m2.get("dv", []) == []
    assert txn_read(spark, path).filter("k = 50").count() == 0

    # restore to the pre-compaction delete version: dv comes back
    txn_restore(path, v_del)
    _, m3 = txn_latest(path)
    assert m3.get("dv")  # the restored snapshot's DV list
    assert txn_read(spark, path).filter("k = 50").count() == 0


def test_deletion_vectors_change_feed_and_vacuum(spark, tmp_path):
    """txn_changes across a txn_delete commit (which changes NO files)
    reports exactly the DV'd rows as deletes; vacuum keeps DV files
    referenced by retained manifests and reclaims orphaned ones."""
    import glob as _glob

    from tdataframe_spark.sources.txn import txn_changes, txn_delete

    path = str(tmp_path / "t")
    v1 = txn_write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k int, v double"
        ),
        path, mode="overwrite",
    )
    v2 = txn_delete(spark, path, "k in (3, 7, 11)")
    feed = txn_changes(spark, path, v1, v2).collect()
    assert {(r["k"], r["_change_type"]) for r in feed} == {
        (3, "delete"), (7, "delete"), (11, "delete")
    }
    # and across a delete+append span
    v3 = txn_write(
        spark.createDataFrame([(100, 1.0)], "k int, v double"), path
    )
    feed2 = txn_changes(spark, path, v1, v3)
    assert {(r["k"], r["_change_type"]) for r in feed2.collect()} == {
        (3, "delete"), (7, "delete"), (11, "delete"), (100, "insert")
    }

    # vacuum with the delete version retained keeps its DV files
    removed = txn_vacuum(path, keep_versions=2, min_age_s=0.0)
    assert txn_read(spark, path).count() == 48
    assert _glob.glob(os.path.join(path, "dv", "*", "*.parquet"))
    # drop retention to head only: v2's dv is still the head's dv
    # (files carry forward), so it must survive again
    txn_vacuum(path, keep_versions=1, min_age_s=0.0)
    assert txn_read(spark, path).count() == 48
    assert txn_read(spark, path).filter("k in (3,7,11)").count() == 0


def test_deletion_vector_race_recomputes(spark, tmp_path, monkeypatch):
    """A commit landing between txn_delete's snapshot and its publish
    must trigger recompute against the new head — the delete applies to
    rows the interleaved writer added too (predicate semantics, not
    stale row-set semantics)."""
    from tdataframe_spark.sources import txn as txn_mod
    from tdataframe_spark.sources.txn import txn_delete

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(i, float(i)) for i in range(20)],
                              "k int, v double"),
        path, mode="overwrite",
    )
    real_publish = txn_mod._publish
    fired = {"done": False}

    def racing_publish(p, version, manifest):
        if not fired["done"]:
            fired["done"] = True
            # interleave a commit adding a row the predicate matches
            txn_write(
                spark.createDataFrame([(999, -1.0)], "k int, v double"), p
            )
        return real_publish(p, version, manifest)

    monkeypatch.setattr(txn_mod, "_publish", racing_publish)
    txn_delete(spark, path, "v < 5.0")
    got = txn_read(spark, path)
    assert got.filter("v < 5.0").count() == 0  # including the racer's row
    assert got.count() == 15


def test_change_feed_reports_restore_resurrections(spark, tmp_path):
    """Review r8 (repro-confirmed): a restore to a pre-delete snapshot
    changes NO files, only the DV list — the un-hidden rows must surface
    as inserts in the change feed or CDC consumers silently diverge."""
    from tdataframe_spark.sources.txn import (
        txn_changes, txn_delete, txn_restore,
    )

    path = str(tmp_path / "t")
    v1 = txn_write(
        spark.createDataFrame([(i, float(i)) for i in range(20)],
                              "k int, v double"),
        path, mode="overwrite",
    )
    v2 = txn_delete(spark, path, "k in (3, 7)")
    v3 = txn_restore(path, v1)
    assert txn_read(spark, path).count() == 20
    feed = txn_changes(spark, path, v2, v3).collect()
    assert {(r["k"], r["_change_type"]) for r in feed} == {
        (3, "insert"), (7, "insert")
    }
    # and the full span v1->v3 nets out to no changes
    assert txn_changes(spark, path, v1, v3).count() == 0


def test_replace_where_prunes_dead_dv_entries(spark, tmp_path):
    """Review r8: DV entries whose referenced files were all dropped by
    a replace_where refresh are pruned from the manifest (no unbounded
    DV growth under refresh-heavy workloads); entries still referencing
    retained files survive."""
    from tdataframe_spark.sources.txn import txn_delete

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame(
            [(d, i, float(i)) for d in (1, 2) for i in range(10)],
            "day int, k int, v double",
        ),
        path, mode="overwrite", partition_by=["day"],
    )
    # one delete touching ONLY day=1 rows, one touching ONLY day=2
    txn_delete(spark, path, "day = 1 and k < 3")
    txn_delete(spark, path, "day = 2 and k < 5")
    _, m = txn_latest(path)
    assert len(m["dv"]) >= 2 and all("refs" in e for e in m["dv"])
    # refresh day=1: the day-1-only DV entry dies, the day-2 one lives
    txn_write(
        spark.createDataFrame([(1, 99, 9.0)], "day int, k int, v double"),
        path, partition_by=["day"], replace_where={"day": [1]},
    )
    _, m2 = txn_latest(path)
    live_files = {f["path"] for f in m2["files"]}
    assert m2["dv"], "the day-2 delete must survive the refresh"
    assert all(
        any(r in live_files for r in e["refs"]) for e in m2["dv"]
    ), m2["dv"]
    assert len(m2["dv"]) < len(m["dv"])
    got = txn_read(spark, path)
    assert got.filter("day = 2 and k < 5").count() == 0  # still deleted
    assert got.filter("day = 1").count() == 1  # refreshed content only


def test_txn_purge_rewrites_only_heavily_deleted_files(spark, tmp_path):
    """txn_purge: files whose DV'd fraction >= the threshold are
    rewritten clean; lightly-deleted files keep their DVs; read results
    are unchanged; stats columns recompute for the new files; DV entries
    fully contained in purged files drop from the manifest; a DV-less
    table is a no-op."""
    from tdataframe_spark.sources.txn import txn_delete, txn_purge

    path = str(tmp_path / "t")
    # day partitions => one file family per day
    txn_write(
        spark.createDataFrame(
            [(d, i, float(i)) for d in (1, 2) for i in range(100)],
            "day int, k int, v double",
        ),
        path, mode="overwrite", partition_by=["day"], stats_cols=["v"],
    )
    # heavy delete in day=1 (50%), light delete in day=2 (2%)
    txn_delete(spark, path, "day = 1 and k < 50")
    txn_delete(spark, path, "day = 2 and k < 2")
    before = _rows(txn_read(spark, path))
    _, m0 = txn_latest(path)
    # expected purge targets: files whose DV'd fraction >= threshold
    import pyarrow.parquet as pq

    from tdataframe_spark.sources.txn import _dv_paths, _DV_FILE

    dv_counts = {
        r[0]: r[1]
        for r in spark.read.parquet(
            *[os.path.join(path, p) for p in _dv_paths(m0["dv"])]
        ).groupBy(_DV_FILE).count().collect()
    }
    expect_purged = {
        f["path"] for f in m0["files"]
        if dv_counts.get(f["path"], 0)
        / pq.ParquetFile(os.path.join(path, f["path"])).metadata.num_rows
        >= 0.25
    }
    expect_kept = {f["path"] for f in m0["files"]} - expect_purged
    assert expect_purged and expect_kept  # the fixture split is real

    v = txn_purge(spark, path, min_deleted_ratio=0.25)
    _, m = txn_latest(path)
    assert m["version"] == v and m["meta"]["op"] == "purge"
    now_paths = {f["path"] for f in m["files"]}
    assert not (expect_purged & now_paths)  # heavy files rewritten
    assert expect_kept <= now_paths         # light files untouched
    assert m["dv"], "light delete must still ride a DV"
    assert all(
        any(r in now_paths for r in e["refs"]) for e in m["dv"]
    )
    assert all("v" in f.get("stats", {}) for f in m["files"])
    assert _rows(txn_read(spark, path)) == before

    # idempotent below threshold; no-op at current version
    assert txn_purge(spark, path, min_deleted_ratio=0.25) == v
    # purging the rest clears every DV
    v2 = txn_purge(spark, path, min_deleted_ratio=0.0001)
    _, m2 = txn_latest(path)
    assert v2 == v + 1 and m2["dv"] == []
    assert _rows(txn_read(spark, path)) == before
    # DV-less table: no-op
    assert txn_purge(spark, path) == v2


def test_txn_write_rejects_reserved_ref_columns(spark, tmp_path):
    """r8-ADVICE: the DV row-ref internals are reserved at WRITE time —
    both a fresh table and (the dangerous case) a schema-evolving append
    onto a table already carrying deletion vectors must raise, or every
    later txn_read/txn_changes dies with ambiguous-column errors."""
    from tdataframe_spark.sources.txn import txn_delete

    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="__dv_file"):
        txn_write(
            spark.createDataFrame([(1, "x")], "k int, __dv_file string"),
            path, mode="overwrite",
        )
    # the ADVICE scenario: DVs exist, then an evolving append tries to
    # introduce the clash
    txn_write(spark.createDataFrame([(1,), (2,)], "k int"), path)
    txn_delete(spark, path, "k = 1")
    with pytest.raises(ValueError, match="__dv_pos"):
        txn_write(
            spark.createDataFrame([(3, 0)], "k int, __dv_pos long"),
            path, mode="append",
        )
    assert _rows(txn_read(spark, path)) == [(2,)]


def test_txn_delete_rejects_reserved_ref_columns_legacy_table(spark, tmp_path):
    """A PRE-EXISTING table whose schema carries the reserved names
    (written before the write-time guard) must still raise loudly at
    delete time, not silently mis-join — belt and suspenders."""
    from tdataframe_spark.sources.txn import _load, _manifest_path, txn_delete

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(1, "x")], "k int, dvf string"),
        path, mode="overwrite",
    )
    # doctor the manifest into the legacy shape: rename dvf → __dv_file
    m = _load(path, 1)
    m["schema"] = m["schema"].replace('"dvf"', '"__dv_file"')
    with open(_manifest_path(path, 1), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="__dv_file"):
        txn_delete(spark, path, "k = 1")


# ---------------------------------------------------------------------------
# column mapping: metadata-only rename / drop (round 9)


def test_rename_column_is_metadata_only(spark, tmp_path):
    """txn_rename_column: zero data files move (the manifest file list
    is byte-identical); reads present the new name; data skipping keeps
    pruning through the rename (stats stay keyed physically); appends
    under the new name land in the old physical column; pinned readers
    of older versions still see the old name; the change feed across
    the rename is empty."""
    from tdataframe_spark.sources.txn import (
        _load,
        _materialize,
        txn_changes,
        txn_rename_column,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), "ab"[i % 2]) for i in range(20)],
        "k int, v double, part string",
    )
    txn_write(df, path, mode="overwrite", partition_by=["part"],
              stats_cols=["v"])
    files_before = _load(path, 1)["files"]
    v2 = txn_rename_column(path, "v", "score")
    assert v2 == 2
    m2 = _materialize(path, 2)
    assert m2["files"] == files_before  # not a byte rewritten
    got = txn_read(spark, path)
    assert set(got.columns) == {"k", "score", "part"}
    assert _rows(got.select("k", "score")) == [(i, float(i)) for i in range(20)]
    # data skipping prunes on the NEW logical name
    pruned = txn_read(spark, path, range_filter={"score": (5.0, 7.0)})
    assert {r["k"] for r in pruned.collect()} >= {5, 6, 7}
    # pinned reader of the pre-rename snapshot sees the old name
    old = txn_read(spark, path, version=1)
    assert set(old.columns) == {"k", "v", "part"}
    # the rename itself is a zero-row change
    assert txn_changes(spark, path, 1, 2).count() == 0
    # appends address the new name; old + new rows read back together
    # (matching the table's partition layout — an unpartitioned append
    # would now trip the r10 evolution guard)
    txn_write(
        spark.createDataFrame([(100, 100.0, "a")],
                              "k int, score double, part string"),
        path, stats_cols=["score"], partition_by=["part"],
    )
    allr = txn_read(spark, path)
    assert allr.count() == 21
    assert allr.filter("score = 100.0").count() == 1
    # stats of the appended file are keyed by the PHYSICAL name (v)
    m3 = _materialize(path, 3)
    new_file_stats = [
        f["stats"] for f in m3["files"] if f not in files_before
    ]
    # (an empty part file records no stats at all — skip those)
    assert any("v" in s for s in new_file_stats)
    assert not any("score" in s for s in new_file_stats)


def test_drop_column_and_safe_readd(spark, tmp_path):
    """txn_drop_column: metadata-only — reads stop projecting the
    column; re-adding the same logical name via an evolving append gets
    a FRESH physical name, so the old files' values can never
    resurrect (old rows read NULL, new rows read their values)."""
    from tdataframe_spark.sources.txn import _load, txn_drop_column

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double"),
        path, mode="overwrite",
    )
    v2 = txn_drop_column(path, "v")
    assert v2 == 2
    assert set(txn_read(spark, path).columns) == {"k"}
    assert _load(path, 2)["retired_physical"] == ["v"]
    # pinned read still has it
    assert set(txn_read(spark, path, version=1).columns) == {"k", "v"}
    # re-add 'v' by evolving append: fresh physical, no resurrection
    txn_write(
        spark.createDataFrame([(3, 333.0)], "k int, v double"), path
    )
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got == {1: None, 2: None, 3: 333.0}
    # the re-added field's physical name is NOT 'v'
    m3 = _load(path, 3)
    import json as _json

    fields = _json.loads(m3["schema"])["fields"]
    readd = next(f for f in fields if f["name"] == "v")
    assert readd["metadata"]["physical"] != "v"
    assert m3["retired_physical"] == ["v"]


def test_column_ddl_validation(spark, tmp_path):
    """Rename/drop reject partition columns, unknown columns, name
    clashes, reserved names, and dropping the last column."""
    from tdataframe_spark.sources.txn import (
        txn_drop_column,
        txn_rename_column,
    )

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(1, 1.0, "a")], "k int, v double, part string"),
        path, mode="overwrite", partition_by=["part"],
    )
    with pytest.raises(ValueError, match="partition column"):
        txn_rename_column(path, "part", "region")
    with pytest.raises(ValueError, match="partition column"):
        txn_drop_column(path, "part")
    with pytest.raises(ValueError, match="not a column"):
        txn_rename_column(path, "nope", "x")
    with pytest.raises(ValueError, match="already has"):
        txn_rename_column(path, "v", "k")
    with pytest.raises(ValueError, match="reserved"):
        txn_rename_column(path, "v", "__dv_pos")
    p2 = str(tmp_path / "one")
    txn_write(spark.createDataFrame([(1,)], "k int"), p2, mode="overwrite")
    with pytest.raises(ValueError, match="only column"):
        txn_drop_column(p2, "k")


def test_rename_composes_with_dv_purge_upsert_restore(spark, tmp_path):
    """Column mapping through the rest of the txn surface: predicates
    over the new name drive deletion vectors; purge rewrites physically
    and the logical read survives; an upsert (full rewrite) MATERIALIZES
    the mapping back to identity; restore to a pre-rename version brings
    the old name back."""
    import json as _json

    from tdataframe_spark.sources.txn import (
        _load,
        txn_delete,
        txn_purge,
        txn_rename_column,
        txn_restore,
        txn_upsert,
    )

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k int, v double"),
        path, mode="overwrite",
    )
    txn_rename_column(path, "v", "score")               # v2
    txn_delete(spark, path, "score >= 8.0")             # v3: DV via new name
    assert txn_read(spark, path).count() == 8
    txn_purge(spark, path, min_deleted_ratio=0.001)     # v4: physical rewrite
    got = txn_read(spark, path)
    assert set(got.columns) == {"k", "score"} and got.count() == 8
    # selective upsert (r10): an append-shaped commit — the column
    # mapping PERSISTS (untouched files keep their physical names; the
    # rename stays metadata-only through merges), and values read right
    txn_upsert(
        spark.createDataFrame([(0, 99.0)], "k int, score double"),
        path, keys=["k"],
    )
    head = txn_latest(path)[1]
    fields = _json.loads(head["schema"])["fields"]
    assert [f["name"] for f in fields] == ["k", "score"]
    assert {r["k"]: r["score"] for r in txn_read(spark, path).collect()}[0] == 99.0
    # a FULL-rewrite upsert materializes the mapping away (the pre-r10
    # overwrite shape: every file rewritten under logical names)
    txn_upsert(
        spark.createDataFrame([(0, 97.0)], "k int, score double"),
        path, keys=["k"], rewrite="full",
    )
    fields = _json.loads(txn_latest(path)[1]["schema"])["fields"]
    assert all("physical" not in (f.get("metadata") or {}) for f in fields)
    assert {r["k"]: r["score"] for r in txn_read(spark, path).collect()}[0] == 97.0
    # restore to the pre-rename snapshot: old name, old rows
    txn_restore(path, 1)
    back = txn_read(spark, path)
    assert set(back.columns) == {"k", "v"} and back.count() == 10


def test_rename_racing_a_write_raises(spark, tmp_path, monkeypatch):
    """A rename landing between a writer's mapping snapshot and its
    manifest commit must raise ConcurrentWriteError (the staged files
    carry the stale physical names), never bind the wrong mapping."""
    from tdataframe_spark.sources import txn as txn_mod
    from tdataframe_spark.sources.txn import txn_rename_column

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(1, 1.0)], "k int, v double"),
        path, mode="overwrite",
    )
    real = txn_mod.txn_latest
    state = {"fired": False}

    def racy_latest(p):
        out = real(p)
        if not state["fired"]:
            state["fired"] = True
            txn_rename_column(path, "v", "w")  # lands AFTER the snapshot
        return out

    monkeypatch.setattr(txn_mod, "txn_latest", racy_latest)
    with pytest.raises(ConcurrentWriteError, match="column mapping"):
        txn_write(
            spark.createDataFrame([(2, 2.0)], "k int, v double"), path
        )
    monkeypatch.undo()
    # the table is intact under the rename
    got = txn_read(spark, path)
    assert set(got.columns) == {"k", "w"} and got.count() == 1


def test_retired_physical_survives_delete_and_purge(spark, tmp_path):
    """review-r9: txn_delete and txn_purge commits must carry the
    retired-physical fence forward — without it, a re-added column
    claims a dropped column's storage name and txn_read resurrects the
    old files' values (repro-confirmed before the fix)."""
    from tdataframe_spark.sources.txn import (
        _load,
        txn_delete,
        txn_drop_column,
        txn_purge,
    )

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame(
            [(1, "secret1"), (2, "secret2"), (3, "secret3")],
            "a int, b string",
        ),
        path, mode="overwrite",
    )
    txn_drop_column(path, "b")                       # v2: retires 'b'
    txn_delete(spark, path, "a = 2")                 # v3: DV commit
    assert _load(path, 3).get("retired_physical") == ["b"]
    txn_purge(spark, path, min_deleted_ratio=0.001)  # v4: purge commit
    assert _load(path, 4).get("retired_physical") == ["b"]
    # re-add 'b': must be NULL for surviving old rows, never 'secret*'
    txn_write(spark.createDataFrame([(9, "new")], "a int, b string"), path)
    got = {r["a"]: r["b"] for r in txn_read(spark, path).collect()}
    assert got == {1: None, 3: None, 9: "new"}


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """txn_clone: one manifest commit, zero data bytes under the clone;
    reads equal the source snapshot; appends/deletes on either side
    never show up on the other."""
    from tdataframe_spark.sources.txn import txn_clone, txn_delete

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    a = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    txn_write(a, src, mode="append")
    assert txn_clone(src, dst) == 1
    # zero-copy: the clone has no data dir at all yet
    assert not os.path.isdir(os.path.join(dst, "data"))
    assert _rows(txn_read(spark, dst)) == _rows(a)
    meta = txn_latest_meta(dst)
    assert meta["op"] == "clone" and meta["source_version"] == 1
    # divergence: clone-side append + delete stay clone-local
    b = spark.range(10, 13).select(F.col("id"), (F.col("id") * 2).alias("v"))
    txn_write(b, dst, mode="append")
    txn_delete(spark, dst, "id = 3")
    assert _rows(txn_read(spark, src)) == _rows(a)
    got = _rows(txn_read(spark, dst))
    assert got == _rows(a.unionByName(b).filter("id <> 3"))
    # source-side append stays source-local (clone pinned the snapshot)
    txn_write(b, src, mode="append")
    assert _rows(txn_read(spark, dst)) == got


def test_shallow_clone_inherits_dv_and_pins_version(spark, tmp_path):
    """A clone of a DV-carrying snapshot hides the same rows; pinning
    version/as_of clones history, not the head; a vacuumed snapshot
    refuses to clone."""
    from tdataframe_spark.sources.txn import txn_clone, txn_delete

    src = str(tmp_path / "src")
    a = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    txn_write(a, src, mode="append")                       # v1
    txn_delete(spark, src, "id >= 8")                      # v2 (DV)
    txn_clone(src, str(tmp_path / "c2"))
    assert _rows(txn_read(spark, str(tmp_path / "c2"))) == _rows(
        a.filter("id < 8")
    )
    txn_clone(src, str(tmp_path / "c1"), version=1)
    assert _rows(txn_read(spark, str(tmp_path / "c1"))) == _rows(a)
    # validation
    with pytest.raises(ValueError, match="already a transactional"):
        txn_clone(src, str(tmp_path / "c1"))
    with pytest.raises(ValueError, match="onto itself"):
        txn_clone(src, src)
    with pytest.raises(FileNotFoundError):
        txn_clone(str(tmp_path / "nope"), str(tmp_path / "c3"))


def test_clone_of_clone_chases_data_not_chain(spark, tmp_path):
    """A clone of a clone records the ORIGINAL table as each entry's
    base — resolution never walks clone chains."""
    from tdataframe_spark.sources.txn import txn_clone

    src = str(tmp_path / "src")
    a = spark.range(6).select(F.col("id"), (F.col("id") * 3).alias("v"))
    txn_write(a, src, mode="append")
    txn_clone(src, str(tmp_path / "c1"))
    txn_clone(str(tmp_path / "c1"), str(tmp_path / "c2"))
    m = txn_latest(str(tmp_path / "c2"))[1]
    assert all(f["base"] == os.path.abspath(src) for f in m["files"])
    assert _rows(txn_read(spark, str(tmp_path / "c2"))) == _rows(a)


def test_clone_composes_with_rename_compact_vacuum(spark, tmp_path):
    """Column DDL on the clone stays clone-local; compact_txn
    LOCALIZES the clone (no foreign bases survive the rewrite); the
    clone's vacuum never reclaims source bytes."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import txn_clone, txn_rename_column

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    a = spark.range(8).select(F.col("id"), (F.col("id") * 2).alias("v"))
    txn_write(a, src, mode="append")
    txn_clone(src, dst)
    txn_rename_column(dst, "v", "val")
    assert txn_read(spark, dst).columns == ["id", "val"]
    assert txn_read(spark, src).columns == ["id", "v"]  # source untouched
    compact_txn(spark, dst, meta={"op": "optimize"})
    m = txn_latest(dst)[1]
    assert m["files"] and all("base" not in f for f in m["files"])
    # clone vacuum (post-localization, retention 1) must not touch src
    src_files = {
        os.path.join(dp, n)
        for dp, _, ns in os.walk(os.path.join(src, "data")) for n in ns
    }
    txn_vacuum(dst, keep_versions=1, min_age_s=0.0)
    assert src_files == {
        os.path.join(dp, n)
        for dp, _, ns in os.walk(os.path.join(src, "data")) for n in ns
    }
    assert _rows(txn_read(spark, dst)) == _rows(
        a.withColumnRenamed("v", "val")
    )


def test_clone_change_feed_and_upsert_localize(spark, tmp_path):
    """txn_changes on a clone resolves foreign files (the from-side of
    the diff lives in the source); a selective txn_upsert localizes the
    TOUCHED foreign files (untouched foreign refs stay shared —
    zero-copy is the point of the clone), and a rewrite='full' upsert
    localizes everything."""
    from tdataframe_spark.sources.txn import txn_changes, txn_clone, txn_upsert

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    a = spark.range(6).select(F.col("id"), (F.col("id") * 2).alias("v"))
    txn_write(a, src, mode="append")
    txn_clone(src, dst)
    batch = spark.createDataFrame([(2, 99), (10, 100)], "id long, v long")
    txn_upsert(batch, dst, keys=["id"])
    ch = txn_changes(spark, dst, 1)
    ins = {tuple(r) for r in ch.filter("_change_type='insert'")
           .select("id", "v").collect()}
    dels = {tuple(r) for r in ch.filter("_change_type='delete'")
            .select("id", "v").collect()}
    assert (2, 99) in ins and (10, 100) in ins and (2, 4) in dels
    m = txn_latest(dst)[1]
    assert m["files"]
    # the file that held id=2 was rewritten LOCAL; reads stay correct
    # whether or not other foreign refs remain shared
    assert any("base" not in f for f in m["files"])
    assert _rows(txn_read(spark, dst)) == _rows(
        a.filter("id <> 2").unionByName(batch)
    )
    txn_upsert(
        spark.createDataFrame([(3, 77)], "id long, v long"), dst,
        keys=["id"], rewrite="full",
    )
    m2 = txn_latest(dst)[1]
    assert m2["files"] and all("base" not in f for f in m2["files"])


def test_check_constraints_enforced_on_every_write(spark, tmp_path):
    """txn_add_constraint validates existing data, then every write
    path (append, overwrite, MERGE) validates its batch BEFORE staging:
    a violating batch raises and commits nothing; NULL passes (SQL
    CHECK semantics); an evolving append omitting the constrained
    column passes (it backfills NULL)."""
    from tdataframe_spark.sources.txn import (
        ConstraintViolationError,
        txn_add_constraint,
        txn_upsert,
    )

    path = str(tmp_path / "t")
    a = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.5)], "id long, v double"
    )
    txn_write(a, path, mode="append")
    txn_add_constraint(spark, path, "v_pos", "v > 0")
    assert txn_latest(path)[1]["constraints"] == {"v_pos": "v > 0"}
    # existing violations refuse the ADD itself
    with pytest.raises(ConstraintViolationError, match="existing row"):
        txn_add_constraint(spark, path, "v_big", "v > 100")
    v_before = txn_latest(path)[0]
    bad = spark.createDataFrame([(4, -1.0), (5, 2.0)], "id long, v double")
    with pytest.raises(ConstraintViolationError, match="v_pos.*1 row"):
        txn_write(bad, path, mode="append")
    assert txn_latest(path)[0] == v_before  # nothing committed
    with pytest.raises(ConstraintViolationError):
        txn_upsert(bad, path, keys=["id"])
    with pytest.raises(ConstraintViolationError):
        txn_write(bad, path, mode="overwrite")  # overwrite enforces too
    # NULL passes; evolving append without the column passes
    txn_write(
        spark.createDataFrame([(6, None)], "id long, v double"), path
    )
    txn_write(spark.createDataFrame([(7,)], "id long"), path)
    got = sorted(tuple(r) for r in txn_read(spark, path).collect())
    assert (7, None) in got and (6, None) in got
    # constraints ride derived commits (delete keeps the key)
    from tdataframe_spark.sources.txn import txn_delete

    txn_delete(spark, path, "id = 6")
    assert txn_latest(path)[1]["constraints"] == {"v_pos": "v > 0"}


def test_check_constraints_compose_with_ddl_restore_clone(spark, tmp_path):
    """Rename/drop of a referenced column is blocked until the
    constraint drops; an overwrite that cannot resolve a constraint is
    refused; RESTORE brings the snapshot's contract back; a clone
    inherits and enforces it; unknown/dup names raise."""
    from tdataframe_spark.sources.txn import (
        ConstraintViolationError,
        txn_add_constraint,
        txn_clone,
        txn_drop_constraint,
        txn_rename_column,
        txn_restore,
    )

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(1, 2.0)], "id long, v double"), path
    )
    txn_add_constraint(spark, path, "v_pos", "v > 0")       # v2
    with pytest.raises(ValueError, match="reference it"):
        txn_rename_column(path, "v", "w")
    with pytest.raises(ValueError, match="cannot resolve CHECK"):
        txn_write(
            spark.createDataFrame([(9,)], "id long"), path,
            mode="overwrite",
        )
    with pytest.raises(ValueError, match="already has a constraint"):
        txn_add_constraint(spark, path, "v_pos", "v > 1")
    with pytest.raises(ValueError, match="identifier"):
        txn_add_constraint(spark, path, "bad name", "v > 0")
    # clone inherits the contract and enforces it
    dst = str(tmp_path / "c")
    txn_clone(path, dst)
    with pytest.raises(ConstraintViolationError):
        txn_write(
            spark.createDataFrame([(2, -1.0)], "id long, v double"), dst
        )
    txn_drop_constraint(path, "v_pos")                      # v3
    with pytest.raises(ValueError, match="no constraint"):
        txn_drop_constraint(path, "v_pos")
    txn_rename_column(path, "v", "w")                       # v4: now fine
    txn_restore(path, 2)                                    # contract returns
    assert txn_latest(path)[1]["constraints"] == {"v_pos": "v > 0"}
    with pytest.raises(ConstraintViolationError):
        txn_write(
            spark.createDataFrame([(3, -5.0)], "id long, v double"), path
        )


def test_table_properties_ride_every_commit(spark, tmp_path):
    """txn_set_properties: merged metadata-only commits; None unsets;
    properties survive append/overwrite/MERGE/delete/DDL/clone/restore
  and the native sink; txn_history reports one row per commit newest
    first with the right ops."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import (
        txn_clone,
        txn_delete,
        txn_history,
        txn_properties,
        txn_rename_column,
        txn_restore,
        txn_set_properties,
        txn_upsert,
    )
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2.0), (2, 4.0)], "id long, v double")
    txn_write(df, path, mode="append")                       # v1
    txn_set_properties(path, {"owner": "pipeline", "tier": "gold"})  # v2
    assert txn_properties(path) == {"owner": "pipeline", "tier": "gold"}
    txn_set_properties(path, {"tier": None, "ttl_days": 30})  # v3
    assert txn_properties(path) == {"owner": "pipeline", "ttl_days": "30"}
    # survive every commit family
    txn_write(df, path, mode="append")                       # v4
    txn_upsert(spark.createDataFrame([(1, 9.0)], "id long, v double"),
               path, ["id"])                                 # v5
    txn_delete(spark, path, "id = 2")                        # v6
    txn_rename_column(path, "v", "val")                      # v7
    compact_txn(spark, path)                                 # v8
    txn_restore(path, 5)                                     # v9
    register_txn_stream(spark)
    spark.createDataFrame([(7, 1.0)], "id long, v double").write.format(
        "txn_table"
    ).option("path", path).mode("append").save()             # v10
    assert txn_properties(path) == {"owner": "pipeline", "ttl_days": "30"}
    dst = str(tmp_path / "c")
    txn_clone(path, dst)
    assert txn_properties(dst) == {"owner": "pipeline", "ttl_days": "30"}
    hist = txn_history(spark, path).collect()
    assert [r["version"] for r in hist] == list(range(10, 0, -1))
    ops = {r["version"]: r["op"] for r in hist}
    assert ops[2] == ops[3] == "set_properties"
    assert ops[6] == "delete" and ops[7] == "rename_column"
    assert ops[9] == "restore" and ops[1] == "write"


def test_restore_keeps_live_properties(spark, tmp_path):
    """r9-ADVICE: RESTORE rolls back DATA, not ops metadata — properties
    describe the table, not a version (the txn_set_properties contract),
    so a restore to a snapshot that predates them (or carries stale
    ones) keeps the LIVE head's property set. Constraints, by contrast,
    are part of the restored table state and DO come from the snapshot."""
    from tdataframe_spark.sources.txn import (
        txn_properties,
        txn_restore,
        txn_set_properties,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2.0), (2, 4.0)], "id long, v double")
    txn_write(df, path, mode="append")                        # v1: no props
    txn_write(df, path, mode="overwrite")                     # v2
    txn_set_properties(path, {"owner": "pipeline"})           # v3
    # restore to a PRE-properties snapshot: props must survive
    txn_restore(path, 1)                                      # v4
    assert txn_properties(path) == {"owner": "pipeline"}
    # props changed since a props-carrying snapshot: restore keeps the
    # LATEST values, not the snapshot's stale ones
    txn_set_properties(path, {"owner": "ml-team", "tier": "gold"})  # v5
    txn_restore(path, 3)                                      # v6
    assert txn_properties(path) == {"owner": "ml-team", "tier": "gold"}
    assert txn_read(spark, path).count() == 2


def test_generated_columns_compute_validate_enforce(spark, tmp_path):
    """r10: txn_add_generated_column (Delta GENERATED ALWAYS AS): a
    write that omits the column gets it COMPUTED (cast to the declared
    type); a write that provides it is VALIDATED (col <=> expr over
    the batch; mismatches bounce before staging, version unchanged);
    upsert computes for its batch; declaring over an existing column
    validates the snapshot first; a NEW column may only be declared
    while the table holds no rows (dtype extends the schema
    metadata-only)."""
    from tdataframe_spark.sources.txn import (
        ConstraintViolationError,
        txn_add_generated_column,
        txn_upsert,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 2.0, 0.1), (2, 4.0, 0.2)], "id long, price double, disc double"
    )
    txn_write(df.limit(0), path)  # zero-row seed: rows-empty, files exist
    txn_add_generated_column(
        spark, path, "net", "price * (1 - disc)", dtype="double"
    )
    txn_write(df, path)  # omits net -> computed
    got = {r["id"]: r["net"] for r in txn_read(spark, path).collect()}
    assert got == {1: pytest.approx(1.8), 2: pytest.approx(3.2)}
    v = txn_latest(path)[0]
    bad = spark.createDataFrame(
        [(3, 10.0, 0.5, 999.0)],
        "id long, price double, disc double, net double",
    )
    with pytest.raises(ConstraintViolationError, match="generated"):
        txn_write(bad, path)
    assert txn_latest(path)[0] == v  # nothing committed
    txn_write(  # providing the RIGHT value passes
        spark.createDataFrame(
            [(3, 10.0, 0.5, 5.0)],
            "id long, price double, disc double, net double",
        ),
        path,
    )
    txn_upsert(  # upsert computes for its batch
        spark.createDataFrame(
            [(3, 20.0, 0.5)], "id long, price double, disc double"
        ),
        path, ["id"],
    )
    got = {r["id"]: r["net"] for r in txn_read(spark, path).collect()}
    assert got[3] == pytest.approx(10.0)
    # declaring over an existing column validates the snapshot (id is
    # referenced by no generated rule — price/disc would trip the
    # chain refusal first, which test_review_r10_fixes pins)
    with pytest.raises(ConstraintViolationError, match="existing row"):
        txn_add_generated_column(spark, path, "id", "cast(price as bigint)")
    # a NEW column on a table WITH rows refuses (backfill = rewrite)
    with pytest.raises(ValueError, match="non-empty"):
        txn_add_generated_column(spark, path, "gross", "price", "double")
    with pytest.raises(ValueError, match="already generates"):
        txn_add_generated_column(spark, path, "net", "price")
    with pytest.raises(ValueError, match="does not resolve"):
        path2 = str(tmp_path / "t2")
        txn_write(df.limit(0), path2)
        txn_add_generated_column(spark, path2, "x", "no_such + 1", "double")


def test_generated_columns_compose_with_ddl_restore_clone_sink(
    spark, tmp_path
):
    """Rename/drop of the generated column or a column its expression
    references is blocked until the rule drops; the rule rides derived
    commits, comes back with RESTORE, is inherited (and enforced) by
    clones; dropping the rule leaves a plain column; the native sink
    refuses generated tables."""
    from tdataframe_spark.sources.txn import (
        ConstraintViolationError,
        txn_add_generated_column,
        txn_clone,
        txn_delete,
        txn_drop_generated_column,
        txn_rename_column,
        txn_restore,
    )
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 2.0, 0.5)], "id long, price double, disc double"
    )
    txn_write(df.limit(0), path)
    txn_add_generated_column(
        spark, path, "net", "price * (1 - disc)", dtype="double"
    )                                                        # v2
    txn_write(df, path)                                      # v3
    for col in ("net", "price", "disc"):
        with pytest.raises(ValueError, match="generated"):
            txn_rename_column(path, col, col + "_x")
    # rides derived commits
    txn_delete(spark, path, "id = 999")  # no match -> no commit; use real one
    txn_write(
        spark.createDataFrame(
            [(2, 6.0, 0.0)], "id long, price double, disc double"
        ),
        path,
    )                                                        # v4
    txn_delete(spark, path, "id = 2")                        # v5
    assert "net" in txn_latest(path)[1]["generated"]
    # clone inherits and ENFORCES
    dst = str(tmp_path / "c")
    txn_clone(path, dst)
    with pytest.raises(ConstraintViolationError, match="generated"):
        txn_write(
            spark.createDataFrame(
                [(9, 1.0, 0.0, 77.0)],
                "id long, price double, disc double, net double",
            ),
            dst,
        )
    out = txn_read(spark, dst).filter("id = 1").first()
    assert out["net"] == pytest.approx(1.0)
    # drop -> plain column (arbitrary values commit); restore -> back
    v_with_rule = txn_latest(path)[0]
    txn_drop_generated_column(path, "net")
    with pytest.raises(ValueError, match="no generated column"):
        txn_drop_generated_column(path, "net")
    txn_write(
        spark.createDataFrame(
            [(7, 1.0, 0.0, 42.0)],
            "id long, price double, disc double, net double",
        ),
        path,
    )
    txn_rename_column(path, "net", "net2")  # DDL unblocked after drop
    txn_restore(path, v_with_rule)  # the rule comes back with its data
    assert txn_latest(path)[1]["generated"] == {
        "net": "price * (1 - disc)"
    }
    # native sink refuses
    register_txn_stream(spark)
    with pytest.raises(Exception, match="generated"):
        df.write.format("txn_table").option("path", path).mode(
            "append"
        ).save()


def test_vacuum_retention_defaults_from_table_properties(spark, tmp_path):
    """r10: txn_vacuum with no explicit retention honors the table's
    vacuum.keep_versions / vacuum.min_age_s properties (the Delta
    deletedFileRetentionDuration idea) — policy pinned ON the table;
    explicit arguments still win."""
    from tdataframe_spark.sources.txn import txn_set_properties

    path = str(tmp_path / "t")
    for i in range(4):
        txn_write(spark.range(i, i + 1), path, mode="overwrite")  # v1..v4
    txn_set_properties(
        path, {"vacuum.keep_versions": 3, "vacuum.min_age_s": 0}
    )                                                             # v5
    txn_vacuum(path)  # property-driven: keep 3 -> v3..v5 retained
    from tdataframe_spark.sources.txn import _versions

    assert set(_versions(path)) >= {3, 4, 5} and 1 not in _versions(path)
    assert txn_read(spark, path, version=4).count() == 1
    # explicit args still override the property
    txn_vacuum(path, keep_versions=1, min_age_s=0)
    with pytest.raises(FileNotFoundError):
        txn_read(spark, path, version=4)


def test_partition_by_generated_column(spark, tmp_path):
    """r10 pin: partitioning BY a generated column composes — the
    write computes the column before the partitioned layout is staged
    (Delta's generated-partition-column pattern, e.g. day=date(ts)),
    and partition_filter pruning works over the computed values."""
    from tdataframe_spark.sources.txn import txn_add_generated_column

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 35), (2, 47), (3, 52)], "id long, ts long"
    )
    expr = "cast(ts div 10 as string)"
    # seed carries the column (0 rows), the rule declares over it, and
    # the data write computes it BEFORE the partitioned layout stages
    txn_write(df.limit(0).withColumn("day", F.expr(expr)), path)
    txn_add_generated_column(spark, path, "day", expr)
    txn_write(df, path, partition_by=["day"])
    got = {r["id"]: r["day"] for r in txn_read(spark, path).collect()}
    assert got == {1: "3", 2: "4", 3: "5"}
    assert txn_read(
        spark, path, partition_filter={"day": ["4"]}
    ).count() == 1


def test_selective_merge_rewrites_only_touched_files(spark, tmp_path):
    """r10: txn_upsert's default selective strategy (Delta MERGE's
    shape) — files whose key ranges cannot hold batch keys are pruned
    on recorded stats, the rest are probed with a key-column-only scan,
    and ONLY files actually holding batch keys are rewritten; every
    other file entry rides into the commit byte-identical (zero-copy),
    DV entries on untouched files keep applying, and an all-erased
    rewrite commits pure file removal (no zero-row litter)."""
    from tdataframe_spark.sources.txn import _materialize, txn_delete, txn_upsert

    path = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):  # 4 commits -> 4 key-disjoint files
        txn_write(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            path, stats_cols=["k"],
        )
    txn_delete(spark, path, "k = 250")  # DV on the 200-file      (v5)
    v_pre = txn_latest(path)[0]
    txn_upsert(  # touches ONLY the 100-file; 450 is a pure insert (v6)
        spark.createDataFrame([(150, 999), (450, 900)], "k long, v long"),
        path, ["k"],
    )
    m = txn_latest(path)[1]
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[150] == 999 and got[450] == 900 and 250 not in got
    assert len(got) == 400 and got[0] == 0
    prev = {f["path"] for f in _materialize(path, v_pre)["files"]}
    kept = prev & {f["path"] for f in m["files"]}
    assert len(kept) == 3, "exactly one of four files may be rewritten"
    assert m["dv"], "DV on an untouched file must survive the merge"
    # pure-delete merge: the touched file's survivors vanish -> the
    # commit removes the file, staging no zero-row replacements
    only_450 = [
        f["path"] for f in m["files"] if f["path"] not in kept
        and txn_read(spark, path).filter("k = 450").count()
    ]
    txn_upsert(
        spark.createDataFrame([(450, 0)], "k long, v long"), path, ["k"],
        delete_when="v = 0",
    )
    m2 = txn_latest(path)[1]
    assert txn_read(spark, path).count() == 399
    assert all(
        "stats" not in f or f["stats"] for f in m2["files"]
    )  # no stat-less empties


def test_partition_evolution_guarded_and_exact(spark, tmp_path):
    """r10: an append whose partition_by differs from the live layout
    raises (accidental mixing) unless allow_partition_evolution=True;
    on an evolved table partition_filter stays EXACT — old files that
    record no value for the key are kept by pruning and a residual row
    filter over the (duplicated-into-data) column restores exactness;
    replace_where refuses mixed layouts outright; zero-row writes
    commit schema only (no phantom-layout file entries)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(20)],
        "id long, grp string, v double",
    )
    # zero-row seed: schema commit, NO file entries
    txn_write(df.limit(0), path)
    assert txn_latest(path)[1]["files"] == []
    txn_write(df.filter("id < 10"), path)  # unpartitioned data
    with pytest.raises(ValueError, match="allow_partition_evolution"):
        txn_write(df.filter("id >= 10"), path, partition_by=["grp"])
    txn_write(
        df.filter("id >= 10"), path, partition_by=["grp"],
        allow_partition_evolution=True,
    )
    # exact pruned read across BOTH layouts
    got = sorted(
        r["id"] for r in txn_read(
            spark, path, partition_filter={"grp": ["b"]}
        ).collect()
    )
    assert got == [i for i in range(20) if i % 2 == 1]
    # the new-layout files were actually PRUNED (not just row-filtered):
    # grp='b' keeps half the partitioned files plus every legacy file
    n_all = len(txn_read(spark, path).inputFiles())
    n_pruned = len(
        txn_read(spark, path, partition_filter={"grp": ["b"]}).inputFiles()
    )
    assert n_pruned < n_all
    with pytest.raises(ValueError, match="mixed partition layout"):
        txn_write(
            df.filter("id = 1"), path, partition_by=["grp"],
            replace_where={"grp": ["b"]},
        )
    # partitioned -> differently-partitioned also refuses without opt-in
    with pytest.raises(ValueError, match="allow_partition_evolution"):
        txn_write(df.limit(1), path, partition_by=["id"])


def test_review_r10_fixes(spark, tmp_path, monkeypatch):
    """r10 review pins: (1) selective merge works through a
    cwd-RELATIVE table path (input_file_name returns absolute URIs —
    the touched-file map must be abspath-keyed); (2) chained generated
    columns are refused in both declaration orders (compute order would
    depend on column names); (3) a racing partition-layout change
    between txn_write's guard and its commit raises instead of creating
    a mixed table."""
    import os as _os

    from tdataframe_spark.sources import txn as txn_mod
    from tdataframe_spark.sources.txn import (
        txn_add_generated_column,
        txn_upsert,
    )

    # (1) relative path through the selective probe: the touched-file
    # map is keyed by abspath so input_file_name()'s absolute URIs
    # resolve (cwd and the JVM working dir agree here, the supported
    # relative-path contract — os.chdir mid-session never was)
    import shutil as _shutil
    import uuid as _uuid

    rel = f"rel_t_{_uuid.uuid4().hex[:8]}"
    try:
        df = spark.createDataFrame([(1, 2.0), (2, 4.0)], "k long, v double")
        txn_write(df, rel)
        txn_upsert(
            spark.createDataFrame([(2, 9.0)], "k long, v double"),
            rel, ["k"],
        )
        got = {r["k"]: r["v"] for r in txn_read(spark, rel).collect()}
        assert got == {1: 2.0, 2: 9.0}
    finally:
        _shutil.rmtree(rel, ignore_errors=True)

    # (2) chained generated columns refuse, both directions
    path = str(tmp_path / "g")
    txn_write(
        spark.createDataFrame([], "a double, b double, c double"), path
    )
    txn_add_generated_column(spark, path, "b", "a * 2")
    with pytest.raises(ValueError, match="chain"):
        txn_add_generated_column(spark, path, "z", "b + 1", "double")
    with pytest.raises(ValueError, match="chain"):
        # 'a' feeds the existing rule for 'b' — declaring a AS anything
        # would chain backwards
        txn_add_generated_column(spark, path, "a", "c + 1")

    # (3) layout race: a partitioned overwrite lands between the guard
    # and the commit — injected via the snapshot-subset read the plain
    # append does NOT use, so patch txn_latest's first in-loop call
    path2 = str(tmp_path / "r")
    txn_write(
        spark.createDataFrame([(1, "a", 1.0)], "k long, g string, v double"),
        path2,
    )
    real_latest = txn_mod.txn_latest
    # the appending txn_write reads the head twice: head0 for the
    # up-front guard, then the commit loop's read — inject the racing
    # partitioned overwrite at the SECOND read, i.e. after the guard
    # passed against the old head (reentrancy-guarded: the injected
    # write's own head reads must not count)
    state = {"n": 0, "in": False}

    def racing_latest(p):
        out = real_latest(p)
        if p == path2 and not state["in"]:
            state["n"] += 1
            if state["n"] == 2:
                state["in"] = True
                txn_write(
                    spark.createDataFrame(
                        [(9, "z", 9.0)], "k long, g string, v double"
                    ),
                    p, mode="overwrite", partition_by=["g"],
                )
                state["in"] = False
                return real_latest(p)
        return out

    monkeypatch.setattr(txn_mod, "txn_latest", racing_latest)
    with pytest.raises(ConcurrentWriteError, match="partition layout"):
        txn_write(
            spark.createDataFrame(
                [(2, "b", 2.0)], "k long, g string, v double"
            ),
            path2,
        )


def test_partition_filter_per_key_on_evolved_tables(spark, tmp_path):
    """r11 ADVICE (high): on an evolved layout [a] -> [a,b], a filter
    over BOTH keys must still check every key a legacy file DOES record
    — the old all-or-nothing keep rule waived the a-check whenever b was
    missing from a file, silently leaking a=5 rows into an
    {a:[1], b:[2]} read."""
    from tdataframe_spark.sources.txn import _abs_file

    path = str(tmp_path / "t")
    old = spark.createDataFrame(
        [(1, 2, 10), (5, 2, 50)], "a long, b long, v long"
    )
    txn_write(old, path, partition_by=["a"])
    new = spark.createDataFrame(
        [(1, 2, 11), (1, 3, 12), (5, 2, 51)], "a long, b long, v long"
    )
    txn_write(
        new, path, partition_by=["a", "b"],
        allow_partition_evolution=True,
    )
    got = _rows(
        txn_read(spark, path, partition_filter={"a": ["1"], "b": ["2"]})
    )
    # pre-fix this leaked (5, 2, 50): the legacy a=5 file was kept
    # because it records no b, and a never entered the residual filter
    assert got == [(1, 2, 10), (1, 2, 11)]
    # and the a=5 legacy file is pruned at the FILE level, not row level
    pruned = txn_read(
        spark, path, partition_filter={"a": ["1"], "b": ["2"]}
    ).inputFiles()
    m = txn_latest(path)[1]
    legacy_a5 = [
        _abs_file(path, f) for f in m["files"]
        if f["partition"] == {"a": "5"}
    ]
    assert legacy_a5 and not any(
        any(p.endswith(os.path.basename(f)) for p in pruned)
        for f in legacy_a5
    )


def test_selective_merge_preserves_segment_order(spark, tmp_path):
    """r11 ADVICE (medium): txn_upsert/txn_purge re-commit under the
    table's RECORDED partition segment order, not sorted() — a
    ['b','a'] table merged selectively must not end up carrying
    {('b','a'), ('a','b')} layouts (which order-sensitive consumers —
    the native sink's evolved-layout blocker, layout inheritance — would
    permanently refuse as mixed)."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 2, i % 3, float(i)) for i in range(12)],
        "k long, b long, a long, v double",
    )
    txn_write(df, path, partition_by=["b", "a"])
    txn_upsert(
        spark.createDataFrame(
            [(0, 0, 0, 99.0)], "k long, b long, a long, v double"
        ),
        path, ["k"],
    )
    m = txn_latest(path)[1]
    assert {tuple(f["partition"].keys()) for f in m["files"]} == {("b", "a")}
    # and the merged table reads back exactly
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[0] == 99.0 and len(got) == 12


def test_incremental_log_commits_are_o_touched(spark, tmp_path):
    """r11 (VERDICT item 1): the commit log is INCREMENTAL — a 1-file
    append to a many-file table serializes one delta entry, not the
    complete live file list; every Nth commit checkpoints the full set;
    snapshots reconstruct exactly from checkpoint + suffix."""
    from tdataframe_spark.sources.txn import (
        _load,
        _manifest_path,
        _materialize,
    )

    path = str(tmp_path / "t")
    # v1: a 64-file table (the checkpoint anchor)
    txn_write(
        spark.range(6400).repartition(64).select(
            "id", (F.col("id") * 2).alias("v")
        ),
        path,
    )
    m1 = _load(path, 1)
    assert "files" in m1 and len(m1["files"]) == 64
    ckpt_bytes = os.path.getsize(_manifest_path(path, 1))
    # v2: a single-file append — the manifest must record ONE added
    # entry, no 64-file list, and weigh a small fraction of a checkpoint
    txn_write(
        spark.createDataFrame([(999999, 0)], "id long, v long").coalesce(1),
        path,
    )
    m2 = _load(path, 2)
    assert "files" not in m2 and "log" in m2
    assert len(m2["log"]["add"]) == 1 and "remove" not in m2["log"]
    delta_bytes = os.path.getsize(_manifest_path(path, 2))
    assert delta_bytes < ckpt_bytes / 8, (delta_bytes, ckpt_bytes)
    # reconstructed state == checkpoint + the append, and reads agree
    st = _materialize(path, 2)
    assert len(st["files"]) == 65
    assert txn_read(spark, path).count() == 6401
    assert txn_read(spark, path, version=1).count() == 6400


def test_incremental_log_checkpoint_cadence_and_reads(spark, tmp_path):
    """Checkpoint cadence: txn.checkpoint_interval property (here 5)
    forces full manifests at v5/v10, deltas between; time travel to any
    version reconstructs the exact snapshot; the change feed and
    restore work across a delta chain; vacuum materializes the oldest
    retained manifest so the window stays self-contained after the
    chain below it is unlinked."""
    from tdataframe_spark.sources.txn import (
        _load,
        txn_changes,
        txn_restore,
        txn_set_properties,
    )

    path = str(tmp_path / "t")
    txn_write(spark.createDataFrame([(0, 0)], "k long, v long"), path)
    txn_set_properties(path, {"txn.checkpoint_interval": "5"})  # v2
    for i in range(1, 9):  # v3..v10
        txn_write(
            spark.createDataFrame([(i, i)], "k long, v long").coalesce(1),
            path,
        )
    forms = {v: ("files" in _load(path, v)) for v in range(1, 11)}
    assert forms[5] and forms[10], forms  # checkpoints on the interval
    # (v3 may legitimately checkpoint: a 1-file append to a 1-file table
    # is a delta no smaller than the full set)
    assert not any(forms[v] for v in (4, 6, 7, 8, 9)), forms
    # every version reconstructs its exact row set
    for v in range(3, 11):
        assert txn_read(spark, path, version=v).count() == v - 1
    # change feed across a delta chain
    feed = txn_changes(spark, path, 3, 7)
    assert feed.count() == 4
    assert {r["k"] for r in feed.collect()} == {2, 3, 4, 5}
    # restore to a mid-chain version is a normal commit
    txn_restore(path, 6)  # back to rows {0..4}
    assert txn_read(spark, path).count() == 5
    # vacuum with a 3-version window: the oldest retained manifest must
    # become self-contained (full) because its ancestors are deleted
    txn_vacuum(path, keep_versions=3, min_age_s=0)
    from tdataframe_spark.sources.txn import _versions

    vs = _versions(path)
    oldest = vs[-3]
    assert "files" in _load(path, oldest)
    assert txn_read(spark, path, version=oldest).count() > 0
    assert txn_read(spark, path).count() == 5


def test_incremental_log_dv_and_upsert_deltas(spark, tmp_path):
    """DV commits ride the delta log too: a txn_delete serializes
    dv_add (no file list), a selective merge serializes add+remove of
    only the touched files, and reads stay exact throughout."""
    from tdataframe_spark.sources.txn import (
        _load,
        txn_delete,
        txn_upsert,
    )

    path = str(tmp_path / "t")
    df = spark.range(400).select(
        "id", (F.col("id") % 8).alias("b"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(16, "id")
    # id stats recorded: without them every file is a merge candidate
    # and the cost-based probe bail (>60% candidates) correctly rewrites
    # them all — this test pins the STATS-PRUNED selective delta shape
    txn_write(df, path, stats_cols=["id"])  # v1: 16 id-clustered files
    n1 = len(_load(path, 1)["files"])
    assert n1 >= 12
    txn_delete(spark, path, "id = 7")  # v2: DV only
    m2 = _load(path, 2)
    assert "log" in m2 and m2["log"].get("dv_add")
    assert "add" not in m2["log"] and "remove" not in m2["log"]
    assert txn_read(spark, path).count() == 399
    # selective merge touches a subset of files: delta records only them
    batch = spark.createDataFrame([(7, 7, 777), (0, 0, 111)],
                                  "id long, b long, v long")
    txn_upsert(batch, path, ["id"])  # v3
    m3 = _load(path, 3)
    assert "log" in m3
    assert len(m3["log"].get("remove", [])) < n1
    got = {r["id"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[7] == 777 and got[0] == 111 and len(got) == 400


def test_txn_view_sql_front_door(spark, tmp_path):
    """r11 (VERDICT item 5): txn_view registers a snapshot (column-
    mapped, DV-filtered) as a temp view so plain spark.sql works over
    txn tables by name; manifest pruning (partition_filter) applies
    BEFORE the catalog sees a path — the pruned view's scan lists only
    surviving files; a VERSION AS OF view pins its snapshot against
    later commits."""
    from tdataframe_spark.sources.txn import (
        txn_delete,
        txn_rename_column,
        txn_view,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(40)],
        "k long, g string, v double",
    )
    txn_write(df, path, partition_by=["g"], stats_cols=["k"])
    txn_delete(spark, path, "k = 3")                 # DV, no rewrite
    txn_rename_column(path, "v", "score")            # mapping, no rewrite
    cur = txn_view(spark, path, "t_cur")
    assert spark.sql(
        "SELECT CAST(count(*) AS BIGINT) c FROM t_cur"
    ).first()["c"] == 39
    got = spark.sql(
        "SELECT g, CAST(sum(CAST(score AS DECIMAL(18,2))) AS DOUBLE) s "
        "FROM t_cur GROUP BY g ORDER BY g"
    ).collect()
    want_a = float(sum(i for i in range(40) if i % 2 == 0))
    want_b = float(sum(i for i in range(40) if i % 2 == 1) - 3)
    assert [(r["g"], r["s"]) for r in got] == [("a", want_a), ("b", want_b)]
    # VERSION AS OF: pre-delete, pre-rename snapshot by name
    txn_view(spark, path, "t_v1", version=1)
    assert spark.sql("SELECT count(*) c FROM t_v1").first()["c"] == 40
    assert "v" in spark.table("t_v1").columns  # old logical name
    # manifest pruning happened before the catalog: only g=b files scanned
    txn_view(spark, path, "t_b", partition_filter={"g": ["b"]})
    all_files = set(cur.inputFiles())
    b_files = set(spark.table("t_b").inputFiles())
    assert b_files and b_files < all_files
    assert spark.sql("SELECT count(*) c FROM t_b").first()["c"] == 19
    # snapshot stability: a later commit never changes a registered view
    txn_write(
        spark.createDataFrame([(100, "a", 1.0)], "k long, g string, score double"),
        path, partition_by=["g"],
    )
    assert spark.sql("SELECT count(*) c FROM t_cur").first()["c"] == 39
    for n in ("t_cur", "t_v1", "t_b"):
        spark.catalog.dropTempView(n)


def test_cdf_recorded_change_files(spark, tmp_path):
    """r11: recorded change files (Delta CDF parity). Under the
    cdf.enabled table property, MERGE and DELETE commit their exact
    row-level changes as change parquet referenced by the manifest;
    txn_change_feed streams per-commit changes (update pre/post images,
    inserts, deletes, _commit_version) without diffing snapshots;
    appends need no recorded files (added files ARE the inserts);
    un-recorded row-hiding commits fall back to the per-commit snapshot
    diff; vacuum reclaims unreferenced change dirs."""
    from tdataframe_spark.sources.txn import (
        _load,
        txn_change_feed,
        txn_changes,
        txn_delete,
        txn_set_properties,
        txn_upsert,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    txn_write(df, path)                                   # v1
    txn_set_properties(path, {"cdf.enabled": "true"})     # v2
    batch = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (50, 500.0), (3, -1.0)], "k long, v double"
    )
    txn_upsert(batch, path, ["k"], delete_when="v < 0")   # v3: recorded
    assert _load(path, 3).get("cdf"), "merge must record change files"
    txn_delete(spark, path, "k = 7")                      # v4: recorded
    assert _load(path, 4).get("cdf")
    txn_write(
        spark.createDataFrame([(90, 9.0)], "k long, v double"), path
    )                                                     # v5: append
    assert not _load(path, 5).get("cdf")
    feed = txn_change_feed(spark, path, 2).collect()
    by_commit = {}
    for r in feed:
        by_commit.setdefault(r["_commit_version"], []).append(
            (r["_change_type"], r["k"], r["v"])
        )
    v3 = sorted(by_commit[3])
    assert v3 == sorted([
        ("update_preimage", 1, 1.0), ("update_postimage", 1, 100.0),
        ("update_preimage", 2, 2.0), ("update_postimage", 2, 200.0),
        ("insert", 50, 500.0),
        ("delete", 3, 3.0),
    ])
    assert sorted(by_commit[4]) == [("delete", 7, 7.0)]
    assert sorted(by_commit[5]) == [("insert", 90, 9.0)]
    # the feed PRESERVES per-commit history; txn_changes collapses it —
    # k=7 was present at v2 and deleted at v4, so the snapshot diff
    # v2->v5 reports it once as a delete, and the feed shows it at v4
    collapsed = txn_changes(spark, path, 2).collect()
    assert sum(1 for r in collapsed if r["k"] == 7) == 1
    # fallback: a merge committed while cdf was OFF still feeds, as
    # plain delete+insert pairs for the updated key
    path2 = str(tmp_path / "t2")
    txn_write(df, path2)
    txn_upsert(
        spark.createDataFrame([(1, 111.0)], "k long, v double"),
        path2, ["k"],
    )
    fb = txn_change_feed(spark, path2, 1).collect()
    assert sorted((r["_change_type"], r["k"], r["v"]) for r in fb) == [
        ("delete", 1, 1.0), ("insert", 1, 111.0),
    ]
    # vacuum reclaims change dirs of dropped commits
    import glob as _glob

    n_before = len(_glob.glob(os.path.join(path, "cdf", "*")))
    assert n_before >= 2
    txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert len(_glob.glob(os.path.join(path, "cdf", "*"))) < n_before


def test_cdf_streaming_cdc_mode(spark, tmp_path):
    """r11: txn_readstream(cdc=True) streams per-commit change rows —
    recorded change files for MERGE/DELETE, added files as inserts for
    appends — matching the batch feed exactly; a row-hiding commit
    without recorded changes refuses instead of silently re-emitting."""
    from tdataframe_spark.sources.txn import (
        txn_change_feed,
        txn_delete,
        txn_set_properties,
        txn_upsert,
    )
    from tdataframe_spark.sources.txn_stream import txn_readstream

    path, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    txn_write(df, path)                                   # v1
    txn_set_properties(path, {"cdf.enabled": "true"})     # v2
    txn_upsert(
        spark.createDataFrame([(1, 100.0), (50, 500.0)], "k long, v double"),
        path, ["k"],
    )                                                     # v3
    txn_delete(spark, path, "k = 7")                      # v4
    q = (
        txn_readstream(spark, path, start_version=2, cdc=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in txn_change_feed(spark, path, 2).collect()
    )
    assert got == want and len(got) == 4
    # un-recorded row-hiding commit refuses in cdc mode
    path3 = str(tmp_path / "t3")
    txn_write(df, path3)
    txn_delete(spark, path3, "k = 1")  # cdf never enabled
    with pytest.raises(Exception, match="cdf.enabled|recorded"):
        q2 = (
            txn_readstream(spark, path3, cdc=True)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out3"))
            .option("checkpointLocation", str(tmp_path / "ck3"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        raise RuntimeError(q2.exception() or "stream did not fail")


def test_review_r11_fixes(spark, tmp_path):
    """r11 review pins: (1) vacuum materializes the oldest retained
    DELTA manifest BEFORE unlinking its chain ancestors (pre-fix:
    FileNotFoundError mid-vacuum, permanently broken table);
    (2) rewrite='full' merges
    under cdf.enabled record change files under the POST-overwrite
    (identity) names — the feed must show real values for renamed
    columns, not silent NULLs; (3) the probe bail requires exact-key
    EVIDENCE: a stats-less table always probes and rewrites only the
    files actually holding batch keys."""
    from tdataframe_spark.sources.txn import (
        _load,
        _materialize,
        _versions,
        txn_change_feed,
        txn_rename_column,
        txn_set_properties,
        txn_upsert,
    )

    # (1) the oldest retained manifest is a delta whose chain roots at
    # the overwrite checkpoint below the window
    path = str(tmp_path / "t1")
    df = spark.createDataFrame([(i, i) for i in range(8)], "k long, v long")
    txn_write(df, path)                                     # v1 full
    txn_write(df.limit(1), path)                            # v2 delta
    txn_write(df, path, mode="overwrite")                   # v3 full
    txn_write(df.limit(1), path)                            # v4 delta
    txn_write(df.limit(1), path)                            # v5 delta
    txn_write(df.limit(1), path)                            # v6 delta
    assert "log" in _load(path, 5)  # the oldest survivor IS a delta
    txn_vacuum(path, keep_versions=2, min_age_s=0)
    assert _versions(path) == [5, 6]
    assert "log" not in _load(path, 5)
    assert txn_read(spark, path).count() == 11  # 8 overwrite + 3 appends
    assert txn_read(spark, path, version=5).count() == 10
    txn_vacuum(path, keep_versions=2, min_age_s=0)  # idempotent, no crash

    # (2) full-rewrite merge + cdf + renamed column
    path = str(tmp_path / "t2")
    txn_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"),
        path,
    )
    txn_rename_column(path, "v", "score")
    txn_set_properties(path, {"cdf.enabled": "true"})
    txn_upsert(
        spark.createDataFrame([(1, 99.0)], "k long, score double"),
        path, ["k"], rewrite="full",
    )
    head, _ = __import__(
        "tdataframe_spark.sources.txn", fromlist=["txn_latest"]
    ).txn_latest(path)
    feed = txn_change_feed(spark, path, head - 1, head).collect()
    vals = {(r["_change_type"], r["k"]): r["score"] for r in feed}
    # pre-fix both images read back NULL (change file carried the OLD
    # physical name while the overwrite reset the mapping)
    assert vals[("update_preimage", 1)] == 10.0
    assert vals[("update_postimage", 1)] == 99.0

    # (3) stats-less table: the bail must NOT fire — probe confines the
    # rewrite to the one file actually holding the batch key
    path = str(tmp_path / "t3")
    for lo in (0, 100, 200, 300):
        txn_write(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            path,  # NO stats_cols
        )
    v_pre = txn_latest(path)[0]
    txn_upsert(
        spark.createDataFrame([(150, 999)], "k long, v long"), path, ["k"]
    )
    prev = {f["path"] for f in _materialize(path, v_pre)["files"]}
    now = {f["path"] for f in txn_latest(path)[1]["files"]}
    assert len(prev & now) == 3, "stats-less merge must probe, not bail"


def test_accumulate_applies_seed_to_none_fold(spark):
    """r11 review pin: a fold that legitimately produces None still gets
    the seed applied — only a genuinely EMPTY frame returns init."""
    from tdataframe_spark import Frame

    fr = Frame(spark.createDataFrame([(None,), (None,)], "x: int"))
    out = fr.accumulate(lambda a, b: None, 42, "x")
    assert out is None  # fn(42, None) ran; pre-fix returned 42


def _bloom_seed(spark, path, n_stripes=8, rows=400, **kw):
    """n_stripes files whose keys are STRIPED (k % n_stripes == r), so
    every file's [min, max] spans the whole domain — min/max stats can
    prune nothing; only bloom membership can."""
    for r in range(n_stripes):
        df = spark.range(rows).select(
            (F.col("id") * n_stripes + r).alias("k"),
            (F.col("id") * 2).alias("v"),
        ).coalesce(1)
        txn_write(
            df, path, stats_cols=["k"], bloom_cols=["k"],
            bloom_bits=16384, **kw,
        )


def test_bloom_point_lookup_prunes_unclustered_files(spark, tmp_path):
    """value_filter + bloom_cols: a point lookup on an unclustered key
    reads ONLY the files that may hold it — the layout where min/max
    stats are provably blind (every file's range spans the domain)."""
    path = str(tmp_path / "t")
    _bloom_seed(spark, path)
    head = txn_latest(path)[1]
    assert all("bloom" in f for f in head["files"])
    # keys 3 and 11 both live in stripe 3 only
    out = txn_read(spark, path, value_filter={"k": [3, 11]})
    assert _rows(out) == [(3, 0), (11, 2)]
    assert len(out.inputFiles()) == 1  # 1 of 8 — stats alone keep all 8
    # rows_only contract: the row filter is exact even where the file
    # pruning is conservative (None disables pruning, never correctness)
    out2 = txn_read(spark, path, value_filter={"k": [3, None]})
    assert _rows(out2) == [(3, 0)]
    assert len(out2.inputFiles()) == 8  # NULL probe: no file pruning
    # typo-proofing
    with pytest.raises(ValueError, match="value_filter"):
        txn_read(spark, path, value_filter={"nope": [1]})


def test_bloom_merge_blast_radius_and_bail_evidence(spark, tmp_path):
    """Selective MERGE on a bloom-indexed UNCLUSTERED table rewrites
    only the files actually holding batch keys (stats would mark all 8
    candidates); a batch spanning every stripe still bails to the plain
    rewrite on bloom evidence."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    _bloom_seed(spark, path)
    v_pre, m_pre = txn_latest(path)
    batch = spark.createDataFrame([(5, 999), (13, 999)], "k long, v long")
    txn_upsert(batch, path, keys=["k"])  # both keys in stripe 5
    m_post = txn_latest(path)[1]
    prev = {f["path"] for f in m_pre["files"]}
    assert len(prev & {f["path"] for f in m_post["files"]}) == 7
    # rewritten files carry FRESH blooms and stay lookup-able
    assert all("bloom" in f for f in m_post["files"])
    assert _rows(
        txn_read(spark, path, value_filter={"k": [5, 13]})
    ) == [(5, 999), (13, 999)]
    # uniform batch (a key in every stripe): bloom confirms >60% of
    # files hold batch keys -> evidence-gated bail rewrites every
    # CANDIDATE; files bloom-PRUNED (holding no batch key) still ride
    # zero-copy, and values stay exact either way
    m_pre2 = txn_latest(path)[1]
    wide = spark.createDataFrame(
        [(i, -1) for i in range(8)], "k long, v long"
    )
    txn_upsert(wide, path, keys=["k"])
    m_post2 = txn_latest(path)[1]
    survivors = {f["path"] for f in m_pre2["files"]} & {
        f["path"] for f in m_post2["files"]
    }
    # the 7 original stripes all hold a batch key — all rewritten
    assert not (survivors & prev)
    # any survivor is a first-merge file holding NO batch key
    for f in m_post2["files"]:
        if f["path"] in survivors:
            ks = {r[0] for r in spark.read.parquet(
                os.path.join(path, f["path"])).select("k").collect()}
            assert not (ks & set(range(8)))
    got = dict(_rows(txn_read(spark, path, value_filter={"k": list(range(8))})))
    assert got == {i: -1 for i in range(8)}


def test_bloom_distributed_checker_matches_driver(spark, tmp_path, monkeypatch):
    """Above _BLOOM_DRIVER_CAP candidates the membership test runs as a
    Spark job over the sidecar parquet — same result as the driver path
    (bits never change, only where they are read)."""
    import tdataframe_spark.sources.txn as txn_mod

    path = str(tmp_path / "t")
    _bloom_seed(spark, path)
    files = txn_latest(path)[1]["files"]
    kept_d, vetted_d = txn_mod._bloom_prune(
        spark, path, files, "k", [3, 11, 20], "bigint"
    )
    monkeypatch.setattr(txn_mod, "_BLOOM_DRIVER_CAP", 0)
    kept_x, vetted_x = txn_mod._bloom_prune(
        spark, path, files, "k", [3, 11, 20], "bigint"
    )
    driver = {f["path"] for f in kept_d}
    dist = {f["path"] for f in kept_x}
    assert vetted_d and vetted_x
    assert driver == dist and 1 <= len(driver) <= 2  # stripes 3 and 4
    # probe-type canonicalization: a float probe of an integral column
    # hashes under the COLUMN's rendering — 3.0 finds k=3, never a
    # false-negative prune (the review's blocking finding)
    kept_f, vetted_f = txn_mod._bloom_prune(
        spark, path, files, "k", [3.0], "bigint"
    )
    assert vetted_f and {f["path"] for f in kept_f} == {
        f["path"] for f in txn_mod._bloom_prune(
            spark, path, files, "k", [3], "bigint"
        )[0]
    }
    # an uncanonicalizable probe disables pruning, never drops a file
    kept_n, vetted_n = txn_mod._bloom_prune(
        spark, path, files, "k", ["x"], "bigint"
    )
    assert not vetted_n and len(kept_n) == len(files)


def test_bloom_string_col_clone_compaction_and_types(spark, tmp_path):
    """String bloom columns hash portably; a shallow clone's foreign
    bloom refs resolve against the source; compaction rebuilds filters
    for the compacted files; unsupported types are refused up front."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import txn_clone

    path = str(tmp_path / "t")
    for r in range(4):
        df = spark.range(300).select(
            F.concat(F.lit("u"), (F.col("id") * 4 + r).cast("string")
                     ).alias("uid"),
            F.col("id").alias("v"),
        ).coalesce(1)
        txn_write(df, path, bloom_cols=["uid"], bloom_bits=16384)
    out = txn_read(spark, path, value_filter={"uid": ["u6"]})
    assert _rows(out) == [("u6", 1)]
    assert len(out.inputFiles()) == 1
    # clone: foreign refs resolve via base
    dst = str(tmp_path / "c")
    txn_clone(path, dst)
    cout = txn_read(spark, dst, value_filter={"uid": ["u6"]})
    assert _rows(cout) == [("u6", 1)] and len(cout.inputFiles()) == 1
    # compaction inherits bloom cols and rebuilds sidecars
    compact_txn(spark, path, target_file_bytes=1 << 30)
    head = txn_latest(path)[1]
    assert all("bloom" in f for f in head["files"])
    out2 = txn_read(spark, path, value_filter={"uid": ["u6"]})
    assert _rows(out2) == [("u6", 1)]
    # type refusal: float hashing is not render-portable
    with pytest.raises(ValueError, match="bloom_cols column"):
        txn_write(
            spark.range(3).select(F.col("id").cast("double").alias("x")),
            str(tmp_path / "bad"), bloom_cols=["x"],
        )


def test_bloom_vacuum_reclaims_unreferenced_sidecars(spark, tmp_path):
    """Sidecars of rewritten-away commits die with their data dirs; the
    live head's refs all survive, byte-exactly resolvable."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    _bloom_seed(spark, path, n_stripes=4)
    txn_upsert(
        spark.createDataFrame([(2, 7)], "k long, v long"), path, ["k"]
    )
    txn_vacuum(path, keep_versions=1, min_age_s=0)
    head = txn_latest(path)[1]
    live = {f["bloom"]["ref"] for f in head["files"]}
    disk = {
        os.path.join("bloom", b)
        for b in os.listdir(os.path.join(path, "bloom"))
    }
    assert disk == live
    assert _rows(txn_read(spark, path, value_filter={"k": [2]})) == [(2, 7)]


def test_parquet_checkpoint_roundtrip_and_vacuum(spark, tmp_path):
    """r11: big checkpoints externalize their state lists to a parquet
    sidecar (Delta parquet-checkpoint shape) — the manifest JSON stays
    O(meta) however many files the table holds. Pins: the on-disk form
    mix, exact reads through/at/past the parquet checkpoint, the
    streaming source's added-files diff across it, restore onto it,
    and vacuum keeping referenced sidecars while reclaiming orphans."""
    import glob

    from tdataframe_spark.sources.txn import (
        _commit_file_delta,
        _load,
        _versions,
        txn_changes,
        txn_restore,
        txn_set_properties,
        txn_upsert,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i * 2) for i in range(40)], "k long, v long")
    txn_write(df, path)
    txn_set_properties(
        path,
        {"txn.parquet_checkpoint_rows": "4", "txn.checkpoint_interval": "3"},
    )
    for i in range(1, 7):
        txn_write(
            df.limit(2).withColumn("k", F.col("k") + 1000 * i).coalesce(2),
            path,
        )
    forms = {
        v: (
            "log" if "log" in _load(path, v)
            else "pq" if "state_parquet" in _load(path, v)
            else "json"
        )
        for v in _versions(path)
    }
    assert "pq" in forms.values()
    v_pq = next(v for v, f in forms.items() if f == "pq")
    # the manifest JSON of a parquet checkpoint carries NO file list
    raw = _load(path, v_pq)
    assert "files" not in raw and "dv" not in raw
    # exact reads at / across the externalized checkpoint
    assert txn_read(spark, path).count() == 40 + 12
    assert txn_read(spark, path, version=v_pq).count() == 40 + 2 * (v_pq - 2)
    assert txn_changes(spark, path, v_pq - 1, v_pq).count() == 2
    # streaming source: the added-files diff for a pq-checkpoint commit
    added, changed = _commit_file_delta(path, v_pq, _load(path, v_pq))
    assert len(added) == 1 and not changed  # limit() writes one file
    # merge + restore onto the pq snapshot
    txn_upsert(spark.createDataFrame([(1, 9)], "k long, v long"), path, ["k"])
    txn_restore(path, v_pq)
    n_restored = txn_read(spark, path, version=v_pq).count()
    assert txn_read(spark, path).count() == n_restored
    # vacuum: referenced sidecars survive, unreferenced are reclaimed
    # (v_pq itself falls out of the window — only the head's state,
    # restored FROM it, remains readable)
    txn_vacuum(path, keep_versions=2, min_age_s=0)
    live = {
        _load(path, v).get("state_parquet") for v in _versions(path)
    } - {None}
    disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(path, "_txn", "checkpoint-*.parquet"))
    }
    assert disk == live
    assert txn_read(spark, path).count() == n_restored


def test_parquet_checkpoint_fence_keeps_sidecar_ref(spark, tmp_path):
    """Vacuum keeps the parquet-checkpoint form: a retained parquet
    checkpoint keeps its sidecar ref, the oldest retained manifest
    materialized from a big delta is externalized again (not inlined),
    and the sidecars of unlinked manifests are reclaimed."""
    import glob

    from tdataframe_spark.sources.txn import _load, _versions, txn_set_properties

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    txn_write(df, path)
    txn_set_properties(
        path,
        {"txn.parquet_checkpoint_rows": "2", "txn.checkpoint_interval": "2"},
    )
    for _ in range(4):
        txn_write(df.limit(1).coalesce(1), path)   # v3..v6
    n = txn_read(spark, path).count()
    assert "state_parquet" in _load(path, 4) and "log" in _load(path, 5)

    def sidecars_match_manifests():
        disk = {
            os.path.basename(p)
            for p in glob.glob(
                os.path.join(path, "_txn", "checkpoint-*.parquet")
            )
        }
        live = {_load(path, v).get("state_parquet") for v in _versions(path)}
        assert disk == live - {None}

    txn_vacuum(path, keep_versions=3, min_age_s=0)  # keeps v4..v6
    assert _versions(path) == [4, 5, 6]
    assert "state_parquet" in _load(path, 4)
    assert txn_read(spark, path, version=4).count() == n - 2
    sidecars_match_manifests()
    txn_vacuum(path, keep_versions=2, min_age_s=0)  # v5: delta -> checkpoint
    raw = _load(path, 5)
    assert "log" not in raw and "state_parquet" in raw
    assert txn_read(spark, path, version=5).count() == n - 1
    sidecars_match_manifests()
    assert txn_read(spark, path).count() == n


def test_parquet_checkpoint_missing_sidecar_error(spark, tmp_path):
    """A pq-checkpoint manifest whose sidecar is gone (bad backup,
    manual deletion) raises the descriptive reconstruction error, not
    a raw pyarrow path error."""
    import glob

    from tdataframe_spark.sources.txn import _load, _versions, txn_set_properties

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    txn_write(df, path)
    txn_set_properties(
        path,
        {"txn.parquet_checkpoint_rows": "1", "txn.checkpoint_interval": "1"},
    )
    txn_write(df.limit(1).coalesce(1), path)
    v = _versions(path)[-1]
    assert "state_parquet" in _load(path, v)
    for p in glob.glob(os.path.join(path, "_txn", "checkpoint-*.parquet")):
        os.unlink(p)
    with pytest.raises(FileNotFoundError, match="state sidecar"):
        txn_read(spark, path).count()


# ---------------------------------------------------------------------------
# optimistic concurrency: logical conflict detection + rebase (r11)


def _seed_two_files(spark, path):
    """k 0-4 in one commit's file, k 5-9 in another (file boundaries are
    what the conflict rules are about)."""
    lo = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k int, v double"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [(i, float(i)) for i in range(5, 10)], "k int, v double"
    ).coalesce(1)
    txn_write(lo, path, mode="overwrite")  # v1
    txn_write(hi, path)                    # v2
    return 2


def _race_once(monkeypatch, fn):
    """Run ``fn`` once from inside txn_upsert's snapshot-subset read —
    after the merge pinned its snapshot, before its commit."""
    from tdataframe_spark.sources import txn as txn_mod

    real_subset = txn_mod._read_file_subset
    done = {"hit": False}

    def racing(spark_, p, manifest, rel_paths):
        out = real_subset(spark_, p, manifest, rel_paths)
        if not done["hit"]:
            done["hit"] = True
            fn()
        return out

    monkeypatch.setattr(txn_mod, "_read_file_subset", racing)


def test_upsert_rebase_lands_disjoint_append(spark, tmp_path, monkeypatch):
    """The multi-writer shape: a concurrent append holding NO merge key
    rebases — both writers land, the merge's staged rewrite is reused
    (no second rewrite), versions stay sequential. Default mode still
    raises for the same race."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    batch = spark.createDataFrame([(0, 99.0)], "k int, v double")

    _race_once(
        monkeypatch,
        lambda: txn_write(
            spark.createDataFrame([(20, 20.0)], "k int, v double"), path
        ),
    )
    v = txn_upsert(batch, path, keys=["k"], on_conflict="rebase")
    assert v == 4  # seed(2) + racer(3) + merge(4): nothing re-staged
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[0] == 99.0, "merge effect lost in rebase"
    assert got[20] == 20.0, "concurrent append lost in rebase"
    assert len(got) == 11

    # same race under the default pin: raises (pre-r11 behavior pinned)
    monkeypatch.undo()
    _race_once(
        monkeypatch,
        lambda: txn_write(
            spark.createDataFrame([(21, 21.0)], "k int, v double"), path
        ),
    )
    with pytest.raises(ConcurrentWriteError):
        txn_upsert(batch, path, keys=["k"])


def test_upsert_rebase_conflicts_on_matching_key(spark, tmp_path, monkeypatch):
    """A concurrently appended file holding a MERGE KEY is a real
    conflict (the merge would have had to update that row) — the key
    probe over the new files catches it and the rebase refuses."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    _race_once(
        monkeypatch,
        lambda: txn_write(
            spark.createDataFrame([(0, -1.0)], "k int, v double"), path
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="matching the merge keys"):
        txn_upsert(
            spark.createDataFrame([(0, 99.0)], "k int, v double"),
            path, keys=["k"], on_conflict="rebase",
        )


def test_upsert_rebase_dv_rules(spark, tmp_path, monkeypatch):
    """Deletion-vector deltas: a concurrent DELETE on an UNTOUCHED file
    rides through the rebase (its DV entry survives into the merged
    commit); the same delete on a file the merge REWRITES is a conflict
    (the rewrite materialized the old DV state — carrying the new entry
    forward would re-hide, dropping it would resurrect)."""
    from tdataframe_spark.sources.txn import txn_delete, txn_upsert

    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    batch = spark.createDataFrame([(0, 99.0)], "k int, v double")

    # racer deletes k=7 — lives in the hi file, which the merge (k=0)
    # does not touch -> rebase, both effects land
    _race_once(monkeypatch, lambda: txn_delete(spark, path, "k = 7"))
    txn_upsert(batch, path, keys=["k"], on_conflict="rebase")
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[0] == 99.0 and 7 not in got and len(got) == 9

    # fresh table (controlled file boundaries): racer deletes k=1 —
    # SAME file as the merge's k=0 -> conflict
    monkeypatch.undo()
    path2 = str(tmp_path / "t2")
    _seed_two_files(spark, path2)
    _race_once(monkeypatch, lambda: txn_delete(spark, path2, "k = 1"))
    with pytest.raises(ConcurrentWriteError, match="deletion-vector"):
        txn_upsert(batch, path2, keys=["k"], on_conflict="rebase")


def test_upsert_rebase_conflicts_on_touched_file_removal(
    spark, tmp_path, monkeypatch
):
    """A concurrent commit that REWRITES a file this merge also rewrites
    (another merge on a key in the same file) is a conflict — the staged
    replacement was derived from a snapshot that no longer exists."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    _race_once(
        monkeypatch,
        lambda: txn_upsert(
            spark.createDataFrame([(1, -1.0)], "k int, v double"),
            path, keys=["k"],
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="removed or rewrote"):
        txn_upsert(
            spark.createDataFrame([(0, 99.0)], "k int, v double"),
            path, keys=["k"], on_conflict="rebase",
        )


def test_upsert_rebase_arg_validation(spark, tmp_path):
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    txn_write(spark.createDataFrame([(1, 1.0)], "k int, v double"), path)
    batch = spark.createDataFrame([(1, 2.0)], "k int, v double")
    with pytest.raises(ValueError, match="on_conflict must be"):
        txn_upsert(batch, path, keys=["k"], on_conflict="retry")
    with pytest.raises(ValueError, match="requires rewrite='selective'"):
        txn_upsert(
            batch, path, keys=["k"], rewrite="full", on_conflict="rebase"
        )


def test_compact_txn_rebase_append_rides(spark, tmp_path, monkeypatch):
    """Background OPTIMIZE must never block ingestion: an append landing
    mid-compaction rebases (compaction is row-preserving, so appended
    rows can never conflict) — the compacted files replace exactly the
    source snapshot's files and the appended file rides untouched. A
    concurrent DELETE on a compacted file still raises."""
    from tdataframe_spark.sources import txn as txn_mod
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import txn_delete

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k int, v double"
    )
    txn_write(base.repartition(8), path, mode="overwrite")

    real_read = txn_mod.txn_read
    done = {"hit": False}

    def racing_read(spark_, p, **kw):
        out = real_read(spark_, p, **kw)
        if not done["hit"]:
            done["hit"] = True
            txn_write(
                spark.createDataFrame([(200, 200.0)], "k int, v double"),
                p,
            )
        return out

    monkeypatch.setattr(txn_mod, "txn_read", racing_read)
    compact_txn(spark, path, target_file_bytes=1 << 30, on_conflict="rebase")
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert len(got) == 101 and got[200] == 200.0, "append lost in OPTIMIZE"
    _, m = txn_latest(path)
    # compacted to 1 file + the racer's append
    assert len(m["files"]) == 2, [f["path"] for f in m["files"]]

    # concurrent DELETE on a compacted file: conflict
    done["hit"] = False

    def racing_del(spark_, p, **kw):
        out = real_read(spark_, p, **kw)
        if not done["hit"]:
            done["hit"] = True
            txn_delete(spark, p, "k = 5")
        return out

    monkeypatch.setattr(txn_mod, "txn_read", racing_del)
    with pytest.raises(ConcurrentWriteError):
        compact_txn(spark, path, target_file_bytes=1 << 30, on_conflict="rebase")


def test_compact_txn_rebase_preserves_column_mapping(spark, tmp_path):
    """The rebase commit keeps physical names (file-level replacement,
    not an overwrite), so a renamed column stays metadata-mapped through
    OPTIMIZE and old snapshots remain readable."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import txn_rename_column

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k int, v double"),
        path, mode="overwrite",
    )
    txn_rename_column(path, "v", "val")
    compact_txn(spark, path, target_file_bytes=1 << 30, on_conflict="rebase")
    df = txn_read(spark, path)
    assert df.columns == ["k", "val"]
    assert _rows(df.select("val")) == [(float(i),) for i in range(10)]


# ---------------------------------------------------------------------------
# metadata tables: txn_files / txn_detail (r11)


def test_txn_files_and_detail(spark, tmp_path):
    """The inventory answers from the manifest alone: rows/bytes are
    recorded per file entry at commit time (no footer fallback needed),
    partition values / stats / bloom columns surface, and txn_detail's
    totals agree with the data."""
    from tdataframe_spark.sources.txn import txn_detail, txn_files

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in (1, 2) for i in range(10)],
        "day int, k int, v double",
    )
    txn_write(
        df.repartition(2, "day"), path, partition_by=["day"],
        mode="overwrite", stats_cols=["k"], bloom_cols=["k"],
    )
    _, m = txn_latest(path)
    assert all("rows" in f and "bytes" in f for f in m["files"]), (
        "sizes must ride the manifest"
    )
    inv = txn_files(spark, path).collect()
    assert sum(r["rows"] for r in inv) == 20
    assert all(r["bytes"] > 0 for r in inv)
    assert all(r["partition"]["day"] in ("1", "2") for r in inv)
    assert all("k" in r["stats"] and r["bloom_cols"] == ["k"] for r in inv)
    by_day = {}
    for r in inv:
        by_day[r["partition"]["day"]] = by_day.get(r["partition"]["day"], 0) + r["rows"]
    assert by_day == {"1": 10, "2": 10}

    det = txn_detail(spark, path).collect()[0]
    assert det["n_files"] == len(inv) and det["rows"] == 20
    assert det["bytes"] == sum(r["bytes"] for r in inv)
    assert det["partition_by"] == ["day"]
    assert det["version"] == 1 and det["n_dv"] == 0

    # version pin: the inventory of a PAST snapshot stays stable
    txn_write(df.limit(3), path, partition_by=["day"])
    old = txn_files(spark, path, version=1).collect()
    assert sum(r["rows"] for r in old) == 20
    assert txn_detail(spark, path).collect()[0]["rows"] == 23


def test_upsert_rebase_conflicts_on_contract_change(spark, tmp_path, monkeypatch):
    """A CHECK constraint (or generated rule) landing between the
    merge's snapshot read and its commit is ALWAYS a conflict under
    rebase: the batch was validated against the old contract, and the
    commit loop's own re-check can miss the base→head0 window — the
    checker must close it."""
    from tdataframe_spark.sources.txn import txn_add_constraint, txn_upsert

    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    _race_once(
        monkeypatch,
        lambda: txn_add_constraint(spark, path, "v_floor", "v >= -100"),
    )
    with pytest.raises(ConcurrentWriteError, match="constraints contract"):
        txn_upsert(
            spark.createDataFrame([(0, 99.0)], "k int, v double"),
            path, keys=["k"], on_conflict="rebase",
        )


def test_race_raise_drops_staged_files(spark, tmp_path, monkeypatch):
    """Terminal ConcurrentWriteError paths clean their staged commit
    dir (pre-fix, the version-pin raise leaked the full rewrite until
    vacuum — GBs at the scale selective MERGE targets)."""
    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    _race_once(
        monkeypatch,
        lambda: txn_write(
            spark.createDataFrame([(30, 30.0)], "k int, v double"), path
        ),
    )
    from tdataframe_spark.sources.txn import txn_upsert

    data_dir = os.path.join(path, "data")
    with pytest.raises(ConcurrentWriteError):
        txn_upsert(
            spark.createDataFrame([(0, 99.0)], "k int, v double"),
            path, keys=["k"],
        )
    # seed(2 commits) + racer(1): the merge's staged dir must be gone
    assert len(os.listdir(data_dir)) == 3, sorted(os.listdir(data_dir))


# ---------------------------------------------------------------------------
# idempotent writes (app_id/app_version — Delta txnAppId/txnVersion, r11)


def test_idempotent_writes_skip_replays(spark, tmp_path):
    """A writer naming (app_id, app_version) is exactly-once: replaying
    an applied version is a no-op returning the current head; a higher
    version commits; the watermark is per-app and survives unrelated
    commits, DDL, and overwrites."""
    from tdataframe_spark.sources.txn import txn_app_version, txn_rename_column

    path = str(tmp_path / "t")
    b1 = spark.createDataFrame([(1, 1.0)], "k int, v double")
    b2 = spark.createDataFrame([(2, 2.0)], "k int, v double")

    v = txn_write(b1, path, app_id="loader", app_version=1)
    assert v == 1 and txn_app_version(path, "loader") == 1
    # replay: skipped, head unchanged, no duplicate rows
    assert txn_write(b1, path, app_id="loader", app_version=1) == 1
    assert txn_latest(path)[0] == 1
    # stale version after progress: also skipped
    assert txn_write(b2, path, app_id="loader", app_version=2) == 2
    assert txn_write(b2, path, app_id="loader", app_version=1) == 2
    assert txn_read(spark, path).count() == 2
    # per-app isolation + survival across DDL and unrelated commits
    txn_write(spark.createDataFrame([(3, 3.0)], "k int, v double"), path)
    txn_rename_column(path, "v", "val")
    assert txn_app_version(path, "loader") == 2
    assert txn_app_version(path, "other") is None
    other = spark.createDataFrame([(4, 4.0)], "k int, val double")
    txn_write(other, path, app_id="other", app_version=7)
    assert txn_app_version(path, "loader") == 2
    assert txn_app_version(path, "other") == 7
    # watermark survives an overwrite (table state, not data state)
    txn_write(other, path, mode="overwrite", app_id="loader", app_version=3)
    assert txn_app_version(path, "loader") == 3
    assert txn_app_version(path, "other") == 7
    # arg validation
    with pytest.raises(ValueError, match="go together"):
        txn_write(b1, path, app_id="loader")
    with pytest.raises(ValueError, match="app_version must be an int"):
        txn_write(b1, path, app_id="loader", app_version="7")


def test_idempotent_write_race_with_twin(spark, tmp_path, monkeypatch):
    """Two instances of the same writer racing the same app_version:
    the loser's commit is skipped by the IN-LOOP re-check (its twin's
    watermark landed after the loser's pre-staging check) and its
    staged files are dropped — never a double append."""
    from tdataframe_spark.sources import txn as txn_mod

    path = str(tmp_path / "t")
    txn_write(spark.createDataFrame([(0, 0.0)], "k int, v double"), path)
    b = spark.createDataFrame([(1, 1.0)], "k int, v double")

    real_publish = txn_mod._publish
    state = {"hit": False}

    def racing_publish(p, version, manifest):
        if not state["hit"] and manifest.get("apps", {}).get("loader") == 1:
            state["hit"] = True
            # the twin lands the SAME logical commit first
            txn_write(b, p, app_id="loader", app_version=1)
        return real_publish(p, version, manifest)

    monkeypatch.setattr(txn_mod, "_publish", racing_publish)
    txn_write(b, path, app_id="loader", app_version=1)
    monkeypatch.undo()
    assert txn_read(spark, path).filter("k = 1").count() == 1, (
        "racing twins double-applied the batch"
    )


def test_idempotent_watermark_clone_and_restore(spark, tmp_path):
    """A clone DROPS writer watermarks (it is a new table — a loader
    feeding it must not be skipped because its twin fed the source); a
    RESTORE keeps them from the live head (rollback undoes data, not
    what writers applied — re-feeding takes a higher app_version)."""
    from tdataframe_spark.sources.txn import (
        txn_app_version,
        txn_clone,
        txn_restore,
    )

    src = str(tmp_path / "src")
    b = spark.createDataFrame([(1, 1.0)], "k int, v double")
    txn_write(b, src, app_id="loader", app_version=5)
    dst = str(tmp_path / "dst")
    txn_clone(src, dst)
    assert txn_app_version(dst, "loader") is None
    txn_write(b, dst, app_id="loader", app_version=1)  # NOT skipped
    assert txn_app_version(dst, "loader") == 1

    txn_write(spark.createDataFrame([(2, 2.0)], "k int, v double"), src,
              app_id="loader", app_version=6)
    txn_restore(src, 1)
    assert txn_app_version(src, "loader") == 6
    # replaying v6 after the rollback: still skipped (monotonic mark)
    assert txn_write(b, src, app_id="loader", app_version=6) == txn_latest(src)[0]
    assert txn_read(spark, src).count() == 1


def test_idempotent_merge_replay_skips(spark, tmp_path):
    """txn_upsert(app_id=, app_version=) — the foreachBatch replay
    idiom: re-running an applied micro-batch's MERGE is a no-op
    returning the current head (checked BEFORE the probe/rewrite); a
    higher version merges normally and records the new mark
    atomically with its commit."""
    from tdataframe_spark.sources.txn import txn_app_version, txn_upsert

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(i, float(i)) for i in range(6)],
                              "k int, v double"),
        path, mode="overwrite",
    )
    b7 = spark.createDataFrame([(1, 99.0)], "k int, v double")
    v = txn_upsert(b7, path, keys=["k"], app_id="stream", app_version=7)
    assert txn_app_version(path, "stream") == 7
    # replay of batch 7: skipped, head unchanged, value not re-applied
    assert txn_upsert(b7, path, keys=["k"], app_id="stream",
                      app_version=7) == v
    assert txn_latest(path)[0] == v
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[1] == 99.0 and len(got) == 6
    # batch 8 merges and advances the mark
    txn_upsert(
        spark.createDataFrame([(2, 88.0)], "k int, v double"),
        path, keys=["k"], app_id="stream", app_version=8,
    )
    assert txn_app_version(path, "stream") == 8
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[2] == 88.0
    with pytest.raises(ValueError, match="go together"):
        txn_upsert(b7, path, keys=["k"], app_id="stream")


def test_idempotent_merge_twin_race_skips(spark, tmp_path, monkeypatch):
    """Two foreachBatch twins racing the SAME merge: the loser's
    version pin trips, but the loop-top watermark re-check turns it
    into a graceful skip (current head returned, staged files
    dropped) — not a ConcurrentWriteError the caller must interpret."""
    from tdataframe_spark.sources.txn import txn_upsert

    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    b = spark.createDataFrame([(0, 99.0)], "k int, v double")
    _race_once(
        monkeypatch,
        lambda: txn_upsert(b, path, keys=["k"], app_id="stream",
                           app_version=7),
    )
    v = txn_upsert(b, path, keys=["k"], app_id="stream", app_version=7)
    assert v == txn_latest(path)[0] == 3  # seed(2) + twin(3); loser skipped
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[0] == 99.0 and len(got) == 10
    # loser's staged dir was dropped: 3 commit dirs only
    assert len(os.listdir(os.path.join(path, "data"))) == 3


def test_txn_drop_app_retires_watermark(spark, tmp_path):
    """txn_drop_app bounds watermark growth (Delta's txn retention
    valve): the dropped writer's mark leaves every future manifest,
    other writers' marks survive, unknown ids raise, and a re-feed
    with an old version is no longer skipped."""
    from tdataframe_spark.sources.txn import txn_app_version, txn_drop_app

    path = str(tmp_path / "t")
    b = spark.createDataFrame([(1, 1.0)], "k int, v double")
    txn_write(b, path, app_id="dead", app_version=9)
    txn_write(b, path, app_id="live", app_version=2)
    txn_drop_app(path, "dead")
    assert txn_app_version(path, "dead") is None
    assert txn_app_version(path, "live") == 2
    with pytest.raises(ValueError, match="no watermark recorded"):
        txn_drop_app(path, "dead")
    # replay window re-opened by design for the dropped id
    n0 = txn_read(spark, path).count()
    txn_write(b, path, app_id="dead", app_version=1)
    assert txn_read(spark, path).count() == n0 + 1
    # non-string app_id refused up front (JSON would re-key it)
    with pytest.raises(ValueError, match="app_id must be a string"):
        txn_write(b, path, app_id=5, app_version=1)


def test_txn_view_metadata_views(spark, tmp_path):
    """txn_view(metadata=True) registers the inventory/detail/history
    as SQL views — Iceberg's t.files / Delta's DESCRIBE DETAIL|HISTORY
    through plain spark.sql; the files view pins the SAME snapshot as
    the data view."""
    from tdataframe_spark.sources.txn import txn_view

    path = str(tmp_path / "t")
    txn_write(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k int, v double"),
        path, mode="overwrite",
    )
    txn_view(spark, path, "t_meta", metadata=True)
    txn_write(spark.createDataFrame([(99, 9.0)], "k int, v double"), path)
    # every view captures registration-time state (v1)
    assert spark.sql("SELECT count(*) c FROM t_meta").first()["c"] == 10
    assert spark.sql(
        "SELECT sum(rows) r FROM t_meta_files"
    ).first()["r"] == 10
    assert spark.sql(
        "SELECT version FROM t_meta_detail"
    ).first()["version"] == 1
    # re-registration refreshes to the live head
    txn_view(spark, path, "t_meta", metadata=True)
    assert spark.sql(
        "SELECT version FROM t_meta_detail"
    ).first()["version"] == 2
    assert spark.sql(
        "SELECT count(*) c FROM t_meta_history"
    ).first()["c"] == 2
    assert spark.sql(
        "SELECT sum(rows) r FROM t_meta_files"
    ).first()["r"] == 11


def test_apps_and_contract_survive_vacuum(spark, tmp_path):
    """Writer watermarks (like constraints/properties) are table state:
    they must survive vacuum's in-place manifest rewrites and keep
    skipping replays afterwards."""
    from tdataframe_spark.sources.txn import txn_app_version

    path = str(tmp_path / "t")
    b = spark.createDataFrame([(1, 1.0)], "k int, v double")
    txn_write(b, path, app_id="loader", app_version=3)
    for i in range(4):
        # overwrites orphan the previous commits' files so the vacuum
        # below actually reclaims (and rewrites retained manifests)
        txn_write(
            spark.createDataFrame([(10 + i, 1.0)], "k int, v double"),
            path, mode="overwrite",
        )
    removed = txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert removed  # something was reclaimed
    assert txn_app_version(path, "loader") == 3
    n0 = txn_read(spark, path).count()
    assert txn_write(b, path, app_id="loader", app_version=3) == txn_latest(path)[0]
    assert txn_read(spark, path).count() == n0, "replay applied after vacuum"


def test_upsert_rebase_across_parquet_checkpoint(spark, tmp_path, monkeypatch):
    """The rebase checker reconstructs base/head states through
    _materialize — it must work when the concurrent commit chain
    crosses a PARQUET-checkpoint manifest (externalized file lists)."""
    from tdataframe_spark.sources.txn import txn_set_properties, txn_upsert

    path = str(tmp_path / "t")
    _seed_two_files(spark, path)
    # every commit from here checkpoints with an externalized sidecar
    txn_set_properties(
        path,
        {"txn.parquet_checkpoint_rows": "1", "txn.checkpoint_interval": "1"},
    )
    base_v = txn_latest(path)[0]
    _race_once(
        monkeypatch,
        lambda: txn_write(
            spark.createDataFrame([(40, 40.0)], "k int, v double"), path
        ),
    )
    txn_upsert(
        spark.createDataFrame([(0, 99.0)], "k int, v double"),
        path, keys=["k"], on_conflict="rebase",
    )
    assert txn_latest(path)[0] == base_v + 2
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[0] == 99.0 and got[40] == 40.0 and len(got) == 11


def test_idempotent_skip_stages_nothing(spark, tmp_path):
    """The replay skip happens BEFORE staging: no new commit dir, no
    bloom sidecar, no Spark write job artifacts."""
    path = str(tmp_path / "t")
    b = spark.createDataFrame([(1, 1.0)], "k int, v double")
    txn_write(b, path, app_id="loader", app_version=1,
              bloom_cols=["k"], bloom_bits=64)
    data_dirs = set(os.listdir(os.path.join(path, "data")))
    blooms = set(os.listdir(os.path.join(path, "bloom")))
    txn_write(b, path, app_id="loader", app_version=1,
              bloom_cols=["k"], bloom_bits=64)
    assert set(os.listdir(os.path.join(path, "data"))) == data_dirs
    assert set(os.listdir(os.path.join(path, "bloom"))) == blooms


def _carry_base(spark, root, sink: bool) -> str:
    """A small table whose head carries every table-state key (files,
    schema, dv, retired_physical, constraints, generated, properties,
    apps). The native sink refuses tables with constraints, generated
    rules or retired physical names, so its base carries the rest."""
    from tdataframe_spark.sources.txn import (
        txn_add_constraint,
        txn_add_generated_column,
        txn_delete,
        txn_drop_column,
        txn_set_properties,
    )

    path = str(root / ("sink" if sink else "t"))
    txn_write(
        spark.createDataFrame(
            [(k, float(k), 2 * k, 0) for k in range(6)],
            "k long, v double, g long, x long",
        ).coalesce(1),
        path, app_id="loader", app_version=1,
    )
    if not sink:
        txn_drop_column(path, "x")
        txn_add_constraint(spark, path, "k_pos", "k >= 0")
        txn_add_generated_column(spark, path, "g", "k * 2")
    txn_set_properties(path, {"owner": "me"})
    txn_delete(spark, path, "k = 3")
    return path


@pytest.fixture(scope="module")
def carry_bases(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("carry")
    return {s: _carry_base(spark, root, s) for s in (False, True)}


def _carry_cases():
    from tdataframe_spark.sources import txn as T

    def batch(spark, k):
        return spark.createDataFrame(
            [(k, float(k), 2 * k)], "k long, v double, g long"
        )

    return {
        # case: (commit(spark, path), keys the commit owns)
        "rename_column": (
            lambda s, p: T.txn_rename_column(p, "v", "w"), {"schema"}),
        "drop_column": (
            lambda s, p: T.txn_drop_column(p, "v"),
            {"schema", "retired_physical"}),
        "add_constraint": (
            lambda s, p: T.txn_add_constraint(s, p, "v_pos", "v >= 0"),
            {"constraints"}),
        "drop_constraint": (
            lambda s, p: T.txn_drop_constraint(p, "k_pos"),
            {"constraints"}),
        "add_generated_column": (
            lambda s, p: T.txn_add_generated_column(
                s, p, "v", "cast(k as double)"),
            {"generated"}),
        "drop_generated_column": (
            lambda s, p: T.txn_drop_generated_column(p, "g"),
            {"generated"}),
        "set_properties": (
            lambda s, p: T.txn_set_properties(p, {"owner": "you"}),
            {"properties"}),
        "drop_app": (lambda s, p: T.txn_drop_app(p, "loader"), {"apps"}),
        "restore": (
            lambda s, p: T.txn_restore(p, 1),
            {"files", "schema", "dv", "retired_physical", "constraints",
             "generated"}),
        "delete": (lambda s, p: T.txn_delete(s, p, "k = 4"), {"dv"}),
        "purge": (
            lambda s, p: T.txn_purge(s, p, min_deleted_ratio=0.0),
            {"files", "dv"}),
        "append": (
            lambda s, p: txn_write(
                batch(s, 10), p, app_id="loader", app_version=2),
            {"files", "apps"}),
        "overwrite": (
            lambda s, p: txn_write(batch(s, 10), p, mode="overwrite"),
            {"files", "schema", "dv", "retired_physical"}),
        "upsert": (
            lambda s, p: T.txn_upsert(batch(s, 1), p, ["k"]),
            {"files", "dv"}),
        "sink_batch": (
            lambda s, p: batch(s, 10).withColumn("x", F.lit(0).cast("long"))
            .write.format("txn_table").option("path", p).mode("append")
            .save(),
            {"files"}),
    }


@pytest.mark.parametrize("case", sorted(_carry_cases()))
def test_every_commit_carries_table_state(spark, tmp_path, carry_bases, case):
    """Every commit builds its manifest through one rule: the table-state
    keys it does not own survive unchanged from the head (a commit that
    drops one erases constraints, properties or a writer's watermark),
    and no manifest carries a key outside the table-state and
    per-commit sets."""
    import shutil

    from tdataframe_spark.sources.txn import (
        _STATE_KEYS,
        _materialize,
        _versions,
    )
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
    commit, owned = _carry_cases()[case]
    sink = case == "sink_batch"
    path = str(tmp_path / "t")
    shutil.copytree(carry_bases[sink], path)
    v0, head = txn_latest(path)
    for k in _STATE_KEYS:
        if not (sink and k in ("retired_physical", "constraints",
                               "generated")):
            assert head.get(k), f"base head lacks {k}"
    commit(spark, path)
    v1, new = txn_latest(path)
    assert v1 == v0 + 1
    for k in set(_STATE_KEYS) - owned:
        assert new.get(k) == head.get(k), f"{case} changed {k}"
    allowed = set(_STATE_KEYS) | {"version", "parent", "ts", "meta", "cdf"}
    for v in _versions(path):
        extra = set(_materialize(path, v)) - allowed
        assert not extra, f"v{v} carries {sorted(extra)}"


def test_clone_carries_table_state_but_not_watermarks(
    spark, tmp_path, carry_bases
):
    """txn_clone's one deliberate exception to the table-state rule: a
    clone is a new table, so writer watermarks do not carry over."""
    from tdataframe_spark.sources.txn import _STATE_KEYS, txn_clone

    src = carry_bases[False]
    _, head = txn_latest(src)
    txn_clone(src, str(tmp_path / "c"))
    _, new = txn_latest(str(tmp_path / "c"))
    for k in set(_STATE_KEYS) - {"files", "dv", "apps"}:
        assert new.get(k) == head.get(k), f"clone changed {k}"
    assert "apps" not in new
    assert [f["path"] for f in new["files"]] == [
        f["path"] for f in head["files"]
    ]
