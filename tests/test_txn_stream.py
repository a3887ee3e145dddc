"""Structured-Streaming source over the transactional table
(sources/txn_stream.py): version offsets, append-feed semantics,
non-append guards, column-mapping + schema-evolution resolution, and
clone (foreign-base) reads."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tdataframe_spark.sources.txn import (
    txn_clone,
    txn_delete,
    txn_read,
    txn_rename_column,
    txn_upsert,
    txn_vacuum,
    txn_write,
)
from tdataframe_spark.sources.txn_stream import txn_readstream


def _run(spark, path, out, ck, **opts):
    q = (
        txn_readstream(spark, path, **opts)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_txn_stream_replays_history_and_picks_up_commits(spark, tmp_path):
    """History replay equals the table read (through a rename and an
    evolving append — old files NULL-backfill under the pinned
    schema); a restart from the same checkpoint emits ONLY the commits
    that landed since."""
    path, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    txn_write(
        spark.range(5).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append",
    )
    txn_write(
        spark.range(5, 8).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append",
    )
    txn_rename_column(path, "v", "val")
    txn_write(
        spark.range(8, 9).select(
            "id", (F.col("id") * 2).alias("val"), F.lit("x").alias("tag")
        ),
        path, mode="append",
    )
    _run(spark, path, out, ck)
    got = _rows(spark.read.parquet(out))
    assert got == _rows(txn_read(spark, path))
    assert (8, 16, "x") in got and (0, 0, None) in got
    # incremental: one more commit, same checkpoint -> only the delta
    txn_write(
        spark.range(9, 10).select(
            "id", (F.col("id") * 2).alias("val"), F.lit("y").alias("tag")
        ),
        path, mode="append",
    )
    _run(spark, path, out, ck)
    got2 = _rows(spark.read.parquet(out))
    assert len(got2) == len(got) + 1 and (9, 18, "y") in got2


def test_txn_stream_guards_non_append_and_vacuum(spark, tmp_path):
    """A commit that removes or hides rows raises mid-stream;
    ignore_changes=true streams its ADDED files instead; a vacuumed
    manifest inside the window always raises."""
    path, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    txn_write(
        spark.range(4).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append",
    )
    _run(spark, path, out, ck)
    txn_delete(spark, path, "id = 1")
    with pytest.raises(Exception, match="not an"):
        _run(spark, path, out, ck)
    # ignore_changes: the delete commit adds no files -> nothing new;
    # an upsert (overwrite) re-emits its rewritten file set
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _run(spark, path, out2, ck2, ignore_changes=True)
    base = spark.read.parquet(out2).count()
    txn_upsert(
        spark.createDataFrame([(0, 99)], "id long, v long"), path, ["id"]
    )
    _run(spark, path, out2, ck2, ignore_changes=True)
    after = spark.read.parquet(out2)
    assert after.count() > base  # rewritten snapshot re-emitted
    assert after.filter("id = 0 and v = 99").count() == 1
    # vacuum inside the window: a fresh stream from 0 must refuse
    txn_vacuum(path, keep_versions=1, min_age_s=0.0)
    with pytest.raises(Exception, match="vacuumed"):
        _run(spark, path, str(tmp_path / "out3"), str(tmp_path / "ck3"))


def test_txn_stream_reads_clones_and_start_version(spark, tmp_path):
    """A shallow clone streams its (foreign-base) history; start_version
    skips it: only commits after the clone point emit."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    a = spark.range(6).select("id", (F.col("id") * 3).alias("v"))
    txn_write(a, src, mode="append")
    txn_clone(src, dst)
    txn_write(
        spark.createDataFrame([(100, 1)], "id long, v long"), dst,
        mode="append",
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, dst, out, ck)
    assert _rows(spark.read.parquet(out)) == _rows(txn_read(spark, dst))
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _run(spark, dst, out2, ck2, start_version=1)  # skip the clone commit
    assert _rows(spark.read.parquet(out2)) == [(100, 1)]


def test_txn_sink_batch_append_overwrite_and_evolution(spark, tmp_path):
    """Native batch sink (write.format('txn_table')): appends land as
    manifest commits equal to txn_write's result, an evolving append
    NULL-backfills through the merged schema, overwrite replaces the
    live set."""
    from tdataframe_spark.sources.txn import txn_latest
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
    path = str(tmp_path / "t")
    a = spark.range(4).select("id", (F.col("id") * 2).alias("v"))
    a.write.format("txn_table").option("path", path).mode("append").save()
    b = spark.range(4, 6).select(
        "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
    )
    b.write.format("txn_table").option("path", path).mode("append").save()
    got = _rows(txn_read(spark, path))
    assert (0, 0, None) in got and (5, 10, "x") in got and len(got) == 6
    assert txn_latest(path)[0] == 2
    a.write.format("txn_table").option("path", path).mode(
        "overwrite"
    ).save()
    assert _rows(txn_read(spark, path)) == _rows(a)


def test_txn_sink_stream_is_exactly_once(spark, tmp_path):
    """Native streaming sink: each micro-batch is ONE manifest commit
    carrying its batch id; a crash between sink commit and checkpoint
    commit replays the batch and the fence drops it (no duplicate rows,
    no new version)."""
    from tests.test_exactly_once import _crash_before_checkpoint_commit

    from tdataframe_spark.sources.txn import txn_latest
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
    src, path, ck = (str(tmp_path / d) for d in ("src", "t", "ck"))
    ev = spark.range(8).select("id", (F.col("id") + 100).alias("w"))
    ev.repartition(2).write.parquet(src)

    def run():
        st = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            st.writeStream.format("txn_table")
            .option("path", path)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    before = _rows(txn_read(spark, path))
    v_before, m = txn_latest(path)
    assert before == _rows(ev) and m["meta"]["batch_id"] is not None
    replayed = _crash_before_checkpoint_commit(ck)
    assert m["meta"]["batch_id"] >= replayed
    run()  # restart: the batch-id fence must drop the replay
    assert _rows(txn_read(spark, path)) == before, "replay double-appended"
    assert txn_latest(path)[0] == v_before, "replay must not commit"
    # a genuinely new arrival appends
    spark.range(8, 9).select("id", (F.col("id") + 100).alias("w")).write.mode(
        "append"
    ).parquet(src)
    run()
    assert len(_rows(txn_read(spark, path))) == 9


def test_txn_sink_guards_route_to_txn_write(spark, tmp_path):
    """Constrained and column-mapped tables refuse the native sink
    loudly — their commit protocols need the engine-side txn_write
    path. A LAYOUT conflict (appending a different partitioning than
    the table's) also refuses; matching layouts append natively (the
    partitioned-append path has its own test)."""
    from tdataframe_spark.sources.txn import txn_add_constraint

    path = str(tmp_path / "t")
    df = spark.range(4).select("id", (F.col("id") * 2).alias("v"))
    txn_write(df, path, mode="append")
    txn_add_constraint(spark, path, "v_nonneg", "v >= 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        df.write.format("txn_table").option("path", path).mode(
            "append"
        ).save()
    path2 = str(tmp_path / "t2")
    txn_write(df, path2, mode="append")
    txn_rename_column(path2, "v", "val")
    with pytest.raises(Exception, match="column mapping"):
        df.withColumnRenamed("v", "val").write.format("txn_table").option(
            "path", path2
        ).mode("append").save()
    path3 = str(tmp_path / "t3")
    txn_write(
        df.withColumn("day", F.lit("5")), path3, mode="append",
        partition_by=["day"],
    )
    with pytest.raises(Exception, match="cannot repartition"):
        df.withColumn("day", F.lit("6")).write.format("txn_table").option(
            "path", path3
        ).option("partition_by", "id").mode("append").save()


def test_txn_sink_two_checkpoints_both_land(spark, tmp_path):
    """Two streaming queries, each with its own checkpoint, write batch 0
    to one table: each checkpoint is its own writer, so both batches
    land. A stream sink without a checkpoint option is refused."""
    from pyspark.sql.types import LongType, StructField, StructType

    from tdataframe_spark.sources.txn_stream import (
        TxnStreamWriter,
        register_txn_stream,
    )

    register_txn_stream(spark)
    path = str(tmp_path / "t")
    ev = spark.range(4).select("id", (F.col("id") + 100).alias("w"))
    for name, rows in (("a", ev), ("b", ev.withColumn("id", F.col("id") + 10))):
        src = str(tmp_path / f"src_{name}")
        rows.repartition(2).write.parquet(src)
        q = (
            spark.readStream.schema(ev.schema).parquet(src)
            .writeStream.format("txn_table")
            .option("path", path)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    got = _rows(txn_read(spark, path))
    assert got == sorted(
        _rows(ev) + _rows(ev.withColumn("id", F.col("id") + 10))
    )
    schema = StructType([StructField("id", LongType())])
    with pytest.raises(ValueError, match='checkpointLocation'):
        TxnStreamWriter(schema, {"path": path}, "append")


@pytest.mark.parametrize("sink", ["batch", "stream"])
def test_txn_sink_keeps_app_watermarks(spark, tmp_path, sink):
    """A native sink commit carries every writer's watermark forward: a
    loader's replayed batch is still skipped after the sink wrote."""
    from tdataframe_spark.sources.txn import txn_app_version
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
    path = str(tmp_path / "t")
    txn_write(spark.range(3), path, app_id="loader", app_version=5)
    if sink == "batch":
        spark.range(3).write.format("txn_table").option("path", path).mode(
            "append"
        ).save()
    else:
        src = str(tmp_path / "src")
        spark.range(3).write.parquet(src)
        q = (
            spark.readStream.schema("id long").parquet(src)
            .writeStream.format("txn_table")
            .option("path", path)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    assert txn_app_version(path, "loader") == 5
    txn_write(spark.range(3), path, app_id="loader", app_version=5)
    assert txn_read(spark, path).count() == 6


def test_txn_stream_source_flags_dv_resurrection(spark, tmp_path):
    """A restore that SHRINKS the deletion-vector set un-hides rows —
    not an append; the source must flag it like any removal (a
    growth-only DV check would stream it as a silent no-op)."""
    from tdataframe_spark.sources.txn import txn_restore

    path, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    txn_write(
        spark.range(5).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append",
    )                                    # v1
    txn_delete(spark, path, "id = 2")    # v2: DV added
    txn_restore(path, 1)                 # v3: DV set shrinks back
    with pytest.raises(Exception, match="not an"):
        _run(spark, path, out, ck)


def test_txn_stream_refuses_vacuumed_fence_baseline(spark, tmp_path):
    """r9-ADVICE: a commit whose parent manifest was vacuumed away has
    no baseline — treating the missing parent as empty would count
    every cumulative file of the commit as 'added' and silently re-emit
    the whole table. The source must raise instead."""
    from tdataframe_spark.sources.txn import (
        _commit_file_delta,
        _load,
        _versions,
    )

    path = str(tmp_path / "t")
    txn_write(spark.range(3), path)                       # v1
    txn_write(spark.range(3, 6), path, mode="overwrite")  # v2 head
    txn_vacuum(path, keep_versions=1, min_age_s=0)
    assert _versions(path) == [2]  # v1's manifest is gone
    # the shared commit-delta function reports the missing baseline as
    # None; the stream source turns it into its "vacuumed away" error
    assert _commit_file_delta(path, 2, _load(path, 2)) is None
    # and through the real source: a stream whose window starts exactly
    # at the vacuumed version must raise, never emit v2's cumulative files
    with pytest.raises(Exception, match="vacuumed away"):
        _run(
            spark, path, str(tmp_path / "out"), str(tmp_path / "ck"),
            start_version=1,
        )


def test_txn_sink_partitioned_append_and_create(spark, tmp_path):
    """r10: the native sink handles PARTITIONED layouts — appends to a
    txn_write(partition_by=)-created table inherit its layout (per-file
    partition values recorded, so partition_filter pruning and
    replace_where keep working over sink-written files); an explicit
    .option('partition_by') creates a fresh partitioned table; an
    explicit option that disagrees with the table's layout refuses."""
    from tdataframe_spark.sources.txn import txn_latest
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
    path = str(tmp_path / "t")
    df = spark.range(8).select(
        "id", (F.col("id") % 3).alias("day"), (F.col("id") * 2).alias("v")
    )
    txn_write(df, path, mode="append", partition_by=["day"])
    more = spark.createDataFrame(
        [(100, 1, 200), (101, 7, 202)], "id long, day long, v long"
    )
    more.write.format("txn_table").option("path", path).mode("append").save()
    assert _rows(txn_read(spark, path)) == _rows(df.unionByName(more))
    # the sink's entries carry partition values like txn_write's
    m = txn_latest(path)[1]
    assert {f["partition"]["day"] for f in m["files"]} == {
        "0", "1", "2", "7"
    }
    # pruning works over sink-written files (day=7 exists ONLY there)
    assert _rows(
        txn_read(spark, path, partition_filter={"day": ["7"]})
    ) == [(101, 7, 202)]
    # fresh table created partitioned by the sink option
    path2 = str(tmp_path / "t2")
    df.write.format("txn_table").option("path", path2).option(
        "partition_by", "day"
    ).mode("append").save()
    m2 = txn_latest(path2)[1]
    assert all(f["partition"].get("day") is not None for f in m2["files"])
    assert "__p_day=" in m2["files"][0]["path"]  # txn_write layout parity
    assert _rows(txn_read(spark, path2)) == _rows(df)
    # appending UNPARTITIONED (no option) inherits the layout too
    more.write.format("txn_table").option("path", path2).mode(
        "append"
    ).save()
    assert txn_read(
        spark, path2, partition_filter={"day": ["7"]}
    ).count() == 1
    # a partition column missing from the written schema refuses
    with pytest.raises(Exception, match="not in the written"):
        spark.range(3).write.format("txn_table").option(
            "path", str(tmp_path / "t3")
        ).option("partition_by", "nope").mode("append").save()


def test_txn_sink_partitioned_stream_exactly_once(spark, tmp_path):
    """r10: the streaming sink on a partitioned table keeps the
    batch-id fence semantics — a crash between sink commit and
    checkpoint commit replays the batch and the fence drops it, with
    per-partition files intact."""
    from tests.test_exactly_once import _crash_before_checkpoint_commit

    from tdataframe_spark.sources.txn import txn_latest, txn_write as _tw
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
    src, path, ck = (str(tmp_path / d) for d in ("src", "t", "ck"))
    ev = spark.range(8).select(
        "id", (F.col("id") % 2).alias("par"), (F.col("id") + 100).alias("w")
    )
    # an EMPTY table has no file entries to infer a layout from — the
    # sink option declares it (and later batches inherit the then-live
    # layout, which matches)
    _tw(ev.limit(0), path, mode="append", partition_by=["par"])
    ev.repartition(2).write.parquet(src)

    def run():
        st = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            st.writeStream.format("txn_table")
            .option("path", path)
            .option("partition_by", "par")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    before = _rows(txn_read(spark, path))
    v_before, m = txn_latest(path)
    assert before == _rows(ev)
    assert {f["partition"].get("par") for f in m["files"] if f["partition"]} == {
        "0", "1"
    }
    _crash_before_checkpoint_commit(ck)
    run()  # replay: fence drops it
    assert _rows(txn_read(spark, path)) == before
    assert txn_latest(path)[0] == v_before
    # pruning over the streamed files
    assert (
        txn_read(spark, path, partition_filter={"par": ["1"]}).count() == 4
    )


def test_txn_stream_admission_control_caps_batches(spark, tmp_path):
    """r10: max_commits_per_batch bounds steady-state micro-batches
    under a periodic trigger — 4 commits landing on a running stream
    with a cap of 1 drain as 4 separate batches (visible in the
    checkpoint offset log), same total rows. The first batch of a
    (re)start and availableNow drains are uncapped by API limits
    (documented in the reader)."""
    import glob
    import time

    path, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    txn_write(
        spark.range(3).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append",
    )
    q = (
        txn_readstream(spark, path, max_commits_per_batch=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    try:
        deadline = time.time() + 120
        while rows() < 3 and time.time() < deadline:
            time.sleep(0.5)
        assert rows() == 3, "seed batch did not drain"
        for i in range(1, 5):
            txn_write(
                spark.range(i * 10, i * 10 + 3).select(
                    "id", (F.col("id") * 2).alias("v")
                ),
                path, mode="append",
            )
        deadline = time.time() + 120
        while rows() < 15 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert _rows(spark.read.parquet(out)) == _rows(txn_read(spark, path))
    batches = [
        b for b in glob.glob(os.path.join(ck, "offsets", "*"))
        if not b.endswith(".tmp")
    ]
    # seed batch + one batch PER capped commit (>= tolerates an extra
    # empty trigger planning nothing)
    assert len(batches) >= 5


def test_sink_accepts_reverse_layout_merged_table(spark, tmp_path):
    """r11 ADVICE (medium): a table seeded partition_by=['b','a'] and
    then selectively merged must stay appendable through the native
    sink — pre-fix the merge re-sorted the keys, the blocker saw
    {('b','a'), ('a','b')} and refused the table forever as 'mixed
    (evolved) partition layout'."""
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
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
    more = spark.createDataFrame(
        [(100, 1, 1, 1.5)], "k long, b long, a long, v double"
    )
    more.write.format("txn_table").option("path", path).mode(
        "append"
    ).save()
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got[0] == 99.0 and got[100] == 1.5 and len(got) == 13
    # pruning still works over all three writers' files
    assert txn_read(
        spark, path, partition_filter={"b": ["1"], "a": ["1"]}
    ).count() == sum(1 for r in got if r % 2 == 1 and r % 3 == 1) + 1


def test_sink_refuses_diverging_partition_value_types(spark, tmp_path):
    """r11 ADVICE (low): float/decimal/timestamp partition values render
    differently in Python (str) and the JVM (cast-to-string) — the sink
    refuses them up front instead of recording values that silently
    break partition_filter/replace_where equality."""
    from tdataframe_spark.sources.txn_stream import register_txn_stream

    register_txn_stream(spark)
    df = spark.createDataFrame([(1, 0.5)], "k long, x double")
    with pytest.raises(Exception, match="renderings diverge"):
        df.write.format("txn_table").option(
            "path", str(tmp_path / "t")
        ).option("partition_by", "x").mode("append").save()
    # the agreeing types still pass (date included)
    ok = spark.sql(
        "select 1 as k, date'2026-01-02' as d, true as f, 'x' as s"
    )
    ok.write.format("txn_table").option("path", str(tmp_path / "t2")).option(
        "partition_by", "d,f,s"
    ).mode("append").save()
    m = __import__(
        "tdataframe_spark.sources.txn", fromlist=["txn_latest"]
    ).txn_latest(str(tmp_path / "t2"))[1]
    assert m["files"][0]["partition"] == {
        "d": "2026-01-02", "f": "true", "s": "x"
    }


def test_sink_race_error_names_the_blocker(spark, tmp_path):
    """r11 ADVICE (low): the sink commit-loop's race error carries the
    actual blocker string (constraint, generated column, mapping, or
    mixed layout) instead of hard-coding the constraint/DDL wording."""
    from tdataframe_spark.sources.txn import txn_add_constraint
    from tdataframe_spark.sources.txn_stream import TxnBatchWriter

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 5)], "k long, v long")
    txn_write(df, path)
    w = TxnBatchWriter(df.schema, {"path": path}, "append")
    # the race: a CHECK constraint lands after the writer's guard passed
    txn_add_constraint(spark, path, "v_pos", "v > 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        w._publish_append([], {"sink": "txn_table"})


def test_txn_stream_restart_admission_control(spark, tmp_path):
    """r11 (VERDICT item 6): with a stream_id, the planned end offset
    persists in a sidecar, so even a CLEAN restart's first batches are
    capped — a 4-commit backlog accumulated while the stream was down
    drains in >1 capped micro-batch instead of one giant batch."""
    import glob
    import time

    path, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    txn_write(
        spark.range(3).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append",
    )

    def start():
        return (
            txn_readstream(
                spark, path, max_commits_per_batch=1, stream_id="restart-t"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    def rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start()
    try:
        deadline = time.time() + 120
        while rows() < 3 and time.time() < deadline:
            time.sleep(0.5)
        assert rows() == 3, "seed batch did not drain"
    finally:
        q.stop()
        q.awaitTermination(60)
    # the stream is DOWN; a 4-commit backlog piles up
    for i in range(1, 5):
        txn_write(
            spark.range(i * 10, i * 10 + 3).select(
                "id", (F.col("id") * 2).alias("v")
            ),
            path, mode="append",
        )
    n_before = len([
        b for b in glob.glob(os.path.join(ck, "offsets", "*"))
        if not b.endswith(".tmp")
    ])
    q = start()
    try:
        deadline = time.time() + 120
        while rows() < 15 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(60)
    assert _rows(spark.read.parquet(out)) == _rows(txn_read(spark, path))
    batches = [
        b for b in glob.glob(os.path.join(ck, "offsets", "*"))
        if not b.endswith(".tmp")
    ]
    # the backlog must drain in >1 capped batch after the restart (one
    # offsets entry per commit with cap=1; without the sidecar the whole
    # backlog lands as ONE post-restart batch)
    assert len(batches) - n_before >= 4, (n_before, len(batches))


def test_txn_stream_cdc_replays_across_purge_and_optimize(spark, tmp_path):
    """A purge and an OPTIMIZE rewrite files without changing rows
    (``data_change: false``): a CDC replay streams across both and yields
    exactly the change feed's rows, and the append feed skips them too."""
    from tdataframe_spark.sources.layout import compact_txn
    from tdataframe_spark.sources.txn import (
        txn_change_feed,
        txn_latest,
        txn_purge,
        txn_set_properties,
    )

    path = str(tmp_path / "t")
    txn_write(
        spark.range(6).select("id", (F.col("id") * 2).alias("v")), path
    )                                                   # v1
    txn_set_properties(path, {"cdf.enabled": "true"})   # v2
    txn_delete(spark, path, "id = 1")                   # v3: recorded
    assert txn_purge(spark, path, min_deleted_ratio=0.0) == 4
    compact_txn(spark, path)                            # v5
    txn_write(
        spark.createDataFrame([(7, 14)], "id long, v long"), path
    )                                                   # v6
    assert txn_latest(path)[0] == 6
    cols = ["id", "v", "_change_type", "_commit_version"]
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, path, out, ck, cdc=True)
    want = _rows(txn_change_feed(spark, path, 0).select(*cols))
    assert _rows(spark.read.parquet(out).select(*cols)) == want
    assert ("delete", 3) in {(r[2], r[3]) for r in want}
    # the append feed skips the two maintenance commits the same way
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _run(spark, path, out2, ck2, start_version=3)
    assert _rows(spark.read.parquet(out2)) == [(7, 14)]


def test_txn_stream_packs_a_small_window_into_one_task(
    spark, tmp_path, monkeypatch
):
    """Planning packs the window's files in order into read tasks of at
    most 128 MB (Spark's file-source packing), so a small CDC window of
    appended data files and recorded change files is ONE task, not one
    per file. Driver-only: the reader is planned, never run."""
    from tdataframe_spark.sources import txn_stream
    from tdataframe_spark.sources.txn import (
        _load,
        txn_latest,
        txn_set_properties,
    )

    path = str(tmp_path / "t")
    rows = spark.range(12).select("id", (F.col("id") * 2).alias("v"))
    txn_write(rows.filter("id < 6").repartition(3), path)   # v1
    txn_set_properties(path, {"cdf.enabled": "true"})       # v2
    txn_write(rows.filter("id >= 6").repartition(2), path)  # v3
    txn_delete(spark, path, "id = 1")                       # v4: recorded
    n1 = len(_load(path, 1)["files"])
    n3 = len(txn_latest(path)[1]["files"]) - n1
    n4 = len(_load(path, 4)["cdf"])
    assert n1 > 1 and n3 > 1
    opts = {"path": path, "cdc": "true"}
    reader = txn_stream.TxnStreamReader(
        txn_stream.TxnTableSource(opts).schema(), opts
    )
    parts = reader.partitions({"version": 0}, {"version": 4})
    assert len(parts) == 1
    assert [(kind, v) for _, kind, v in parts[0].slices] == (
        [("insert", 1)] * n1 + [("insert", 3)] * n3 + [("cdf", 4)] * n4
    )
    # the packing bound splits in plan order: a bound below one file's
    # cost gives every slice a task of its own
    monkeypatch.setattr(txn_stream, "_MAX_PARTITION_BYTES", 1)
    split = reader.partitions({"version": 0}, {"version": 4})
    assert [p.slices for p in split] == [[s] for s in parts[0].slices]
