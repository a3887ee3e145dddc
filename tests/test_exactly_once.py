"""Kill-injection tests for the streaming fold sinks' exactly-once
guarantee: simulate a crash AFTER the state change but BEFORE the
streaming checkpoint committed the batch, then restart. The replayed
batch must be skipped — state identical to a one-shot build, and no new
commit on the state's txn table.

The crash is injected the way it happens in production: the sink's
state commit landed, but ``<ckpt>/commits/<N>`` never did, so
Structured Streaming re-runs batch N with the same id on restart. Every
fold sink's state is a txn table, and the per-app watermark its commit
carries (``app_id`` = ``<sink>:<checkpoint id>``, ``app_version`` =
batch id) must fence the replay alone."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _events(spark, n=400):
    return spark.range(n).select(
        (F.col("id") % 7).cast("string").alias("event_type"),
        (F.col("id") * 3_600_000_00).alias("ts_us"),
        (F.col("id") % 13).cast("double").alias("value"),
    )


def _last_commit(ckpt: str) -> str:
    commits = sorted(
        (n for n in os.listdir(os.path.join(ckpt, "commits"))
         if not n.startswith(".")),
        key=int,
    )
    return commits[-1]


def _crash_before_checkpoint_commit(ckpt: str) -> int:
    """Erase the newest checkpoint commit — on restart Structured
    Streaming replays that batch id against the sink."""
    last = _last_commit(ckpt)
    os.unlink(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # Hadoop ChecksumFs sidecar must go with it
        os.unlink(crc)
    return int(last)


def _sketch_sink(spark, kind: str):
    """(run the ``kind`` sink over a stream into ``path``, the state
    table's location under ``path``, one-shot batch build of the same
    state, comparable form of a state table)."""
    from tdataframe_spark.functions import sketches as sk
    from tdataframe_spark.operators.windows import top_per_group
    from tdataframe_spark.streaming import ops

    def rows(df):
        return sorted(sorted(r.asDict().items()) for r in df.collect())

    if kind == "cms":
        return (
            lambda s, p, c: ops.stream_cms_refresh(
                s.select("event_type"), p, c, "event_type", depth=3, width=64
            ),
            "sketch",
            lambda ev: sk.cms_build(ev, "event_type", depth=3, width=64),
            rows,
        )
    if kind == "dds":
        return (
            lambda s, p, c: ops.stream_dds_refresh(
                s.select("value"), p, c, "value", alpha=0.02
            ),
            "sketch",
            lambda ev: sk.dds_build(ev, "value", alpha=0.02),
            rows,
        )
    if kind == "hll":
        return (
            lambda s, p, c: ops.stream_hll_refresh(
                s, p, c, "ts_us", group_cols=["event_type"]
            ),
            "sketches",
            lambda ev: sk.grouped_distinct_sketches(ev, ["event_type"], "ts_us"),
            lambda df: rows(df.select(
                "event_type", sk.hll_estimate(F.col("sketch")).alias("e")
            )),
        )
    order = [F.col("value").desc(), F.col("ts_us").asc()]
    return (
        lambda s, p, c: ops.stream_topk_refresh(
            s, p, c, ["event_type"], "value", k=3, tie_cols=["ts_us"]
        ),
        "topk",
        lambda ev: top_per_group(ev, ["event_type"], order, k=3).drop("rnk"),
        rows,
    )


@pytest.mark.parametrize("kind", ["cms", "dds", "hll", "topk"])
def test_fold_sink_survives_crash_before_checkpoint_commit(spark, tmp_path, kind):
    from tdataframe_spark.sources.txn import txn_latest, txn_read
    from tdataframe_spark.streaming import stream_from_files

    sink, sub, oneshot, canon = _sketch_sink(spark, kind)
    ev = _events(spark)
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    batch_view = spark.read.parquet(src)
    path, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    state = os.path.join(path, sub)

    def run(ck):
        sink(
            stream_from_files(spark, src, batch_view.schema, max_files_per_trigger=1),
            path, ck,
        )

    run(ckpt)
    want = canon(oneshot(batch_view))
    assert canon(txn_read(spark, state)) == want
    v_before, m_before = txn_latest(state)
    replayed = _crash_before_checkpoint_commit(ckpt)
    assert m_before["meta"]["batch_id"] == replayed  # fence rides the commit

    run(ckpt)  # restart: batch `replayed` re-runs; the watermark must fence it
    assert canon(txn_read(spark, state)) == want, "replayed batch re-folded"
    assert txn_latest(state)[0] == v_before, "replay must not create a new commit"

    with pytest.raises(Exception, match="owned by checkpoint"):
        run(str(tmp_path / "other_ckpt"))
    assert txn_latest(state)[0] == v_before


def test_fold_state_refuses_plain_parquet(spark, tmp_path):
    """Plain parquet left at a fold sink's state path (a pre-txn sketch
    or day-partitioned rollup) is refused with the migration named, and
    stays as it was: a first txn commit there would shadow its rows."""
    from tdataframe_spark.functions.sketches import cms_build
    from tdataframe_spark.ops.rollup import build_rollup
    from tdataframe_spark.sources.txn import is_txn_table
    from tdataframe_spark.streaming import stream_cms_refresh, stream_from_files

    ev = _events(spark)
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    path = str(tmp_path / "cms")
    cms_build(ev, "event_type", depth=3, width=64).write.parquet(f"{path}/sketch")
    stream = stream_from_files(spark, src, ev.schema)
    with pytest.raises(Exception, match="migrate it with txn_write"):
        stream_cms_refresh(
            stream.select("event_type"), path, str(tmp_path / "ckpt"),
            "event_type", depth=3, width=64,
        )
    assert not is_txn_table(f"{path}/sketch")

    rollup = str(tmp_path / "rollup")
    ev.withColumn("day", F.lit(0)).write.partitionBy("day").parquet(rollup)
    with pytest.raises(ValueError, match="migrate it with txn_write"):
        build_rollup(ev, rollup, group_cols=["event_type"])
    assert not is_txn_table(rollup)


def test_rollup_sink_survives_crash_before_checkpoint_commit(spark, tmp_path):
    from tdataframe_spark.ops.rollup import build_rollup, serve_rollup
    from tdataframe_spark.sources.txn import txn_latest
    from tdataframe_spark.streaming import stream_from_files, stream_rollup_refresh

    ev = _events(spark)
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    batch_view = spark.read.parquet(src)
    path, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def run():
        stream = stream_from_files(
            spark, src, batch_view.schema, max_files_per_trigger=1
        )
        stream_rollup_refresh(stream, path, ckpt, group_cols=["event_type"])

    run()
    full = str(tmp_path / "full")
    build_rollup(ev, full, group_cols=["event_type"])

    def served(p):
        return sorted(
            tuple(r) for r in serve_rollup(spark, p, ["event_type"]).collect()
        )

    assert served(path) == served(full)
    v_before, m_before = txn_latest(path)
    replayed = _crash_before_checkpoint_commit(ckpt)
    assert m_before["meta"]["batch_id"] == replayed  # fence rides the commit

    run()  # restart: the watermark must skip the replayed batch
    assert served(path) == served(full), "replayed batch re-folded the rollup"
    v_after, _ = txn_latest(path)
    assert v_after == v_before, "replay must not create a new commit"


def test_upsert_txn_sink_is_exactly_once_and_snapshot_isolated(spark, tmp_path):
    from tdataframe_spark.sources.txn import txn_latest, txn_read
    from tdataframe_spark.streaming import stream_from_files, stream_upsert_to_parquet

    # one file per CDC wave with strictly increasing mtimes: upsert's
    # last-wins is within-batch only, so the test must pin which wave
    # lands in which micro-batch (repartition() would scatter versions
    # across files in listing-order-dependent ways — a real flake)
    import glob
    import shutil

    waves = [
        [(1, "a", 10), (2, "b", 10)],
        [(1, "a2", 20), (3, "c", 20)],
        [(2, "b2", 30)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows_ in enumerate(waves):
        d = str(tmp_path / f"wave{i}")
        spark.createDataFrame(rows_, "k int, v string, ver int").coalesce(
            1
        ).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dest = os.path.join(src, f"wave-{i}.parquet")
        shutil.copyfile(part, dest)
        os.utime(dest, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    batch_view = spark.read.parquet(src)
    path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def run():
        stream = stream_from_files(
            spark, src, batch_view.schema, max_files_per_trigger=1
        )
        stream_upsert_to_parquet(stream, path, ckpt, keys=["k"], order_col="ver")

    run()
    final = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert final == {1: "a2", 2: "b2", 3: "c"}  # last version per key wins

    v_before, _ = txn_latest(path)
    # r11: the sink also records an (app_id, batch_id) watermark so the
    # fence's check-then-merge is atomic against a racing twin
    from tdataframe_spark.streaming.ops import _ckpt_id
    from tdataframe_spark.sources.txn import txn_app_version

    assert txn_app_version(path, f"cdc_upsert:{_ckpt_id(ckpt)}") == 2
    _crash_before_checkpoint_commit(ckpt)
    run()  # replay fenced by the watermark
    assert {r["k"]: r["v"] for r in txn_read(spark, path).collect()} == final
    assert txn_latest(path)[0] == v_before

    # a foreign checkpoint's batch ids would collide with the owner's
    other = stream_from_files(spark, src, batch_view.schema, max_files_per_trigger=1)
    with pytest.raises(Exception, match="owned by checkpoint"):
        stream_upsert_to_parquet(
            other, path, str(tmp_path / "other_ckpt"), keys=["k"], order_col="ver"
        )
    assert txn_latest(path)[0] == v_before

    # snapshot isolation: version 1 (first micro-batch's merge) is intact
    assert txn_read(spark, path, version=1).count() > 0


def test_stream_upsert_delete_arm(spark, tmp_path):
    """Streaming MERGE with tombstones: a CDC stream carrying updates,
    inserts, AND deletes (delete_when) applies each micro-batch as one
    atomic commit — deleted keys vanish, unmatched tombstones no-op."""
    import glob
    import os as _os
    import shutil

    from tdataframe_spark.sources.txn import txn_read, txn_write
    from tdataframe_spark.streaming import (
        stream_from_files, stream_upsert_to_parquet,
    )

    path, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    txn_write(
        spark.createDataFrame(
            [(1, "a", 0, 0), (2, "b", 0, 0), (3, "c", 0, 0)],
            "k int, v string, ver int, del int",
        ),
        path, mode="overwrite",
    )
    waves = [
        [(1, "a2", 1, 0), (4, "d", 1, 0)],          # update + insert
        [(2, "x", 2, 1), (99, "zz", 2, 1)],          # delete + no-op tomb
    ]
    src = str(tmp_path / "src")
    _os.makedirs(src)
    for i, rows_ in enumerate(waves):
        d = str(tmp_path / f"w{i}")
        spark.createDataFrame(
            rows_, "k int, v string, ver int, del int"
        ).coalesce(1).write.parquet(d)
        f = glob.glob(_os.path.join(d, "*.parquet"))[0]
        dest = _os.path.join(src, f"w{i}.parquet")
        shutil.copy(f, dest)
        _os.utime(dest, (i, i))  # deterministic listing order

    schema = spark.read.parquet(src).schema
    stream = stream_from_files(spark, src, schema, max_files_per_trigger=1)
    stream_upsert_to_parquet(
        stream, path, ckpt, keys=["k"], order_col="ver", delete_when="del = 1",
    )
    got = {r["k"]: r["v"] for r in txn_read(spark, path).collect()}
    assert got == {1: "a2", 3: "c", 4: "d"}  # 2 deleted, 99 no-op


def test_phash_index_stream_is_exactly_once(spark, tmp_path):
    """Streaming media ingestion into the image near-dup index: each
    micro-batch appends its signatures as one batch-id-fenced txn
    commit; a crash before the checkpoint commit replays the batch and
    the fence must skip it (no duplicate index rows, no new commit);
    later arrivals append; match_phash_index reads the txn index."""
    import numpy as np

    from tdataframe_spark.ops.multimodal import (
        match_phash_index,
        phash_images,
    )
    from tdataframe_spark.sources.txn import txn_latest, txn_read
    from tdataframe_spark.streaming import (
        stream_from_files,
        stream_media_to_phash_index,
    )

    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]

    def img(k):
        return np.stack(
            [(xx * (k * 13 % 200 + 5)) % 256, (yy * (k + 3) * 7) % 256,
             ((xx + yy * k) % 97 * 2.6)],
            axis=2,
        ).astype(np.uint8)

    def p6(a):
        return bytearray(f"P6\n{w} {h}\n255\n".encode() + a.tobytes())

    src = str(tmp_path / "src")
    media = spark.createDataFrame(
        [(k, "image/ppm", p6(img(k))) for k in range(6)],
        "media_id long, kind string, payload binary",
    )
    media.repartition(3).write.parquet(src)
    batch_view = spark.read.parquet(src)
    idx, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")

    def run():
        stream = stream_from_files(
            spark, src, batch_view.schema, max_files_per_trigger=1
        )
        stream_media_to_phash_index(stream, idx, ckpt)

    run()

    def index_rows():
        return sorted(
            tuple(r) for r in txn_read(spark, idx).collect()
        )

    oneshot = sorted(
        tuple(r)
        for r in phash_images(batch_view).filter("ok")
        .select("media_id", "phash").collect()
    )
    assert index_rows() == oneshot
    v_before, m_before = txn_latest(idx)
    replayed = _crash_before_checkpoint_commit(ckpt)
    assert m_before["meta"]["batch_id"] == replayed  # fence rides the commit

    run()  # restart: the watermark must skip the replayed batch
    assert index_rows() == oneshot, "replayed batch double-appended"
    v_after, _ = txn_latest(idx)
    assert v_after == v_before, "replay must not create a new commit"

    # a genuinely new arrival appends, and matching reads the txn index
    spark.createDataFrame(
        [(100, "image/jpeg", p6(img(2)))],  # near-dup of corpus 2
        "media_id long, kind string, payload binary",
    ).write.mode("append").parquet(src)
    run()
    assert len(index_rows()) == 7
    probe = spark.createDataFrame(
        [(500, "image/ppm", p6(np.clip(
            img(2).astype(np.int16) + 8, 0, 255).astype(np.uint8)))],
        "media_id long, kind string, payload binary",
    )
    got = {(r["id_a"], r["id_b"]) for r in match_phash_index(probe, idx).collect()}
    assert {(500, 2), (500, 100)} <= got


def test_afp_index_stream_folds_and_matches(spark, tmp_path):
    """The audio twin of the streaming index sink: batches fold into the
    txn fingerprint index exactly once (same fence), and
    match_afp_index reads the txn index directly."""
    import struct

    import numpy as np

    from tdataframe_spark.ops.multimodal import match_afp_index
    from tdataframe_spark.sources.txn import txn_latest, txn_read
    from tdataframe_spark.streaming import (
        stream_from_files,
        stream_media_to_afp_index,
    )

    rate, n_fft = 8000, 256

    def clip(k):
        n = int(rate * 1.2)
        t = np.arange(n, dtype=np.float64)
        seg = np.minimum((t / n * 9).astype(int), 8)
        b = 6 + ((k * 17 + seg * (29 + 7 * k)) % 110)
        return 0.55 * np.sin(2 * np.pi * b * t / n_fft)

    def wav(x):
        data = (x * 32767).astype("<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        ch = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        ch += b"data" + struct.pack("<I", len(data)) + data
        return bytearray(b"RIFF" + struct.pack("<I", 4 + len(ch)) + b"WAVE" + ch)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(k, "audio/wav", wav(clip(k))) for k in range(4)],
        "media_id long, kind string, payload binary",
    ).repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    idx, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")

    def run():
        stream_media_to_afp_index(
            stream_from_files(spark, src, schema, max_files_per_trigger=1),
            idx, ckpt,
        )

    run()
    assert txn_read(spark, idx).count() == 4
    v, _ = txn_latest(idx)
    run()  # nothing new: no batch, no commit
    assert txn_latest(idx)[0] == v and txn_read(spark, idx).count() == 4
    probe = spark.createDataFrame(
        [(500, "audio/wav", wav(clip(2) * 0.5))],  # gain copy of corpus 2
        "media_id long, kind string, payload binary",
    )
    got = {(r["id_a"], r["id_b"]) for r in match_afp_index(probe, idx).collect()}
    assert got == {(500, 2)}
