"""Incremental time-bucket rollup: refresh == full recompute (bit-exact via
decimal partials), and a refresh touches only the day partitions its batch
covers."""

from pyspark.sql import functions as F

from tdataframe_spark.ops.rollup import (
    DAY_US,
    HOUR_US,
    build_rollup,
    refresh_rollup,
    serve_rollup,
)
from tdataframe_spark.sources.parquet import read_table
from tdataframe_spark.sources.txn import txn_latest

SF = "/root/testdata/sf0.001"


def _events(spark):
    return read_table(spark, SF, "events").select("ts_us", "event_type", "value")


def _served(spark, path):
    return {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"], r["avg_value"])
        for r in serve_rollup(spark, path, ["event_type"]).collect()
    }


def test_incremental_refresh_equals_full_recompute(spark, tmp_path):
    ev = _events(spark)
    cut = ev.agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ts_us)")).collect()[0][0]
    first, second = ev.where(F.col("ts_us") <= cut), ev.where(F.col("ts_us") > cut)

    inc = str(tmp_path / "inc")
    build_rollup(first, inc, group_cols=["event_type"])
    days = refresh_rollup(second, inc, group_cols=["event_type"])
    assert days  # the second half touches at least one day

    full = str(tmp_path / "full")
    build_rollup(ev, full, group_cols=["event_type"])
    assert _served(spark, inc) == _served(spark, full)


def test_refresh_rewrites_only_touched_days(spark, tmp_path):
    ev = _events(spark)
    path = str(tmp_path / "state")
    build_rollup(ev, path, group_cols=["event_type"])

    days = sorted(
        r["day"]
        for r in ev.select(F.expr(f"ts_us div {DAY_US}").cast("long").alias("day"))
        .distinct()
        .collect()
    )
    assert len(days) >= 2, "fixture needs multiple days"
    untouched, touched = days[0], days[-1]

    def files_of(day):
        return {
            f["path"] for f in txn_latest(path)[1]["files"]
            if f["partition"]["day"] == str(day)
        }

    before_untouched, before_touched = files_of(untouched), files_of(touched)
    # materialize the batch: limit() on an unordered frame is evaluated
    # nondeterministically, and this batch is consumed TWICE (refresh +
    # the full-recompute comparison below)
    batch_rows = (
        ev.where(F.expr(f"ts_us div {DAY_US}") == touched).limit(50).collect()
    )
    batch = spark.createDataFrame(batch_rows, ev.schema)
    assert refresh_rollup(batch, path, group_cols=["event_type"]) == [touched]
    assert files_of(untouched) == before_untouched  # pruned: never rewritten
    assert files_of(touched) and not files_of(touched) & before_touched

    # and the merged state still serves the exact combined aggregate
    full = str(tmp_path / "full2")
    build_rollup(ev.unionByName(batch), full, group_cols=["event_type"])
    assert _served(spark, path) == _served(spark, full)


def test_rollup_merge_is_order_independent(spark, tmp_path):
    ev = _events(spark)
    a = ev.where(F.col("ts_us") % 3 == 0)
    b = ev.where(F.col("ts_us") % 3 == 1)
    c = ev.where(F.col("ts_us") % 3 == 2)

    p1 = str(tmp_path / "abc")
    build_rollup(a, p1, group_cols=["event_type"])
    refresh_rollup(b, p1, group_cols=["event_type"])
    refresh_rollup(c, p1, group_cols=["event_type"])

    p2 = str(tmp_path / "cba")
    build_rollup(c, p2, group_cols=["event_type"])
    refresh_rollup(b, p2, group_cols=["event_type"])
    refresh_rollup(a, p2, group_cols=["event_type"])

    assert _served(spark, p1) == _served(spark, p2)


def test_stream_rollup_refresh_matches_batch(spark, tmp_path):
    """Drain a file stream through the rollup sink in several micro-batches;
    the served aggregate must equal a one-shot batch build. A DIFFERENT
    checkpoint lineage must be refused loudly: its batch ids would collide
    with the owner's watermark (silent skip) or re-fold the whole source
    (double count) — both silent corruptions without the ownership check."""
    import pytest

    from tdataframe_spark.streaming import stream_from_files, stream_rollup_refresh

    ev = _events(spark)
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    state = str(tmp_path / "state")
    batch_view = spark.read.parquet(src)
    stream = stream_from_files(spark, src, batch_view.schema, max_files_per_trigger=1)
    stream_rollup_refresh(
        stream, state, str(tmp_path / "ckpt1"), group_cols=["event_type"]
    )

    full = str(tmp_path / "full")
    build_rollup(ev, full, group_cols=["event_type"])
    assert _served(spark, state) == _served(spark, full)

    # a foreign checkpoint against the owned rollup path must fail loudly
    stream2 = stream_from_files(spark, src, batch_view.schema, max_files_per_trigger=1)
    with pytest.raises(Exception) as ei:
        stream_rollup_refresh(
            stream2, state, str(tmp_path / "ckpt2"), group_cols=["event_type"]
        )
    assert "owned by checkpoint" in str(ei.value)
    # the owned state is untouched by the refused stream
    assert _served(spark, state) == _served(spark, full)

    # re-running the OWNER checkpoint is a clean no-op (offsets drained)
    stream3 = stream_from_files(spark, src, batch_view.schema, max_files_per_trigger=1)
    stream_rollup_refresh(
        stream3, state, str(tmp_path / "ckpt1"), group_cols=["event_type"]
    )
    assert _served(spark, state) == _served(spark, full)
