"""Structured Streaming: file source → watermarked windowed agg → sink,
and batch/stream parity of the same expressions."""

import pytest
from pyspark.sql import functions as F

from tdataframe_spark.sources.parquet import read_table
from tdataframe_spark.streaming import (
    run_to_memory_sink,
    stream_from_files,
    windowed_agg,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Write the sf0.001 events (ts as ntz-compatible micros) as a streaming
    input dir of several files."""
    d = str(tmp_path_factory.mktemp("stream_in"))
    ev = read_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    ).drop("ts_us")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_windowed_stream_matches_batch(spark, stream_dir):
    batch = spark.read.parquet(stream_dir)
    stream = stream_from_files(
        spark, stream_dir, batch.schema, max_files_per_trigger=2
    )
    agg = windowed_agg(
        stream,
        "ts",
        "1 hour",
        aggs={"n": F.count(F.lit(1)).cast("long")},
        watermark="30 minutes",
        group_cols=["event_type"],
    )
    name, q = run_to_memory_sink(agg)
    try:
        got = {
            (r["window_start"], r["event_type"]): r["n"]
            for r in spark.sql(f"select * from {name}").collect()
        }
        expect = {
            (r["ws"], r["event_type"]): r["n"]
            for r in batch.groupBy(
                F.window("ts", "1 hour")["start"].alias("ws"), "event_type"
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        # watermark may hold back the trailing window in append mode; all
        # emitted windows must match batch exactly
        assert got, "stream emitted nothing"
        for k, v in got.items():
            assert expect[k] == v
    finally:
        q.stop()


def test_session_window_stream_matches_batch(spark, stream_dir):
    """Native session_window aggregation: emitted (finalized) sessions must
    equal the batch session_window result for the same data."""
    from tdataframe_spark.streaming import session_agg

    batch = spark.read.parquet(stream_dir)
    stream = stream_from_files(
        spark, stream_dir, batch.schema, max_files_per_trigger=2
    )
    agg = session_agg(
        stream,
        "ts",
        gap="30 minutes",
        aggs={"n": F.count(F.lit(1)).cast("long")},
        watermark="30 minutes",
        group_cols=["user_id"],
    )
    name, q = run_to_memory_sink(agg)
    try:
        got = {
            (r["session_start"], r["user_id"]): (r["session_end"], r["n"])
            for r in spark.sql(f"select * from {name}").collect()
        }
        expect = {
            (r["w"]["start"], r["user_id"]): (r["w"]["end"], r["n"])
            for r in batch.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        assert got, "stream emitted no finalized sessions"
        for k, v in got.items():
            assert expect[k] == v
    finally:
        q.stop()


def test_stateful_streaming_sessionize_matches_batch(spark, stream_dir, tmp_path):
    """Custom stateful operator (applyInPandasWithState): streaming session
    counts converge to the batch sessionize() result once all data arrived."""
    from pyspark.sql import functions as F2

    from tdataframe_spark.operators.windows import sessionize
    from tdataframe_spark.streaming.stateful import streaming_session_counts

    batch = spark.read.parquet(stream_dir)
    # no maxFilesPerTrigger: one batch — the file source doesn't deliver
    # event-time order across batches, which gap sessionization requires
    # (see streaming_session_counts ordering contract)
    stream = stream_from_files(spark, stream_dir, batch.schema)
    out = streaming_session_counts(stream, "user_id", "ts", gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # update mode appends one row per user per batch: take the LAST emit
        got = {
            r["user_id"]: r["n_sessions"]
            for r in spark.sql(
                "select user_id, last(n_sessions) as n_sessions from "
                "(select * from sess_state) group by user_id"
            ).collect()
        }
        expect = {
            r["user_id"]: r["n"]
            for r in sessionize(batch, "user_id", "ts", gap_seconds=1800)
            .groupBy("user_id")
            .agg(F2.max("session_id").alias("n"))
            .collect()
        }
        assert got == expect
    finally:
        q.stop()


def test_streaming_dedup(spark, stream_dir, tmp_path):
    """Watermarked streaming dedup: duplicated input collapses to one row
    per key, matching batch distinct."""
    from tdataframe_spark.streaming import dedup_stream

    # build an input dir where every event appears twice
    dup_dir = str(tmp_path / "dup_in")
    batch = spark.read.parquet(stream_dir)
    batch.unionAll(batch).repartition(4).write.mode("overwrite").parquet(dup_dir)

    stream = stream_from_files(spark, dup_dir, batch.schema)
    deduped = dedup_stream(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    name, q = run_to_memory_sink(deduped)
    try:
        got = spark.sql(f"select count(*) as n from {name}").first()["n"]
        assert got == batch.select("event_id").distinct().count()
    finally:
        q.stop()


def test_stream_filter_define_parity(spark, stream_dir):
    """The engine's transformation expressions are mode-agnostic: the same
    filter/define column expressions run on a stream."""
    batch = spark.read.parquet(stream_dir)
    stream = stream_from_files(spark, stream_dir, batch.schema)
    out = (
        stream.filter(F.col("event_type") == "purchase")
        .withColumn("v2", F.col("value") * 2)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v2").alias("s"))
    )
    name, q = run_to_memory_sink(out, mode="complete")
    try:
        # pin the DEFINE output (s = Σ value·2) and the per-user grouping,
        # not just the filtered row count — count parity alone would pass
        # with a broken withColumn
        got = {
            r["user_id"]: (r["n"], round(r["s"], 6))
            for r in spark.sql(f"select user_id, n, s from {name}").collect()
        }
        expect = {
            r["user_id"]: (r["n"], round(r["s"], 6))
            for r in batch.filter("event_type = 'purchase'")
            .withColumn("v2", F.col("value") * 2)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v2").alias("s"))
            .collect()
        }
        # 6-dp rounding absorbs stream-vs-batch double accumulation order
        assert got == expect and sum(n for n, _ in got.values()) > 0
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, stream_dir, tmp_path):
    """Watermarked stream-stream interval join (clicks → purchases within
    1 hour by user): the same stream_stream_join expression runs in batch
    mode (watermarks are a no-op there), and every pair the stream emits
    must be a pair batch computes."""
    from tdataframe_spark.streaming import stream_stream_join

    batch = spark.read.parquet(stream_dir)

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        return clicks, purchases

    bc, bp = sides(batch)
    expect = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_join(
            bc, bp, ["user_id"], "click_ts", "purchase_ts", within="1 hour"
        ).collect()
    }
    assert expect, "batch join produced nothing — fixture too small?"

    stream = stream_from_files(spark, stream_dir, batch.schema)
    sc_, sp_ = sides(stream)
    joined = stream_stream_join(
        sc_, sp_, ["user_id"], "click_ts", "purchase_ts", within="1 hour"
    )
    name, q = run_to_memory_sink(joined)
    try:
        got = {
            (r["click_id"], r["purchase_id"])
            for r in spark.sql(f"select * from {name}").collect()
        }
        assert got, "stream emitted nothing"
        assert got <= expect
        # single-batch file delivery: nothing is late, so emission is total
        assert got == expect
    finally:
        q.stop()

    with pytest.raises(ValueError):
        stream_stream_join(
            bc.withColumn("x", F.lit(1)), bp.withColumn("x", F.lit(1)),
            ["user_id"], "click_ts", "purchase_ts",
        )


def test_kafka_mock_parse_and_dedup(spark, stream_dir, tmp_path):
    """Kafka wiring without a broker: events serialized to Kafka-shaped
    records (value = JSON binary, timestamp = broker ts), streamed from
    files, parsed with parse_kafka_json, then deduplicated — the full
    ingestion path minus the connector jar."""
    from tdataframe_spark.streaming import dedup_stream, parse_kafka_json

    batch = spark.read.parquet(stream_dir)
    kafka_shaped = batch.unionAll(batch).select(
        F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
        .cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    mock_dir = str(tmp_path / "kafka_mock")
    kafka_shaped.repartition(4).write.mode("overwrite").parquet(mock_dir)

    raw = stream_from_files(
        spark, mock_dir, "value binary, timestamp timestamp"
    )
    typed = parse_kafka_json(
        raw, "event_id bigint, user_id bigint, event_type string, value double"
    )
    deduped = dedup_stream(typed, ["event_id"], ts_col="kafka_ts", watermark="1 hour")
    name, q = run_to_memory_sink(deduped)
    try:
        rows = spark.sql(f"select * from {name}").collect()
        assert len(rows) == batch.count()  # duplicates collapsed
        # pin the full decoded payload per event, not just id presence —
        # a schema/field mixup would otherwise pass
        got = {
            r["event_id"]: (r["user_id"], r["event_type"], r["value"])
            for r in rows
        }
        expect = {
            r["event_id"]: (r["user_id"], r["event_type"], r["value"])
            for r in batch.collect()
        }
        assert got == expect
    finally:
        q.stop()


def test_kafka_reader_is_configured(spark):
    """The reader wiring itself (format/options) is inspectable without the
    connector: building it must not touch Kafka."""
    from tdataframe_spark.streaming import kafka_reader

    reader = kafka_reader(
        spark, "broker:9092", "events", maxOffsetsPerTrigger="1000"
    )
    assert reader._jreader is not None  # configured, unloaded


def test_stream_to_parquet_exactly_once(spark, stream_dir, tmp_path):
    """Durable parquet sink with availableNow: drains the source, writes
    every row exactly once, and a restart with the same checkpoint writes
    nothing new (offsets are committed)."""
    from tdataframe_spark.streaming import stream_to_parquet

    batch = spark.read.parquet(stream_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream = stream_from_files(spark, stream_dir, batch.schema)
    stream_to_parquet(stream.filter(F.col("value") > 0), out, ckpt)
    expect = batch.filter("value > 0").count()
    assert spark.read.parquet(out).count() == expect

    # second run, same checkpoint: no new input → no duplicate rows
    stream2 = stream_from_files(spark, stream_dir, batch.schema)
    stream_to_parquet(stream2.filter(F.col("value") > 0), out, ckpt)
    assert spark.read.parquet(out).count() == expect


def test_stream_upsert_cdc_merge(spark, tmp_path):
    """foreachBatch CDC upsert: a second drain with the same checkpoint
    merges only the new file — same-key rows replaced (last-wins by version
    inside a batch), new keys appended, untouched keys preserved."""
    from tdataframe_spark.sources.txn import txn_read
    from tdataframe_spark.streaming import stream_upsert_to_parquet

    src = tmp_path / "cdc_in"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "k int, v string, ver int").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    schema = "k int, v string, ver int"
    write_batch("b1", [(1, "a", 1), (2, "b", 1)])
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    stream_upsert_to_parquet(stream, out, ckpt, keys=["k"], order_col="ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in txn_read(spark, out).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1)}

    # second CDC batch: update k=2, insert k=3 (with an in-batch stale dup)
    write_batch("b2", [(2, "b2", 2), (3, "c_old", 1), (3, "c", 2)])
    stream2 = spark.readStream.schema(schema).parquet(f"{src}/*")
    stream_upsert_to_parquet(stream2, out, ckpt, keys=["k"], order_col="ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in txn_read(spark, out).collect()}
    assert got == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 2)}


def test_text_pipeline_runs_on_stream(spark, tmp_path):
    """The batch text ops are mode-agnostic: chunk_documents runs unchanged
    on a readStream of the documents table and emits exactly the batch
    result (stateless projection → no watermark needed)."""
    from tdataframe_spark.ops.textstats import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(d)

    stream = spark.readStream.schema(docs.schema).parquet(d)
    chunked = chunk_documents(stream, "doc_id", "text", chunk_size=32, overlap=8)
    name, q = run_to_memory_sink(chunked)
    try:
        got = spark.sql(
            f"select count(*) as c, sum(n_words_chunk) as s from {name}"
        ).first()
        expect = (
            chunk_documents(docs, "doc_id", "text", chunk_size=32, overlap=8)
            .agg(F.count(F.lit(1)).alias("c"), F.sum("n_words_chunk").alias("s"))
            .first()
        )
        assert (got["c"], got["s"]) == (expect["c"], expect["s"])
    finally:
        q.stop()


def test_transform_with_state_running_totals(spark, stream_dir):
    """Spark-4 typed-state operator: after the stream drains, each user's
    last emitted running (n, total) must equal the batch aggregate.

    transformWithStateInPandas drives its worker over a protobuf channel;
    skip where the google.protobuf python package is absent/broken (this
    sandbox) — the applyInPandasWithState operators cover stateful
    streaming there."""
    import pytest as _pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        _pytest.skip("google.protobuf unavailable: transformWithState needs it")
    from pyspark.sql import functions as F

    from tdataframe_spark.streaming import run_to_memory_sink, stream_from_files
    from tdataframe_spark.streaming.stateful import streaming_running_totals

    batch = spark.read.parquet(stream_dir)
    stream = stream_from_files(
        spark, stream_dir, batch.schema, max_files_per_trigger=2
    )
    result = streaming_running_totals(stream)
    name, q = run_to_memory_sink(result, mode="update")
    try:
        # memory sink in update mode appends one row per user per batch,
        # with NO scan-order contract — select each user's final state by
        # its monotone running count (n strictly grows per update), never
        # by collect() iteration order
        rows = spark.sql(f"select * from {name}").collect()
        last = {}
        for r in rows:
            if r["user_id"] not in last or r["n"] > last[r["user_id"]][0]:
                last[r["user_id"]] = (r["n"], r["total"])
        expect = {
            r["user_id"]: (r["n"], r["total"])
            for r in batch.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("value").alias("total"),
            )
            .collect()
        }
        assert set(last) == set(expect)
        for u, (n, total) in expect.items():
            assert last[u][0] == n
            assert last[u][1] == _pytest.approx(total, rel=1e-9)
    finally:
        q.stop()


def test_stateful_sessionize_string_keys_and_custom_name(spark, stream_dir, tmp_path):
    """The state operator must carry the caller's key column name and type
    (string user ids crashed the long-typed output schema)."""
    import pandas as pd

    from tdataframe_spark.streaming import run_to_memory_sink
    from tdataframe_spark.streaming.stateful import streaming_session_counts

    src = str(tmp_path / "sess_in")
    rows = [("alice", i * 10_000_000) for i in range(3)] + [
        ("alice", 10_000_000_000_000),
        ("bob", 0),
    ]
    df = spark.createDataFrame(rows, "uid string, ts_us long").withColumn(
        "ts", (F.col("ts_us") / 1_000_000).cast("timestamp")
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_session_counts(stream, "uid", "ts", gap_seconds=1800)
    assert out.schema["uid"].dataType.simpleString() == "string"
    name, q = run_to_memory_sink(out, mode="update")
    try:
        got = {
            r["uid"]: r["n_sessions"]
            for r in spark.sql(f"select * from {name}").collect()
        }
        assert got == {"alice": 2, "bob": 1}
    finally:
        q.stop()


def test_stream_cms_refresh_matches_batch_sketch(spark, stream_dir, tmp_path):
    """The streamed sketch must equal a one-shot batch build over the
    same data EXACTLY (CMS merge law). Replay and foreign-checkpoint
    refusal: test_exactly_once.py."""
    from tdataframe_spark.functions.sketches import cms_build, cms_query
    from tdataframe_spark.sources.txn import txn_read
    from tdataframe_spark.streaming import stream_cms_refresh, stream_from_files

    batch = spark.read.parquet(stream_dir)
    path = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "cms_ckpt")
    stream = stream_from_files(
        spark, stream_dir, batch.schema, max_files_per_trigger=2
    )
    stream_cms_refresh(
        stream.select("event_type"), path, ckpt, "event_type",
        depth=3, width=64,
    )

    items = batch.select("event_type").distinct()
    streamed = {
        r["event_type"]: r["est"]
        for r in cms_query(
            txn_read(spark, f"{path}/sketch"), items, "event_type"
        ).collect()
    }
    oneshot = {
        r["event_type"]: r["est"]
        for r in cms_query(
            cms_build(batch.select("event_type"), "event_type", depth=3, width=64),
            items,
            "event_type",
        ).collect()
    }
    assert streamed == oneshot and sum(streamed.values()) > 0


def test_stream_hll_refresh_matches_batch_estimates(spark, stream_dir, tmp_path):
    """The streamed per-group sketch table must estimate exactly like a
    one-shot grouped build over the same data (identical value sets at
    this cardinality). Replay and foreign-checkpoint refusal:
    test_exactly_once.py."""
    from tdataframe_spark.functions.sketches import hll_estimate
    from tdataframe_spark.sources.txn import txn_read
    from tdataframe_spark.streaming import stream_from_files, stream_hll_refresh

    batch = spark.read.parquet(stream_dir)
    path = str(tmp_path / "hll_state")
    stream_hll_refresh(
        stream_from_files(spark, stream_dir, batch.schema, max_files_per_trigger=2)
        .select("event_type", "user_id"),
        path, str(tmp_path / "hll_ckpt"), "user_id", group_cols=["event_type"],
    )
    got = {
        r["event_type"]: r["e"]
        for r in txn_read(spark, f"{path}/sketches")
        .select("event_type", hll_estimate(F.col("sketch")).alias("e"))
        .collect()
    }
    from tdataframe_spark.functions.sketches import grouped_distinct_sketches

    want = {
        r["event_type"]: r["e"]
        for r in grouped_distinct_sketches(batch, ["event_type"], "user_id")
        .select("event_type", hll_estimate(F.col("sketch")).alias("e"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k in exact:  # both paths within HLL 2-sigma of truth
        for est in (got[k], want[k]):
            assert abs(est - exact[k]) / max(exact[k], 1) < 0.06, (k, est, exact[k])


def test_stream_topk_refresh_matches_batch(spark, stream_dir, tmp_path):
    """The streamed leaderboard must equal the one-shot batch top-k over
    all data. Replay and foreign-checkpoint refusal:
    test_exactly_once.py."""
    from tdataframe_spark.operators.windows import top_per_group
    from tdataframe_spark.sources.txn import txn_read
    from tdataframe_spark.streaming import stream_from_files, stream_topk_refresh

    batch = spark.read.parquet(stream_dir)
    path = str(tmp_path / "lb_state")
    stream_topk_refresh(
        stream_from_files(spark, stream_dir, batch.schema, max_files_per_trigger=2)
        .select("event_type", "event_id", "value"),
        path, str(tmp_path / "lb_ckpt"), ["event_type"], "value", k=5,
        tie_cols=["event_id"],
    )
    got = {
        (r["event_type"], r["event_id"], r["value"])
        for r in txn_read(spark, f"{path}/topk").collect()
    }
    want = {
        (r["event_type"], r["event_id"], r["value"])
        for r in top_per_group(
            batch.select("event_type", "event_id", "value"),
            ["event_type"],
            [F.col("value").desc(), F.col("event_id").asc()],
            k=5,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_dds_refresh_matches_batch_sketch(spark, stream_dir, tmp_path):
    """The streamed quantile sketch must equal a one-shot batch build
    over the same data EXACTLY (DDSketch buckets are plain counts).
    Replay and foreign-checkpoint refusal: test_exactly_once.py."""
    from tdataframe_spark.functions.sketches import dds_build, dds_quantiles
    from tdataframe_spark.sources.txn import txn_read
    from tdataframe_spark.streaming import stream_dds_refresh, stream_from_files

    batch = spark.read.parquet(stream_dir)
    path = str(tmp_path / "dds_state")
    ckpt = str(tmp_path / "dds_ckpt")
    stream = stream_from_files(
        spark, stream_dir, batch.schema, max_files_per_trigger=2
    )
    stream_dds_refresh(
        stream.select("value"), path, ckpt, "value", alpha=0.02
    )
    qs = [0.25, 0.5, 0.95]
    streamed = {
        r["q"]: r["est"]
        for r in dds_quantiles(txn_read(spark, f"{path}/sketch"), qs).collect()
    }
    oneshot = {
        r["q"]: r["est"]
        for r in dds_quantiles(
            dds_build(batch.select("value"), "value", alpha=0.02), qs
        ).collect()
    }
    assert streamed == oneshot and len(streamed) == 3
