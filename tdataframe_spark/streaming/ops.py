"""Structured Streaming operators.

The reference is batch-only (one event loop over a TTree, SURVEY.md §2.2
"Streaming: absent"); this module provides the streaming surface a pipeline
engine needs, built on Spark Structured Streaming so batch operators stay
reusable: the same DataFrame expressions run in either mode.

Scale notes: watermarks bound state for late data; windowed aggregations are
partial+final like any hash agg; file sources scale by listing — at real
scale swap for Kafka/queue sources, which is a one-line change at the
``readStream`` boundary (the transformations are mode-agnostic).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_from_files(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (each new file = new micro-batch data).

    Streaming sources require an explicit schema — pass the batch table's
    ``df.schema`` for parity between modes.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_agg(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: dict[str, F.Column] | None = None,
    watermark: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation: the canonical late-data-safe
    streaming aggregate. ``aggs`` maps output name → aggregate expression;
    defaults to a row count."""
    aggs = aggs or {"n": F.count(F.lit(1))}
    keys = [F.window(F.col(ts_col), window_duration)] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(*[e.alias(n) for n, e in aggs.items()])
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(group_cols or []),
            *aggs.keys(),
        )
    )


def session_agg(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    aggs: dict[str, F.Column] | None = None,
    watermark: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Native session-window aggregation (``F.session_window``): windows
    grow while events keep arriving within ``gap`` of the previous one and
    close after a silence — Spark merges overlapping session state per key,
    and the watermark finalizes (and evicts) sessions once no earlier data
    can arrive. This is the built-in counterpart of the
    ``applyInPandasWithState`` sessionizer in ``streaming/stateful.py``
    (use that one when per-session logic goes beyond aggregates).

    Identical expression works in batch mode — parity-tested both ways.
    """
    aggs = aggs or {"n": F.count(F.lit(1))}
    keys = [F.session_window(F.col(ts_col), gap)] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(*[e.alias(n) for n, e in aggs.items()])
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *(group_cols or []),
            *aggs.keys(),
        )
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication by key.

    With ``ts_col``, uses ``dropDuplicatesWithinWatermark`` so per-key state
    is EVICTED once the watermark passes — bounded state, the only shape
    that survives an unbounded 100 TB stream. Without a ts column, plain
    ``dropDuplicates`` keeps state forever (test/finite streams only).
    """
    if ts_col is not None:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return stream.dropDuplicates(key_cols)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: rows match when the keys are equal
    AND ``right_ts`` falls in [left_ts, left_ts + within].

    Both sides get watermarks and the time bound lives in the join
    condition — the combination Structured Streaming requires to EVICT join
    state (without it, both sides' state grows forever; the unbounded-stream
    killer). Output = left columns + right's non-key columns, so the two
    ``ts`` column names must differ.

    The same expression shape works in batch mode for parity testing.
    """
    overlap = (set(left.columns) & set(right.columns)) - set(on)
    if overlap:
        raise ValueError(
            f"non-key columns {sorted(overlap)} exist on both sides; rename "
            "before joining (output keeps left.* + right's non-key columns)"
        )
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    key_cond = " AND ".join(f"l.{k} = r.{k}" for k in on)
    time_cond = (
        f"r.{right_ts} >= l.{left_ts} AND "
        f"r.{right_ts} <= l.{left_ts} + INTERVAL {within}"
    )
    joined = l.join(r, F.expr(f"{key_cond} AND {time_cond}"), how)
    return joined.select("l.*", *[f"r.{c}" for c in right.columns if c not in on])


def kafka_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    **options: str,
):
    """Configured (unloaded) Kafka streaming reader. Split from
    ``stream_from_kafka`` so the wiring is testable without the Kafka
    connector jar (not shipped in every Spark build)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader


def stream_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    **options: str,
) -> DataFrame:
    """Kafka streaming source (raw Kafka schema: key/value binary + topic,
    partition, offset, timestamp). Compose with ``parse_kafka_json`` to get
    typed rows. Requires the spark-sql-kafka connector on the classpath."""
    return kafka_reader(
        spark, bootstrap_servers, topics, starting_offsets, **options
    ).load()


def parse_kafka_json(
    raw: DataFrame, schema: StructType | str, ts_col: str = "kafka_ts"
) -> DataFrame:
    """Decode Kafka-shaped records (``value`` binary JSON) into typed
    columns + the broker timestamp. Works identically on a real Kafka
    stream and on any mock frame with (value binary, timestamp) — which is
    how the wiring is tested without a broker."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("__j"),
        F.col("timestamp").alias(ts_col),
    ).select("__j.*", ts_col)


def stream_to_parquet(
    result: DataFrame,
    path: str,
    checkpoint: str,
    mode: str = "append",
    available_now: bool = True,
):
    """Durable streaming sink: parquet files + checkpointed offsets =
    exactly-once file output (the production counterpart of the memory
    sink). ``available_now=True`` drains everything currently available
    then stops — the batch-refresh pattern; ``False`` runs continuously
    until the caller stops the returned query."""
    w = (
        result.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q


def _ckpt_id(checkpoint: str) -> str:
    import hashlib
    import os

    return hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:12]


def _txn_app(state_path: str, checkpoint: str, what: str) -> str:
    """The ``app_id`` of a fold sink, whose state is a transactional
    table: ``what:<checkpoint id>``. Passed to the commit with
    ``app_version=batch_id``, the table's per-app watermark skips a
    replayed batch inside the commit loop, atomically. Batch ids only
    order batches within one checkpoint, so a head that already records
    a ``what`` writer from another checkpoint is refused."""
    from tdataframe_spark.sources.txn import txn_latest

    app = f"{what}:{_ckpt_id(checkpoint)}"
    for other in (txn_latest(state_path)[1] or {}).get("apps", {}):
        if other.startswith(f"{what}:") and other != app:
            raise ValueError(
                f"{what} at {state_path} is owned by checkpoint "
                f"{other.split(':', 1)[1]}; refusing to fold stream "
                f"{app.split(':', 1)[1]} into it — reuse the original "
                "checkpoint or build a fresh state path"
            )
    return app


def _fold_sketch(
    state: str, checkpoint: str, what: str, batch_id: int, first, merge
) -> None:
    """Fold one micro-batch into a whole-table sketch state: commit
    ``first`` (the batch's own sketch) on the first batch, else
    ``merge(current)`` over the version read, as ONE overwrite commit
    pinned to that version and fenced by the per-app watermark
    (``_txn_app``) — a replayed batch commits nothing. Plain parquet
    state at ``state`` is refused, not shadowed. Superseded versions
    stay until ``txn_vacuum``."""
    from tdataframe_spark.sources.txn import (
        _refuse_plain_table, txn_latest, txn_read, txn_write,
    )

    app = _txn_app(state, checkpoint, what)
    version, head = txn_latest(state)
    if head is None:
        _refuse_plain_table(state, f"the {what} sink")
        out = first
    else:
        out = merge(txn_read(first.sparkSession, state, version=version))
    txn_write(
        out, state, mode="overwrite", expected_version=version,
        meta={"sink": what, "batch_id": batch_id},
        app_id=app, app_version=batch_id,
    )


def _run_foreach_batch(result: DataFrame, fn, checkpoint: str, available_now: bool):
    """Shared writeStream plumbing for the foreachBatch sinks: update-mode
    stream with a checkpoint; availableNow drains the backlog and blocks
    until done."""
    w = (
        result.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q


def stream_upsert_to_parquet(
    result: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    order_col: str | None = None,
    available_now: bool = True,
    delete_when: str | None = None,
):
    """Streaming CDC upsert: each micro-batch is MERGEd into the keyed
    transactional table at ``path`` (``sources/txn.py``) via
    ``foreachBatch`` — batch rows replace same-key rows, new keys
    append. Within a batch, ``order_col`` picks the winning version per
    key (last-wins); without it, batches are assumed key-unique.

    Each merge is ``txn_upsert``: one atomic commit that records the
    batch id in the table's per-app watermark (``_txn_app``), giving
    exactly-once under crash AND snapshot-isolated concurrent readers
    (read the state with ``txn_read``). A plain parquet table at
    ``path`` is refused, not shadowed. Superseded versions stay until
    ``txn_vacuum``.

    ``delete_when``: SQL predicate over the batch columns marking
    TOMBSTONES — the streaming GDPR/retention delete arm, forwarded to
    ``txn_upsert``'s WHEN MATCHED DELETE semantics so one stream
    carries updates, inserts, and deletes, each micro-batch one atomic
    commit.
    """
    from tdataframe_spark.sources.txn import txn_upsert

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # ONE MERGE implementation — txn_upsert owns the order_col
        # last-wins dedup too; the watermark skips a replayed batch
        txn_upsert(
            batch, path, keys, order_col=order_col,
            meta={"sink": "cdc_upsert", "batch_id": batch_id},
            delete_when=delete_when,
            app_id=_txn_app(path, checkpoint, "cdc_upsert"),
            app_version=batch_id,
        )

    return _run_foreach_batch(result, _merge, checkpoint, available_now)


def run_to_memory_sink(
    result: DataFrame, query_name: str | None = None, mode: str = "append"
) -> tuple[str, object]:
    """Start the stream into an in-memory table (test/debug sink), process
    everything currently available, and return (table_name, query handle).
    Caller stops the query."""
    name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    return name, q


def stream_rollup_refresh(
    events: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str = "value",
    bucket_us: int = 3600 * 1_000_000,
    group_cols: list[str] | None = None,
    available_now: bool = True,
):
    """Streaming continuous aggregate: every micro-batch folds into the
    persisted time-bucket rollup — reads and rewrites only the day
    partitions the batch touches, so sink cost tracks the batch, not
    history.

    Exactly-once: the state is a transactional table (``sources/txn.py``,
    read it with ``serve_rollup``) and every refresh — including the
    multi-day partition replacement — is ONE atomic commit that records
    the batch id in the table's per-app watermark. A replayed batch
    (foreachBatch is at-least-once after a crash) finds its id at or
    below the watermark on the head and commits nothing; because the id
    becomes visible atomically WITH the state change, there is no crash
    instant where the fold happened but the watermark doesn't know it.
    Superseded versions stay until ``txn_vacuum``.

    The rollup path is OWNED by one checkpoint lineage: batch ids only
    identify batches within the checkpoint that produced them, so folding
    a different checkpoint's stream into existing state would either
    silently skip (id collision) or double-count (full source replay).
    The owner is the checkpoint whose watermark the state records; a
    mismatch raises instead. A plain-directory rollup at ``path`` is
    refused, not shadowed.
    """
    from tdataframe_spark.ops.rollup import build_rollup, refresh_rollup
    from tdataframe_spark.sources.txn import is_txn_table

    def _apply(batch: DataFrame, batch_id: int) -> None:
        fold = refresh_rollup if is_txn_table(path) else build_rollup
        fold(
            batch, path, value_col, bucket_us, group_cols,
            meta={"sink": "rollup", "batch_id": batch_id},
            app_id=_txn_app(path, checkpoint, "rollup"),
            app_version=batch_id,
        )

    return _run_foreach_batch(events, _apply, checkpoint, available_now)


def stream_cms_refresh(
    events: DataFrame,
    path: str,
    checkpoint: str,
    col: str,
    depth: int = 5,
    width: int = 2048,
    available_now: bool = True,
):
    """Streaming frequency-sketch maintenance: each micro-batch builds a
    bounded count-min counter table over ``col`` and element-wise-MERGES
    it into the sketch persisted at ``path/sketch`` — by the CMS merge law
    the result is EXACTLY the sketch a one-shot batch build over all
    streamed data would produce (tested). State is ≤ depth×width rows
    whatever the stream length; ``cms_query``/``heavy_hitters``-style
    probes read the sketch table (``txn_read``) directly. This is the
    streaming feed of the frequency surfaces: hot-key discovery, df-cut
    inputs, skew monitors.

    Exactly-once + ownership: the sketch is a transactional table and
    each batch is one overwrite commit fenced by the per-app watermark
    (``_fold_sketch``) — a replayed batch commits nothing, a foreign
    checkpoint's stream is refused.
    """
    import os

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from tdataframe_spark.functions.sketches import cms_build, cms_merge

        delta = cms_build(batch, col, depth=depth, width=width)
        _fold_sketch(
            os.path.join(path, "sketch"), checkpoint, "cms", batch_id,
            delta, lambda cur: cms_merge(cur, delta),
        )

    return _run_foreach_batch(events, _apply, checkpoint, available_now)


def stream_dds_refresh(
    events: DataFrame,
    path: str,
    checkpoint: str,
    col: str,
    alpha: float = 0.01,
    by: tuple = (),
    available_now: bool = True,
):
    """Streaming QUANTILE-sketch maintenance: each micro-batch builds a
    bounded DDSketch bucket table over ``col`` and merges it into the
    sketch persisted at ``path/sketch`` — by the DDSketch merge law the
    result is EXACTLY the one-shot batch sketch over all streamed data
    (bucket counts are plain sums), so ``dds_quantiles`` over the
    persisted table (``txn_read``) serves live percentiles (latency
    SLOs, price distributions) with alpha relative error at O(log range)
    state per group, whatever the stream length. Same watermark-fenced
    transactional state as the CMS/HLL/top-k folds."""
    import os

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from tdataframe_spark.functions.sketches import dds_build, dds_merge

        # persist: dds_merge's mixed-alpha guard runs one job over the
        # union BEFORE the merged write — without the cache the batch
        # aggregation would run twice per micro-batch
        delta = dds_build(batch, col, alpha=alpha, by=by).persist()
        try:
            _fold_sketch(
                os.path.join(path, "sketch"), checkpoint, "dds", batch_id,
                delta, lambda cur: dds_merge(cur, delta),
            )
        finally:
            delta.unpersist()

    return _run_foreach_batch(events, _apply, checkpoint, available_now)


def stream_hll_refresh(
    events: DataFrame,
    path: str,
    checkpoint: str,
    col: str,
    group_cols: list[str] | None = None,
    lgk: int = 12,
    available_now: bool = True,
):
    """Streaming distinct-count maintenance: each micro-batch's per-group
    HLL sketches union into the sketch table persisted at
    ``path/sketches`` — state is one binary sketch row per group forever,
    whatever the stream length. Probe with
    ``functions.sketches.hll_estimate`` (or ``merge_distinct_sketches``
    to roll up to coarser groups) over ``txn_read`` of the state without
    touching the stream. Same watermark-fenced transactional state as
    the CMS sink (HLL max-merge is idempotent anyway — the fence matters
    for uniformity with the counting sinks).
    """
    import os

    from tdataframe_spark.functions.sketches import hll_merge, hll_sketch

    groups = list(group_cols or [])

    def _sketches(df: DataFrame, agg) -> DataFrame:
        return df.groupBy(*groups).agg(agg.alias("sketch"))

    def _apply(batch: DataFrame, batch_id: int) -> None:
        delta = _sketches(batch, hll_sketch(col, lgk))
        _fold_sketch(
            os.path.join(path, "sketches"), checkpoint, "hll", batch_id,
            delta,
            lambda cur: _sketches(cur.unionByName(delta), hll_merge("sketch")),
        )

    return _run_foreach_batch(events, _apply, checkpoint, available_now)


def stream_topk_refresh(
    events: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    order_col: str,
    k: int = 10,
    tie_cols: list[str] | None = None,
    available_now: bool = True,
):
    """Streaming top-k leaderboard: the persisted state at ``path/topk``
    (a transactional table; read it with ``txn_read``) always holds each
    group's k largest ``order_col`` rows seen so far — union the batch,
    re-take top-k, commit. State is ≤ k rows per group forever; a
    replayed batch commits nothing (the same watermark-fenced state as
    the other fold sinks; here even a re-fold would be harmless —
    re-taking top-k over a re-unioned batch is idempotent). Pass
    ``tie_cols`` (ascending) to make the cut at rank k deterministic
    when ``order_col`` has ties — without it, tied rows at the boundary
    are an arbitrary choice.
    """
    import os

    from tdataframe_spark.operators.windows import top_per_group

    order = [F.col(order_col).desc()] + [
        F.col(c).asc() for c in (tie_cols or [])
    ]

    def refreshed(src: DataFrame) -> DataFrame:
        return top_per_group(src, key_cols, order, k=k).drop("rnk")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _fold_sketch(
            os.path.join(path, "topk"), checkpoint, "topk", batch_id,
            refreshed(batch), lambda cur: refreshed(cur.unionByName(batch)),
        )

    return _run_foreach_batch(events, _apply, checkpoint, available_now)


def _stream_signature_index(
    media: DataFrame,
    index_path: str,
    checkpoint: str,
    signer,
    sig_col: str,
    what: str,
    available_now: bool = True,
):
    """Shared micro-batch loop for streaming near-dup index maintenance:
    each arriving batch of media payloads is decoded+signed (``signer``
    — an Arrow mapInPandas signature op like phash_images /
    audio_fingerprints), and its (media_id, signature) rows are folded
    into a TRANSACTIONAL index table as ONE atomic append commit
    recording the batch id in the table's per-app watermark —
    exactly-once under crash/replay (the rollup/upsert sink
    discipline, ``_txn_app``), and
    snapshot-isolated for concurrent matchers: a match_*_index running
    mid-commit sees the previous complete index, never a half batch.

    The heavy work (decode + signature) is per-row inside the batch;
    the commit is a manifest append — at 100 TB of media the stream's
    cost tracks the ARRIVING bytes, never the corpus, and the banded
    cross-set matcher keeps fan-out on the batch side."""
    from tdataframe_spark.sources.txn import txn_write

    def _fold(batch: DataFrame, batch_id: int) -> None:
        sigs = signer(batch).filter("ok").select("media_id", sig_col)
        txn_write(
            sigs, index_path, mode="append",
            meta={"sink": what, "batch_id": batch_id},
            app_id=_txn_app(index_path, checkpoint, what),
            app_version=batch_id,
        )

    return _run_foreach_batch(media, _fold, checkpoint, available_now)


def stream_media_to_phash_index(
    media: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    resize: int = 32,
    block: int = 8,
):
    """Streaming maintenance of the IMAGE near-dup index: arriving
    payloads (``media_id, kind, payload`` — e.g. a binaryFile/parquet
    ``readStream`` over an ingestion drop zone) are perceptual-hashed
    per micro-batch and appended to the transactional pHash index as
    one atomic commit, fenced by the table's per-app watermark. ``match_phash_index`` reads the
    txn index directly — the r8 image-dedup index becomes maintainable
    by a stream, not just buildable by a job."""
    from tdataframe_spark.ops.multimodal import phash_images

    return _stream_signature_index(
        media, index_path, checkpoint,
        lambda b: phash_images(b, resize=resize, block=block),
        "phash", "phash index", available_now,
    )


def stream_media_to_landmark_index(
    media: DataFrame,
    index_path: str,
    checkpoint: str,
    landmarker,
    available_now: bool = True,
):
    """Streaming maintenance of a TRIM-ROBUST landmark index: each
    arriving batch of media payloads runs ``landmarker`` (an Arrow
    landmark op — ``audio_landmarks`` or ``video_frame_landmarks``,
    possibly with kwargs bound) and its (media_id, frame_off, lhash)
    rows land in the transactional index as ONE atomic append fenced by
    the per-app watermark — the same exactly-once fence as the pHash/afp
    index streams (a landmark op fans out several rows per item and has
    no ``ok`` column: undecodable payloads simply emit no rows, so the
    generic single-signature fold does not apply).
    ``match_landmark_index`` reads the txn index directly,
    snapshot-isolated against in-flight appends."""
    from tdataframe_spark.sources.txn import txn_write

    def _fold(batch: DataFrame, batch_id: int) -> None:
        lms = landmarker(batch).select("media_id", "frame_off", "lhash")
        txn_write(
            lms, index_path, mode="append",
            meta={"sink": "landmark_index", "batch_id": batch_id},
            app_id=_txn_app(index_path, checkpoint, "landmark_index"),
            app_version=batch_id,
        )

    return _run_foreach_batch(media, _fold, checkpoint, available_now)


def stream_media_to_afp_index(
    media: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    **fp_kwargs,
):
    """Streaming maintenance of the AUDIO near-dup index — the audio
    twin of :func:`stream_media_to_phash_index` (same fence, same
    atomic per-batch append), feeding :func:`match_afp_index`."""
    from tdataframe_spark.ops.multimodal import audio_fingerprints

    return _stream_signature_index(
        media, index_path, checkpoint,
        lambda b: audio_fingerprints(b, **fp_kwargs),
        "afp", "afp index", available_now,
    )
