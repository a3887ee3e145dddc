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


def _once_ledger(path: str, checkpoint: str, what: str, data_dir: str | None = None):
    """Shared exactly-once machinery for foreachBatch sinks that FOLD
    state (a replayed batch must not re-apply): an applied-batch ledger at
    ``path/_applied`` plus a checkpoint-owner check (batch ids only
    identify batches within the checkpoint lineage that produced them, so
    folding a foreign checkpoint's stream into existing state would
    silently skip or double-count — the first build records the owner and
    a mismatch raises). Returns ``(already_applied, record, stamp_for)``:
    ``already_applied(batch_id)`` performs the owner check and answers
    whether the batch was folded before; ``record(batch_id)`` stamps the
    owner (first time) and the batch marker AFTER a successful fold;
    ``stamp_for(batch_id)`` is the owner-qualified stamp the sink passes
    to ``_staged_swap`` so the applied-batch id lands INSIDE the staged
    state and becomes visible atomically with the swap rename. That stamp
    closes the old swap-then-marker crash window: a replay after a crash
    between swap and ``record`` finds its own stamp at
    ``data_dir/_applied_batch``, self-heals the marker, and skips — the
    batch can never re-fold. Structured Streaming applies batches in
    order (batch N's foreachBatch completes before N is committed and
    N+1 starts), so at most the LAST batch can be in that window — one
    stamp suffices.
    """
    import os

    ckpt_id = _ckpt_id(checkpoint)
    marker_dir = os.path.join(path, "_applied")
    owner_file = os.path.join(marker_dir, "_owner")

    def record(batch_id: int) -> None:
        os.makedirs(marker_dir, exist_ok=True)
        if not os.path.exists(owner_file):
            with open(owner_file, "w") as f:
                f.write(ckpt_id)
        open(os.path.join(marker_dir, f"batch-{batch_id}"), "w").close()

    def stamp_for(batch_id: int) -> str:
        return f"{ckpt_id}:{batch_id}"

    def already_applied(batch_id: int) -> bool:
        if os.path.exists(owner_file):
            owner = open(owner_file).read().strip()
            if owner != ckpt_id:
                raise ValueError(
                    f"{what} at {path} is owned by checkpoint {owner}; "
                    f"refusing to fold stream {ckpt_id} into it — reuse "
                    "the original checkpoint or build a fresh state path"
                )
        if os.path.exists(os.path.join(marker_dir, f"batch-{batch_id}")):
            return True
        if data_dir is not None:
            stamp_file = os.path.join(data_dir, "_applied_batch")
            if os.path.exists(stamp_file):
                if open(stamp_file).read().strip() == stamp_for(batch_id):
                    record(batch_id)  # self-heal the crashed marker write
                    return True
        return False

    return already_applied, record, stamp_for


def _txn_app(state_path: str, checkpoint: str, what: str) -> str:
    """The ``app_id`` of a fold sink whose state is a transactional table:
    ``what:<checkpoint id>``. Passed to the commit with
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


def _staged_swap(data: str, build_merged, write_initial, stamp: str | None = None) -> None:
    """Shared rename-aside overwrite for non-transactional parquet state:
    recover a half-finished prior swap (retired copy is the last good
    table), clear dead staging, then either write the initial table
    (``write_initial(dest)`` — into staging, then renamed in) or
    materialize ``build_merged()`` to staging and swap — at no instant is
    ``data`` absent without a recoverable copy. ``stamp`` (the sink's
    owner-qualified batch id) is written to ``staging/_applied_batch``
    BEFORE the rename, so state and applied-batch marker become visible
    in the same atomic step — a crash anywhere leaves either the old
    state (batch re-folds, was never applied) or the new state carrying
    its stamp (replay skips). Leading-underscore files are invisible to
    Spark's parquet reader. For keyed MERGE state prefer the
    transactional table (``sources/txn.py``); this swap remains for
    whole-table sketch state where rewrite == the state size anyway.
    """
    import os
    import shutil

    staging = data + ".__staging__"
    retired = data + ".__old__"
    if not os.path.exists(data) and os.path.exists(retired):
        os.rename(retired, data)
    if os.path.exists(staging):
        shutil.rmtree(staging)

    def _stamp(dest: str) -> None:
        if stamp is not None:
            with open(os.path.join(dest, "_applied_batch"), "w") as f:
                f.write(stamp)
                f.flush()
                os.fsync(f.fileno())

    if os.path.exists(data):
        build_merged().write.mode("overwrite").parquet(staging)
        _stamp(staging)
        if os.path.exists(retired):
            shutil.rmtree(retired)
        os.rename(data, retired)
        os.rename(staging, data)
        shutil.rmtree(retired)
    else:
        write_initial(staging)
        _stamp(staging)
        os.rename(staging, data)


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
    txn: bool = False,
    delete_when: str | None = None,
):
    """Streaming CDC upsert: each micro-batch is MERGEd into the keyed
    parquet table at ``path`` via ``foreachBatch`` — batch rows replace
    same-key rows, new keys append. Within a batch, ``order_col`` picks the
    winning version per key (last-wins); without it, batches are assumed
    key-unique.

    The merge itself is the batch upsert shape (anti-join survivors ∪ batch)
    — one shuffle on the keys. With ``txn=True`` the state is a
    transactional manifest table (``sources/txn.py``): each merge is one
    atomic commit that records the batch id in the table's per-app
    watermark (``_txn_app``), giving exactly-once under crash AND
    snapshot-isolated concurrent readers. The default writes a plain
    parquet dir via the rename-aside swap (single-writer semantics; safe
    here because a same-batch replay of this merge is idempotent —
    anti-join + union of identical rows reproduces the same table).

    ``delete_when`` (txn mode only): SQL predicate over the batch
    columns marking TOMBSTONES — the streaming GDPR/retention delete
    arm, forwarded to ``txn_upsert``'s WHEN MATCHED DELETE semantics so
    one stream carries updates, inserts, and deletes, each micro-batch
    one atomic commit.
    """
    if delete_when is not None and not txn:
        raise ValueError(
            "delete_when requires txn=True (the tombstone arm is a "
            "transactional MERGE feature)"
        )
    from pyspark.sql import Window

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if txn:
            from tdataframe_spark.sources.txn import txn_upsert

            # ONE MERGE implementation — txn_upsert owns the order_col
            # last-wins dedup too; the watermark skips a replayed batch
            txn_upsert(
                batch, path, keys, order_col=order_col,
                meta={"sink": "cdc_upsert", "batch_id": batch_id},
                delete_when=delete_when,
                app_id=_txn_app(path, checkpoint, "cdc_upsert"),
                app_version=batch_id,
            )
            return

        if order_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
            batch = (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        def merged():
            current = spark.read.parquet(path)
            survivors = current.join(
                batch.select(*keys).dropDuplicates(keys), keys, "left_anti"
            )
            return survivors.unionByName(batch)

        _staged_swap(
            path,
            merged,
            lambda dest: batch.write.mode("overwrite").parquet(dest),
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
    txn: bool = True,
):
    """Streaming continuous aggregate: every micro-batch folds into the
    persisted time-bucket rollup — reads and rewrites only the day
    partitions the batch touches, so sink cost tracks the batch, not
    history.

    Exactly-once (default ``txn=True``): the state is a transactional
    manifest table (``sources/txn.py``) and every refresh — including
    the multi-day partition replacement — is ONE atomic commit that
    records the batch id in the table's per-app watermark. A replayed
    batch (foreachBatch is at-least-once after a crash) finds its id at
    or below the watermark on the head and commits nothing; because the
    id becomes visible atomically WITH the state change, there is no
    crash instant where the fold happened but the watermark doesn't
    know it. The legacy ``txn=False`` path keeps the
    plain ``day=`` directory layout with the after-the-fact marker
    ledger — and that scheme's disclosed window (a crash between
    state-write and marker-write re-folds the batch, and a crash mid
    dynamic-partition-overwrite can leave PARTIAL day updates).

    The rollup path is OWNED by one checkpoint lineage: batch ids only
    identify batches within the checkpoint that produced them, so folding
    a different checkpoint's stream into existing state would either
    silently skip (id collision) or double-count (full source replay).
    The owner is the checkpoint whose watermark the state records (the
    marker ledger's ``_owner`` file on the legacy path); a mismatch
    raises instead.
    """
    import os

    # legacy-layout auto-detect: a pre-existing plain day= directory keeps
    # the marker-ledger path even under the txn default — a restarted
    # deployment must keep running, not die in its first micro-batch
    # (build_rollup_txn refuses to shadow plain state, correctly)
    if txn and os.path.isdir(path) and any(
        n.startswith("day=") for n in os.listdir(path)
    ):
        txn = False

    if txn:
        from tdataframe_spark.ops.rollup import build_rollup_txn, refresh_rollup_txn
        from tdataframe_spark.sources.txn import is_txn_table

        def _apply_txn(batch: DataFrame, batch_id: int) -> None:
            fold = refresh_rollup_txn if is_txn_table(path) else build_rollup_txn
            fold(
                batch, path, value_col, bucket_us, group_cols,
                meta={"sink": "rollup", "batch_id": batch_id},
                app_id=_txn_app(path, checkpoint, "rollup"),
                app_version=batch_id,
            )

        return _run_foreach_batch(events, _apply_txn, checkpoint, available_now)

    already_applied, record, _ = _once_ledger(path, checkpoint, "rollup")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from tdataframe_spark.ops.rollup import build_rollup, refresh_rollup

        if already_applied(batch_id):
            return  # replayed batch: already folded in
        if os.path.exists(os.path.join(path, "_SUCCESS")) or any(
            n.startswith("day=") for n in (
                os.listdir(path) if os.path.exists(path) else []
            )
        ):
            refresh_rollup(batch, path, value_col, bucket_us, group_cols)
        else:
            build_rollup(batch, path, value_col, bucket_us, group_cols)
        record(batch_id)

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
    probes read the sketch table directly. This is the streaming feed of
    the frequency surfaces: hot-key discovery, df-cut inputs, skew
    monitors.

    Exactly-once + ownership: same applied-batch ledger and
    checkpoint-owner check as the other fold sinks (a replayed batch
    must not double-count; a foreign checkpoint's stream must not fold
    in), and the rename-aside swap keeps the sketch recoverable at every
    crash instant. The batch stamp is written INSIDE the staged state, so
    state and applied-marker become visible in one atomic rename — the
    old swap-then-marker window (a crash between them re-folded the
    batch, double-counting the CMS) is closed; a replay finds its stamp,
    self-heals the marker, and skips.
    """
    import os

    data = os.path.join(path, "sketch")
    already_applied, record, stamp_for = _once_ledger(
        path, checkpoint, "cms sketch", data_dir=data
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from tdataframe_spark.functions.sketches import cms_build, cms_merge

        spark = batch.sparkSession
        if already_applied(batch_id):
            return  # replayed batch: already folded in
        delta = cms_build(batch, col, depth=depth, width=width)
        _staged_swap(
            data,
            lambda: cms_merge(spark.read.parquet(data), delta),
            lambda dest: delta.write.mode("overwrite").parquet(dest),
            stamp=stamp_for(batch_id),
        )
        record(batch_id)

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
    persisted table serves live percentiles (latency SLOs, price
    distributions) with alpha relative error at O(log range) state per
    group, whatever the stream length. Same exactly-once ledger +
    rename-aside swap as the CMS/HLL/top-k folds."""
    import os

    data = os.path.join(path, "sketch")
    already_applied, record, stamp_for = _once_ledger(
        path, checkpoint, "dds sketch", data_dir=data
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from tdataframe_spark.functions.sketches import dds_build, dds_merge

        spark = batch.sparkSession
        if already_applied(batch_id):
            return  # replayed batch: already folded in
        # persist: dds_merge's mixed-alpha guard runs one job over the
        # union BEFORE the merged write — without the cache the batch
        # aggregation would run twice per micro-batch
        delta = dds_build(batch, col, alpha=alpha, by=by).persist()
        try:
            _staged_swap(
                data,
                lambda: dds_merge(spark.read.parquet(data), delta),
                lambda dest: delta.write.mode("overwrite").parquet(dest),
                stamp=stamp_for(batch_id),
            )
            record(batch_id)
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
    to roll up to coarser groups) without touching the stream. Same
    exactly-once ledger + owner check + stamped rename-aside swap as the
    CMS sink (shared helpers): the applied-batch stamp rides the staged
    state through the atomic rename, so a crash-then-replay can never
    re-fold a batch (HLL max-merge is idempotent anyway — the stamp
    matters for uniformity with the counting sinks).
    """
    import os

    from pyspark.sql import functions as F

    groups = list(group_cols or [])
    data = os.path.join(path, "sketches")
    already_applied, record, stamp_for = _once_ledger(
        path, checkpoint, "hll sketches", data_dir=data
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from tdataframe_spark.functions.sketches import hll_merge, hll_sketch

        spark = batch.sparkSession
        if already_applied(batch_id):
            return  # replayed batch: already folded in
        if groups:
            delta = batch.groupBy(*groups).agg(
                hll_sketch(col, lgk).alias("sketch")
            )
        else:
            delta = batch.agg(hll_sketch(col, lgk).alias("sketch"))

        def merged():
            prev = spark.read.parquet(data)
            u = prev.unionByName(delta)
            if groups:
                return u.groupBy(*groups).agg(hll_merge("sketch").alias("sketch"))
            return u.agg(hll_merge("sketch").alias("sketch"))

        _staged_swap(
            data,
            merged,
            lambda dest: delta.write.mode("overwrite").parquet(dest),
            stamp=stamp_for(batch_id),
        )
        record(batch_id)

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
    always holds each group's k largest ``order_col`` rows seen so far —
    union the batch, re-take top-k, swap. State is ≤ k rows per group
    forever; a replayed batch cannot perturb it twice (same exactly-once
    ledger/owner/stamped-swap machinery as the other fold sinks; here
    even a re-fold would be harmless — re-taking top-k over a re-unioned
    batch is idempotent). Pass ``tie_cols`` (ascending) to make the cut at rank k
    deterministic when ``order_col`` has ties — without it, tied rows at
    the boundary are an arbitrary-but-ledgered choice.
    """
    import os

    from pyspark.sql import functions as F

    data = os.path.join(path, "topk")
    already_applied, record, stamp_for = _once_ledger(
        path, checkpoint, "topk leaderboard", data_dir=data
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from tdataframe_spark.operators.windows import top_per_group

        spark = batch.sparkSession
        if already_applied(batch_id):
            return

        order = [F.col(order_col).desc()] + [
            F.col(c).asc() for c in (tie_cols or [])
        ]

        def refreshed(src: DataFrame) -> DataFrame:
            return top_per_group(src, key_cols, order, k=k).drop("rnk")

        _staged_swap(
            data,
            lambda: refreshed(
                spark.read.parquet(data).unionByName(batch)
            ),
            lambda dest: refreshed(batch).write.mode("overwrite").parquet(dest),
            stamp=stamp_for(batch_id),
        )
        record(batch_id)

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
