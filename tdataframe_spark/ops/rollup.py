"""Incremental time-bucket rollup — a "continuous aggregate" maintained as
partial-aggregate state on disk, refreshed per ingestion batch without
reprocessing history.

This is the hypertable-rollup shape at 100 TB: the raw event stream is
append-only and enormous; the rollup state is (bucket, dims, COUNT, exact
DECIMAL SUM) — tiny, *mergeable* partials. A new batch is aggregated alone
(one shuffle over just the batch), merged with the state of only the
**affected day partitions** (partition pruning on read, dynamic partition
overwrite on write — untouched days are never read or rewritten), and the
result is bit-identical to a full recompute because decimal sums are exact
and associative.

Mergeability is the design contract: COUNT and decimal SUM re-aggregate
losslessly, so state can be merged batch-by-batch in any order. AVG is
derived at serve time (sum/n), never stored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAY_US = 24 * 3600 * 1_000_000
HOUR_US = 3600 * 1_000_000
_DEC = "decimal(25,6)"


def _partials(
    events: DataFrame, value_col: str, bucket_us: int, group_cols: list[str]
) -> DataFrame:
    """One shuffle over just this data: (day, bucket, dims, n, sum_value)
    partial-aggregate rows. ``day`` is the on-disk partition key so a
    refresh prunes to the days a batch actually touches."""
    b = F.expr(f"ts_us div {bucket_us}").alias("bucket")
    day = F.expr(f"ts_us div {DAY_US}").cast("long").alias("day")
    return events.groupBy(day, b, *group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(value_col).cast(_DEC)).cast(_DEC).alias("sum_value"),
    )


def _unit_partials(
    events: DataFrame, value_col: str, bucket_us: int, group_cols: list[str]
) -> DataFrame:
    """Raw batch rows projected to the partials schema (n=1,
    sum_value=value) WITHOUT aggregating: ``_merge`` over the union with
    existing state then aggregates batch and state in ONE shuffle —
    COUNT is a sum of ones and the decimal SUM is exact and associative,
    so the result is bit-identical to pre-aggregating the batch first
    (which cost the refresh a second exchange over the same rows)."""
    b = F.expr(f"ts_us div {bucket_us}").alias("bucket")
    day = F.expr(f"ts_us div {DAY_US}").cast("long").alias("day")
    return events.select(
        day,
        b,
        *group_cols,
        F.lit(1).cast("long").alias("n"),
        F.col(value_col).cast(_DEC).alias("sum_value"),
    )


def _merge(parts: DataFrame) -> DataFrame:
    keys = [c for c in parts.columns if c not in ("n", "sum_value")]
    return parts.groupBy(*keys).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_value").cast(_DEC).alias("sum_value"),
    )


def build_rollup(
    events: DataFrame,
    path: str,
    value_col: str = "value",
    bucket_us: int = HOUR_US,
    group_cols: list[str] | None = None,
) -> None:
    """Materialize the rollup state, partitioned by day. The repartition
    keys the write by the on-disk partition column, so every day is ONE
    file written by its own task — without it the (AQE-coalesced)
    aggregate output leaves 1-2 tasks sequentially emitting a file per
    day each (2x the files, serial commit)."""
    parts = _partials(events, value_col, bucket_us, group_cols or [])
    parts.repartition("day").write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)


def refresh_rollup(
    new_events: DataFrame,
    path: str,
    value_col: str = "value",
    bucket_us: int = HOUR_US,
    group_cols: list[str] | None = None,
) -> list[int]:
    """Merge a new batch into the persisted rollup. Reads ONLY the day
    partitions the batch touches, rewrites ONLY those (dynamic partition
    overwrite) — cost scales with the batch, not with history. Returns the
    refreshed day list (bounded: distinct days in one batch)."""
    spark = new_events.sparkSession
    # raw rows ride into the ONE merge aggregate below (n=1 partials) —
    # pre-aggregating the batch first cost a second exchange over the
    # same rows AND re-executed the batch plan for this day collect
    batch = _unit_partials(new_events, value_col, bucket_us, group_cols or [])
    days = [r["day"] for r in batch.select("day").distinct().collect()]
    if not days:
        return []
    existing = (
        spark.read.parquet(path)
        .where(F.col("day").isin(days))
        .select(*batch.columns)
    )
    # localCheckpoint cuts the read-from-path lineage so the dynamic
    # partition overwrite below doesn't read the files it is replacing
    merged = _merge(existing.unionByName(batch)).localCheckpoint()
    (
        merged.repartition("day")  # one file per refreshed day (see build)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    return sorted(days)


def build_rollup_txn(
    events: DataFrame,
    path: str,
    value_col: str = "value",
    bucket_us: int = HOUR_US,
    group_cols: list[str] | None = None,
    meta: dict | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
) -> int:
    """Materialize the rollup state as a transactional manifest table
    (``sources/txn.py``), day-partitioned. One atomic commit; ``meta``
    rides it, and ``app_id``/``app_version`` (the streaming sink's
    writer id and batch id) make it idempotent as in ``txn_write``.
    Refuses to shadow an existing plain-directory rollup — that state would silently
    vanish from the manifest view."""
    import os

    from tdataframe_spark.sources.txn import is_txn_table, txn_write

    if os.path.isdir(path) and not is_txn_table(path) and any(
        n.startswith("day=") or n.endswith(".parquet") for n in os.listdir(path)
    ):
        raise ValueError(
            f"{path} holds a plain-directory rollup; build the transactional "
            "state at a fresh path (or keep txn=False for this sink)"
        )
    parts = _partials(events, value_col, bucket_us, group_cols or [])
    return txn_write(
        parts, path, mode="overwrite", partition_by=["day"], meta=meta,
        app_id=app_id, app_version=app_version,
    )


def refresh_rollup_txn(
    new_events: DataFrame,
    path: str,
    value_col: str = "value",
    bucket_us: int = HOUR_US,
    group_cols: list[str] | None = None,
    meta: dict | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
) -> list[int]:
    """Merge a new batch into a transactional rollup. Reads ONLY the
    touched days' FILES (manifest-level pruning — no directory listing at
    all), merges, and commits the multi-day replacement as ONE atomic
    ``replace_where`` manifest — unlike the dynamic-partition-overwrite
    path there is no crash instant with some days refreshed and others
    not, and no localCheckpoint is needed (new files never overwrite the
    files being read). ``app_id``/``app_version`` are forwarded to
    ``txn_write``, so a replayed batch commits nothing. Returns the
    refreshed day list."""
    from tdataframe_spark.sources.txn import txn_read, txn_write

    spark = new_events.sparkSession
    # one merge aggregate over (state ∪ raw batch rows) — see
    # refresh_rollup for the exactness argument
    batch = _unit_partials(new_events, value_col, bucket_us, group_cols or [])
    days = [r["day"] for r in batch.select("day").distinct().collect()]
    if not days:
        return []
    existing = txn_read(
        spark, path, partition_filter={"day": days}
    ).select(*batch.columns)
    merged = _merge(existing.unionByName(batch))
    txn_write(
        merged,
        path,
        partition_by=["day"],
        replace_where={"day": days},
        meta=meta,
        app_id=app_id,
        app_version=app_version,
    )
    return sorted(days)


def serve_rollup(
    spark, path: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Finalize the state for consumption: (bucket, dims, n, sum_value,
    avg_value) with the decimal partials converted to double ONCE — the
    same value a from-scratch ``dsum`` over the raw events produces.
    Reads either layout: transactional manifest table or plain
    day-partitioned directory."""
    from tdataframe_spark.sources.txn import is_txn_table, txn_read

    st = txn_read(spark, path) if is_txn_table(path) else spark.read.parquet(path)
    keys = ["bucket", *(group_cols or [])]
    agg = _merge(st.select(*keys, "n", "sum_value").withColumn("day", F.lit(0)))
    return agg.select(
        *keys,
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n")).alias("avg_value"),
    )
