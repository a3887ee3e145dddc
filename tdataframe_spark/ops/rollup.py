"""Incremental time-bucket rollup — a "continuous aggregate" maintained as
partial-aggregate state on disk, refreshed per ingestion batch without
reprocessing history.

This is the hypertable-rollup shape at 100 TB: the raw event stream is
append-only and enormous; the rollup state is (bucket, dims, COUNT, exact
DECIMAL SUM) — tiny, *mergeable* partials. A new batch is aggregated alone
(one shuffle over just the batch), merged with the state of only the
**affected day partitions** (manifest pruning on read, one ``replace_where``
commit on write — untouched days are never read or rewritten), and the
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
    meta: dict | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
) -> int:
    """Materialize the rollup state as a transactional table
    (``sources/txn.py``), day-partitioned, in one atomic overwrite
    commit; returns its version. ``meta`` rides the commit, and
    ``app_id``/``app_version`` (the streaming sink's writer id and batch
    id) make it idempotent as in ``txn_write``. Refuses to shadow a
    plain-directory rollup at ``path`` — that state would silently
    vanish from the manifest view. Superseded versions stay until
    ``txn_vacuum``."""
    from tdataframe_spark.sources.txn import _refuse_plain_table, txn_write

    _refuse_plain_table(path, "build_rollup")
    parts = _partials(events, value_col, bucket_us, group_cols or [])
    return txn_write(
        parts, path, mode="overwrite", partition_by=["day"], meta=meta,
        app_id=app_id, app_version=app_version,
    )


def refresh_rollup(
    new_events: DataFrame,
    path: str,
    value_col: str = "value",
    bucket_us: int = HOUR_US,
    group_cols: list[str] | None = None,
    meta: dict | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
) -> list[int]:
    """Merge a new batch into the persisted rollup. Reads ONLY the
    touched days' FILES (manifest-level pruning — no directory listing
    at all), merges, and commits the multi-day replacement as ONE atomic
    ``replace_where`` commit — cost scales with the batch, not with
    history, there is no crash instant with some days refreshed and
    others not, and new files never overwrite the files being read.
    ``app_id``/``app_version`` are forwarded to ``txn_write``, so a
    replayed batch commits nothing. Returns the refreshed day list
    (bounded: distinct days in one batch)."""
    from tdataframe_spark.sources.txn import txn_read, txn_write

    spark = new_events.sparkSession
    # raw rows ride into the ONE merge aggregate below (n=1 partials) —
    # pre-aggregating the batch first cost a second exchange over the
    # same rows AND re-executed the batch plan for this day collect
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
    same value a from-scratch ``dsum`` over the raw events produces."""
    from tdataframe_spark.sources.txn import txn_read

    st = txn_read(spark, path)
    keys = ["bucket", *(group_cols or [])]
    agg = _merge(st.select(*keys, "n", "sum_value").withColumn("day", F.lit(0)))
    return agg.select(
        *keys,
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n")).alias("avg_value"),
    )
