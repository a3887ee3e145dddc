"""Write-layout helpers: sorted and z-ordered parquet output.

Why layout matters at 100 TB: parquet readers skip whole row groups whose
column min/max statistics can't satisfy the pushed filter. A table written
in random order has every file spanning the full value range — nothing
skips. Range-partitioned + sorted output gives near-disjoint per-file
ranges (perfect skipping on the sort column); z-ordering interleaves the
bucket bits of several columns so EVERY z-ordered column gets bounded
per-file ranges — the same trick behind Delta Lake's OPTIMIZE ZORDER.

All layout math is JVM-side expressions; the only driver-side state is the
per-column quantile boundary list (2^bits values per column).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Z-order (Morton) key over ``cols``: each column is rank-bucketed into
    2^bits quantile buckets (equi-depth, so skew can't crowd one bucket),
    then the bucket bits are interleaved. Returns a bigint Column.

    ``approxQuantile`` fetches 2^bits boundary values per column to the
    driver — constant-size state, same class as IVF centroids.
    """
    if not cols:
        raise ValueError("zorder_by requires at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"bits*len(cols) must fit a bigint: {bits}*{len(cols)}")
    buckets = _quantile_buckets(df, cols, bits)
    z = F.lit(0).cast("long")
    k = len(cols)
    for bit in range(bits):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * k + j
            ).cast("long")
    return z


def _quantile_buckets(df: DataFrame, cols: list[str], bits: int) -> list[Column]:
    """Per-column equi-depth bucket index in [0, 2^bits) — shared by the
    z-order and Hilbert keys (approxQuantile pulls 2^bits boundaries per
    column to the driver; constant-size state)."""
    n_b = 1 << bits
    probs = [i / n_b for i in range(1, n_b)]
    buckets: list[Column] = []
    for c in cols:
        qs = df.stat.approxQuantile(c, probs, 0.01)
        arr = F.array(*[F.lit(float(q)) for q in qs])
        v = F.col(c).cast("double")
        buckets.append(F.size(F.filter(arr, lambda e: e <= v)).cast("long"))
    return buckets


def hilbert_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Hilbert-curve key over ``cols``: same equi-depth bucketing as
    ``zorder_key``, but the bucket coordinates are mapped through the
    n-dimensional Hilbert curve instead of Morton bit-interleaving.

    Why offer both: consecutive Hilbert keys are ALWAYS adjacent cells
    (the curve has no Morton "seams" — z-order jumps across the space at
    power-of-two boundaries), so contiguous key ranges map to tighter
    bounding boxes and per-file column ranges are narrower on average —
    the same reason lakehouse OPTIMIZE implementations added Hilbert
    alongside z-order.

    Implementation: Skilling's axes→transpose transform ("Programming the
    Hilbert curve", AIP Conf. Proc. 707, 2004 — public-domain algorithm).
    The per-bit-level loop runs as an F.aggregate fold over the Q values,
    so the expression stays ONE step's size and is iterated at runtime —
    unrolling it would nest exponentially. All JVM-side; no UDFs.
    """
    if not cols:
        raise ValueError("hilbert_by requires at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"bits*len(cols) must fit a bigint: {bits}*{len(cols)}")
    return hilbert_index(_quantile_buckets(df, cols, bits), bits)


def hilbert_index(coords: list[Column], bits: int) -> Column:
    """Hilbert curve position of integer ``coords`` (each in [0, 2^bits))
    as a bigint — the pure curve math behind :func:`hilbert_key`, split
    out so tests can pin it against a reference implementation on literal
    grids."""
    n = len(coords)
    X = F.array(*[c.cast("long") for c in coords])
    # Q = M .. 2 descending (the "inverse undo" sweep); empty at bits == 1,
    # where the transform is just the gray encode below
    q_vals = [1 << e for e in range(bits - 1, 0, -1)]
    qs = F.array(*[F.lit(q).cast("long") for q in q_vals])

    def undo_step(acc: Column, Qc: Column) -> Column:
        P = Qc - F.lit(1).cast("long")
        xs = [F.element_at(acc, i + 1) for i in range(n)]
        for i in range(n):
            x0, xi = xs[0], xs[i]
            cond = xi.bitwiseAND(Qc) != 0
            if i == 0:
                # exchange branch is a no-op for i == 0 (t == 0)
                xs[0] = F.when(cond, x0.bitwiseXOR(P)).otherwise(x0)
            else:
                t = x0.bitwiseXOR(xi).bitwiseAND(P)
                xs[0] = F.when(cond, x0.bitwiseXOR(P)).otherwise(x0.bitwiseXOR(t))
                xs[i] = F.when(cond, xi).otherwise(xi.bitwiseXOR(t))
        return F.array(*xs)

    tx = F.aggregate(qs, X, undo_step) if q_vals else X
    # Gray encode: X[i] ^= X[i-1] (prefix XOR), then the t-correction
    gray = [F.element_at(tx, 1)]
    for i in range(1, n):
        gray.append(gray[i - 1].bitwiseXOR(F.element_at(tx, i + 1)))
    t_corr = (
        F.aggregate(
            qs,
            F.lit(0).cast("long"),
            lambda t, Qc: F.when(
                gray[n - 1].bitwiseAND(Qc) != 0,
                t.bitwiseXOR(Qc - F.lit(1).cast("long")),
            ).otherwise(t),
        )
        if q_vals
        else F.lit(0).cast("long")
    )
    final = [g.bitwiseXOR(t_corr) for g in gray]
    # interleave the transposed bits MSB-first: bit j of X[i] lands at
    # key bit j*n + (n-1-i)
    key = F.lit(0).cast("long")
    for j in range(bits):
        for i in range(n):
            key = key + F.shiftleft(
                F.shiftright(final[i], j).bitwiseAND(F.lit(1)), j * n + (n - 1 - i)
            ).cast("long")
    return key


def write_sorted(
    df: DataFrame,
    path: str,
    sort_by: list[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-partition on the sort columns, sort within each partition, and
    write one file per partition: per-file min/max are near-disjoint, so a
    filter on the sort column skips all but the matching files' row
    groups."""
    (
        df.repartitionByRange(n_files, *sort_by)
        .sortWithinPartitions(*sort_by)
        .write.mode(mode)
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-ordered write: every column in ``zorder_by`` gets bounded per-file
    ranges (a subrectangle of the value space per file), enabling row-group
    skipping for filters on ANY of them — where a plain sort only helps its
    leading column."""
    z = zorder_key(df, zorder_by, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_hilbert(
    df: DataFrame,
    path: str,
    hilbert_by: list[str],
    n_files: int,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Hilbert-ordered write: like ``write_zordered`` (bounded per-file
    ranges on EVERY listed column) with tighter average bounding boxes —
    consecutive curve positions are always spatially adjacent, so a file's
    contiguous key range never straddles a Morton seam."""
    h = hilbert_key(df, hilbert_by, bits)
    (
        df.withColumn("__h", h)
        .repartitionByRange(n_files, "__h")
        .sortWithinPartitions("__h")
        .drop("__h")
        .write.mode(mode)
        .parquet(path)
    )


def read_pruned(
    spark,
    path: str,
    column: str,
    lo,
    hi,
) -> DataFrame:
    """Manifest-style file pruning: read only the parquet files whose footer
    min/max for ``column`` overlaps [lo, hi], then apply the same predicate
    row-wise. Equivalent result to a full scan + filter, but Spark never
    opens the skipped files at all (file-level skipping — one level above
    the row-group skipping the scan already does).

    This is the read-side half of ``write_sorted``/``write_zordered``: on a
    layout with near-disjoint per-file ranges, a narrow range keeps O(1)
    files out of N. At 100 TB the per-file stats live in a table-format
    manifest (Delta/Iceberg) instead of being re-read from footers; this
    driver-side footer pass is the sandbox stand-in (metadata-only, no data
    pages are read) and is itself O(files) — fine for the file counts a
    sorted write produces, and replaceable by a manifest table without
    touching callers.
    """
    import glob
    import os

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    keep = []
    for f, rng in zip(files, _file_ranges(files, column)):
        if rng is None:  # no stats → cannot prune, must read
            keep.append(f)
        elif not (rng[1] < lo or rng[0] > hi):
            keep.append(f)
    pred = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    if not keep:
        return spark.read.parquet(path).filter(pred).limit(0)
    return spark.read.parquet(*keep).filter(pred)


def _file_ranges(files: list[str], column: str) -> list:
    """Per-file (min, max) for ``column`` from footer stats; None when any
    row group lacks statistics for it."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        ok = True
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column:
                    if col.statistics is None:
                        ok = False
                    else:
                        mins.append(col.statistics.min)
                        maxs.append(col.statistics.max)
        out.append((min(mins), max(maxs)) if ok and mins else None)
    return out


def compact(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) right-sized files (optionally re-sorted),
    replacing the old layout atomically via a staging dir + rename.

    The small-files problem is operational reality at scale — streaming
    sinks and fine-grained partitions produce thousands of KB-sized files
    whose per-file open/footer overhead dominates scans. File count is
    computed from on-disk bytes (driver-side listing, metadata only).
    Returns the new file count.
    """
    import glob
    import math
    import os
    import shutil

    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    total = sum(os.path.getsize(f) for f in files)
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    staging = f"{path}.__compacting__"
    if sort_by:
        write_sorted(df, staging, sort_by, n_files)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    os.rename(staging, path)
    return n_files


def compact_txn(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    meta: dict | None = None,
    on_conflict: str = "raise",
) -> int:
    """Compaction for a transactional table (``sources/txn.py``): rewrite
    the current snapshot into right-sized files and publish ONE atomic
    manifest commit. Strictly safer than :func:`compact`'s
    rmtree-then-rename (which has a crash instant with the live copy
    gone, and breaks concurrent readers mid-scan): here old files stay on
    disk until ``txn_vacuum``, so snapshot-pinned readers keep working
    through the compaction — the lakehouse OPTIMIZE shape. The commit
    meta carries ``data_change: false`` (rows unchanged), so change
    feeds and ``txn_readstream`` skip it. Returns the new file count.

    ``sort_by`` range-clusters on one key prefix (tight per-file min/max
    on those columns → row-group pruning); ``zorder_by`` is Delta's
    OPTIMIZE ZORDER BY — the snapshot is rewritten in Morton-key order
    over SEVERAL columns, so per-file ranges stay bounded on every
    z-ordered column at once and multi-dimensional predicates prune
    files the way a single-column sort never can.

    ``on_conflict="raise"`` (default) pins the rewrite: any commit
    landing mid-compaction raises. ``"rebase"`` is the lakehouse
    OPTIMIZE shape — compaction is row-preserving, so a concurrent
    APPEND is never a logical conflict: the compacted files replace
    exactly the snapshot's files (a file-level replacement commit, not
    an overwrite), appended files ride into the commit untouched, and
    only a real conflict (a compacted file removed concurrently, a
    deletion vector landing on one, a layout change) raises. Rebase
    mode also preserves the column mapping (the replacement commit
    keeps physical names; the overwrite path materializes renames
    away). At 100 TB, background OPTIMIZE must never block ingestion —
    this is the mode that guarantees it."""
    import math
    import os

    from tdataframe_spark.sources.txn import (
        _abs_file,
        _layout_order,
        txn_latest,
        txn_read,
        txn_write,
    )

    if on_conflict not in ("raise", "rebase"):
        raise ValueError(
            f"on_conflict must be 'raise' or 'rebase', got {on_conflict!r}"
        )
    version, manifest = txn_latest(path)
    if manifest is None:
        raise FileNotFoundError(f"no transactional table at {path}")
    # sizing reads the manifest's recorded byte sizes (they ride every
    # commit entry) — one filesystem stat only for legacy entries
    # committed before sizes were recorded, never a full re-listing
    total = sum(
        f["bytes"] if "bytes" in f else os.path.getsize(_abs_file(path, f))
        for f in manifest["files"]
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    # a partitioned table must stay partitioned: the rewrite re-records
    # each file's partition values in the new manifest, or partition-
    # filtered reads and replace_where refreshes would silently miss
    # every compacted row (recorded segment order preserved — see
    # _layout_order)
    partition_by = _layout_order(manifest)
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are exclusive")
    # data-skipping stats survive the rewrite: recompute min/max for every
    # column any live file recorded them for (footer-only, driver-side).
    # Stats keys are physical; the rewritten frame is logical — translate
    from tdataframe_spark.sources.txn import (
        _logical_bloom_cols,
        _logical_stats_cols,
    )

    stats_cols = _logical_stats_cols(manifest) or []
    # bloom filters survive compaction too (fresh filters for the
    # compacted files — same inheritance rule as min/max stats)
    bloom_cols, bloom_bits = _logical_bloom_cols(manifest) or (None, None)
    df = txn_read(spark, path, version=version)
    if zorder_by:
        df = (
            df.withColumn("__zk", zorder_key(df, zorder_by))
            .repartitionByRange(n_files, "__zk")
            .sortWithinPartitions("__zk")
            .drop("__zk")
        )
    elif sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    elif partition_by:
        # hash on the partition columns: each partition value's rows
        # coalesce into one task → one compacted file per value
        df = df.repartition(n_files, *partition_by)
    else:
        df = df.repartition(n_files)
    if on_conflict == "rebase":
        from tdataframe_spark.sources.txn import _rebase_conflict_check

        # file-level replacement commit: the compacted outputs replace
        # exactly the source snapshot's files; anything a concurrent
        # commit appended since rides into the commit untouched. The
        # checker raises when the concurrent commits are NOT disjoint
        # (a compacted file removed, a DV landing on one, a layout
        # change) — compaction is row-preserving, so appended ROWS can
        # never conflict and no key probe is needed.
        protected = {f["path"] for f in manifest["files"]}

        def checker(base_v, head_v):
            _rebase_conflict_check(spark, path, base_v, head_v, protected)

        txn_write(
            df,
            path,
            mode="append",
            partition_by=partition_by or None,
            meta={
                **(meta or {}), "compaction": True, "data_change": False,
                "source_version": version,
            },
            expected_version=version,
            stats_cols=stats_cols or None,
            bloom_cols=bloom_cols,
            bloom_bits=bloom_bits,
            # the layout is DERIVED from the table; on an evolved table
            # it may widen a narrower live layout (compacting to one
            # layout is the point) — concurrent layout CHANGES are
            # caught by the checker instead
            allow_partition_evolution=True,
            _constraints_prevalidated=True,
            _replace_paths=protected,
            _on_conflict=checker,
        )
        return n_files
    # expected_version pins the read-modify-write: a concurrent append
    # landing mid-compaction raises instead of silently vanishing from
    # the compacted head
    txn_write(
        df,
        path,
        mode="overwrite",
        partition_by=partition_by or None,
        meta={
            **(meta or {}), "compaction": True, "data_change": False,
            "source_version": version,
        },
        expected_version=version,
        stats_cols=stats_cols or None,
        bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
        # a compaction rewrites already-validated snapshot rows — skip
        # the whole-table CHECK re-scan (expected_version pins the race)
        _constraints_prevalidated=True,
    )
    return n_files


def parquet_column_ranges(
    path: str, column: str
) -> list[tuple[float, float]]:
    """Per-file (min, max) of ``column`` from parquet footer statistics —
    the exact metadata a reader's row-group skipping consults. Test/audit
    helper (driver-side, reads footers only)."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out
