"""Structured-Streaming SOURCE over the transactional table (Spark 4
Python DataSource streaming API): each commit's ADDED files become one
micro-batch, offsets are manifest versions — the Delta-streaming shape
(``spark.readStream.format("delta")``) re-expressed over this repo's
manifest log.

    from tdataframe_spark.sources.txn_stream import txn_readstream
    stream = txn_readstream(spark, path)           # from version 0
    stream = txn_readstream(spark, path, start_version=7)

Semantics (Delta parity):

* **Append feed, not CDC** — the stream emits rows ADDED by each
  commit. A commit that REMOVES files or adds deletion vectors
  (overwrite, replace_where, MERGE, DELETE) is not expressible as an
  append and raises mid-stream, unless ``ignore_changes=true`` — then
  its added files are emitted and its removals are skipped (Delta's
  ``ignoreChanges``; downstream must tolerate re-emits). For a
  row-exact change feed use ``txn_changes_since`` in a foreachBatch
  poll loop instead.
* **Offsets are versions** — exactly-once across restarts comes from
  Spark's offset log: a replayed batch re-plans the same [start, end)
  version window and reads the same immutable files.
* **Schema is pinned at stream start** (the latest manifest's logical
  schema): files written before an additive evolution NULL-backfill;
  files written under column mapping resolve physical→logical, so a
  table renamed mid-history streams under its current names.
* **Maintenance commits are skipped** — a purge or OPTIMIZE commit
  (``data_change: false`` in its meta) changes no rows; both the append
  feed and the CDC mode stream nothing for it (Delta's ``dataChange``).
* A window that reaches a VACUUMED manifest (or needs one as a diff
  baseline) always raises — its data bytes are gone; restart from a
  retained version.

Scale shape: planning is driver-side manifest JSON only (O(files
touched), the same cost txn_read pays); row reads happen on EXECUTORS,
yielding Arrow record batches — the driver never materializes data. The
planned files are packed in order into read tasks of at most 128 MB,
each file counting its size plus 4 MB (Spark's file-source defaults
``maxPartitionBytes``/``openCostInBytes``), so a small window is one
task, not one per file. Shallow-cloned entries resolve
through their recorded base like every other reader.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from tdataframe_spark.sources.txn import (
    _PPREFIX,
    _abs_file,
    _commit_file_delta,
    _load,
    _mapping,
    _plain_schema,
    _versions,
    txn_latest,
)


# Spark's file-source defaults (spark.sql.files.maxPartitionBytes and
# openCostInBytes): planned files are packed in order into read tasks of
# at most this many bytes, each file costing its size plus the open cost
_MAX_PARTITION_BYTES = 128 << 20
_OPEN_COST_BYTES = 4 << 20


class _SlicePack(InputPartition):
    """One read task, self-contained for the executor: the pinned
    logical schema (JSON), the logical→physical mapping, and the task's
    slices in plan order — each an (absolute path, kind, commit version)
    of one added data or recorded-change file. ``kind`` is None for the
    plain append feed, 'insert' / 'cdf' for the CDC mode."""

    def __init__(self, schema_json: str, mapping: dict, slices: list):
        self.schema_json = schema_json
        self.mapping = mapping
        self.slices = slices


class TxnStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("txn_table stream needs .option('path', ...)")
        self.start_version = int(options.get("start_version", 0))
        self.ignore_changes = (
            str(options.get("ignore_changes", "false")).lower() == "true"
        )
        # admission control (Delta maxFilesPerTrigger's shape, by
        # COMMITS): cap how many manifest versions one micro-batch may
        # span. The Python DataSource API gives latestOffset() no view
        # of the stream's committed start (Scala's SupportsAdmission-
        # Control latestOffset(start, limit) is not exposed), so the
        # cap anchors on the last offset this reader PLANNED — the
        # first batch of a (re)start is unbounded (bound deep replays
        # with start_version), every steady-state batch under a
        # periodic trigger is capped. trigger(availableNow=True)
        # bypasses per-batch latestOffset entirely (Spark's wrapper
        # captures one end offset up front) — the cap is a no-op there.
        self.max_commits = int(options.get("max_commits_per_batch", 0))
        # CDC mode: emit _change_type/_commit_version per row — commits
        # with RECORDED change files (cdf.enabled MERGE/DELETE) stream
        # those; append-only commits stream their added files as inserts
        self.cdc = str(options.get("cdc", "false")).lower() == "true"
        self._progress: int | None = None  # last planned/committed end
        # RESTART admission control: with a caller-chosen stream_id the
        # reader persists its planned end offset next to the table
        # (atomic replace, best-effort) and restores it here — so the
        # FIRST batch after a clean restart is capped too, closing the
        # documented API gap (latestOffset never sees the committed
        # start; pending-batch replays already anchor via partitions()).
        # A FRESH stream (initialOffset) overrides any stale sidecar.
        self.stream_id = str(options.get("stream_id", "") or "")
        if self.stream_id and self.max_commits:
            try:
                with open(self._progress_path()) as f:
                    self._progress = int(f.read().strip())
            except (FileNotFoundError, ValueError, OSError):
                pass
        self.schema = schema
        # mapping pinned at stream start alongside the schema: the
        # manifest's field metadata carries each column's physical name
        _, manifest = txn_latest(self.path)
        if manifest is None:
            raise FileNotFoundError(
                f"no transactional table at {self.path}"
            )
        self.mapping = _mapping(
            StructType.fromJson(json.loads(manifest["schema"]))
        )

    def _progress_path(self) -> str:
        import hashlib
        import os as _os

        digest = hashlib.md5(self.stream_id.encode()).hexdigest()[:16]
        return _os.path.join(self.path, "_txn", f".progress-{digest}")

    def _save_progress(self, version: int) -> None:
        """Best-effort atomic sidecar write — the cap anchor, never a
        correctness input (Spark's checkpoint owns the real offsets; the
        anchor only bounds how far ahead one batch may plan)."""
        if not (self.stream_id and self.max_commits):
            return
        import os as _os
        import uuid as _uuid

        try:
            d = _os.path.join(self.path, "_txn")
            _os.makedirs(d, exist_ok=True)
            tmp = _os.path.join(d, f".progress-tmp-{_uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(str(version))
            _os.replace(tmp, self._progress_path())
        except OSError:
            pass

    def initialOffset(self) -> dict:
        # a FRESH stream starts here — anchor the admission cap so even
        # its first micro-batch is bounded, and take over any stale
        # sidecar from a previous stream under the same stream_id
        self._progress = self.start_version
        self._save_progress(self.start_version)
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        # hint-based O(1) head resolution (txn_latest), NOT a directory
        # listing — this runs on every micro-batch poll
        head, manifest = txn_latest(self.path)
        if manifest is None:
            return {"version": self.start_version}
        if self.max_commits and self._progress is not None:
            # never below already-planned progress: an offset that
            # moves backwards aborts the query
            head = max(self._progress, min(head, self._progress + self.max_commits))
        if self._progress is None or head > self._progress:
            self._save_progress(head)
        return {"version": head}

    def partitions(self, start: dict, end: dict):
        # the offset log's start IS the stream's committed progress —
        # record it so the admission cap anchors correctly (commit()
        # confirms the end after the batch lands)
        new_progress = max(self._progress or 0, start["version"], end["version"])
        if new_progress != self._progress:
            self._save_progress(new_progress)
        self._progress = new_progress
        have = set(_versions(self.path))
        gaps = [
            v for v in range(start["version"] + 1, end["version"] + 1)
            if v not in have
        ]
        if gaps:
            # vacuum unlinked those manifests — their data may be
            # reclaimed; skipping silently would be silent data loss
            raise ValueError(
                f"commits {gaps[0]}..{gaps[-1]} of {self.path} were "
                "vacuumed away — restart the stream with "
                f"start_version >= {max(gaps)}"
            )
        slices = []  # (absolute path, bytes, kind, commit version)
        for v in range(start["version"] + 1, end["version"] + 1):
            raw = _load(self.path, v)
            if raw.get("meta", {}).get("data_change") is False:
                # a purge or OPTIMIZE rewrites files without changing
                # rows (Delta's dataChange=false): nothing to stream
                continue
            if self.cdc and raw.get("cdf"):
                # recorded change files ARE the commit's complete
                # row-level change set — stream exactly those
                for p in raw["cdf"]:
                    ap = os.path.join(self.path, p)
                    slices.append((ap, os.path.getsize(ap), "cdf", v))
                continue
            delta = _commit_file_delta(self.path, v, raw)
            if delta is None:
                # no baseline: the commit's delta is unknowable, and an
                # empty one would re-emit every already-delivered row
                raise ValueError(
                    f"commit {v - 1} of {self.path} (the baseline for "
                    f"commit {v}) was vacuumed away — restart the stream "
                    f"with start_version >= {v}"
                )
            added, changed = delta
            if changed and not self.ignore_changes:
                raise ValueError(
                    f"commit {v} of {self.path} removed or hid rows "
                    "without recorded change files — enable the "
                    "cdf.enabled table property BEFORE such commits "
                    "(txn_set_properties) so MERGE/DELETE record "
                    "their changes, or pass ignore_changes=true to "
                    "stream only the added files"
                    if self.cdc else
                    f"commit {v} of {self.path} removed or hid rows "
                    "(overwrite/replace_where/MERGE/DELETE) — not an "
                    "append; pass ignore_changes=true to stream its "
                    "added files anyway (downstream must tolerate "
                    "re-emits), or consume txn_changes_since for CDC "
                    "(or txn_readstream(cdc=True) with cdf.enabled)"
                )
            kind = "insert" if self.cdc else None
            for f in added:
                ap = _abs_file(self.path, f)
                slices.append(
                    (ap, f.get("bytes") or os.path.getsize(ap), kind, v)
                )
        packs, cur, size = [], [], 0
        for ap, nbytes, kind, v in slices:
            cost = nbytes + _OPEN_COST_BYTES
            if cur and size + cost > _MAX_PARTITION_BYTES:
                packs.append(cur)
                cur, size = [], 0
            cur.append((ap, kind, v))
            size += cost
        if cur:
            packs.append(cur)
        sj = self.schema.json()
        return [_SlicePack(sj, self.mapping, p) for p in packs]

    def read(self, partition: _SlicePack):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        target = StructType.fromJson(json.loads(partition.schema_json))
        # CDC mode: the pinned stream schema carries the two feed
        # columns; they are synthesized below ('_change_type' from the
        # recorded change file itself on cdf slices), never resolved
        # through the column mapping
        arrow_target = to_arrow_schema(_plain_schema(target))
        for abs_path, kind, version in partition.slices:
            table = pq.read_table(abs_path)
            n = table.num_rows
            cols = []
            for field, spark_field in zip(arrow_target, target.fields):
                if spark_field.name == "_change_type":
                    if kind == "cdf":
                        col = table.column("_change_type").cast(field.type)
                    else:
                        col = pa.array(["insert"] * n, type=field.type)
                    cols.append(col)
                    continue
                if spark_field.name == "_commit_version":
                    cols.append(pa.array([version] * n, type=field.type))
                    continue
                phys = partition.mapping.get(
                    spark_field.name, spark_field.name
                )
                if phys in table.column_names:
                    col = table.column(phys).cast(field.type)
                else:
                    # file predates an additive evolution: NULL backfill
                    col = pa.nulls(n, type=field.type)
                cols.append(col)
            yield from pa.table(cols, schema=arrow_target).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; manifests are immutable


class TxnTableSource(DataSource):
    @classmethod
    def name(cls):
        return "txn_table"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("txn_table needs .option('path', ...)")
        _, manifest = txn_latest(path)
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        out = _plain_schema(
            StructType.fromJson(json.loads(manifest["schema"]))
        )
        if str(self.options.get("cdc", "false")).lower() == "true":
            from pyspark.sql.types import LongType, StringType, StructField

            out = StructType(
                list(out.fields)
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
        return out

    def streamReader(self, schema: StructType):
        return TxnStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return _sink_writer(schema, self.options, overwrite, streaming=False)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _sink_writer(schema, self.options, overwrite, streaming=True)


def register_txn_stream(spark) -> None:
    """Register the source for this session; afterwards
    ``spark.readStream.format("txn_table").option("path", ...)`` works
    anywhere. Same session-global Arrow side effect note as
    ``register_synthetic``."""
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.dataSource.register(TxnTableSource)


def txn_readstream(
    spark,
    path: str,
    start_version: int = 0,
    ignore_changes: bool = False,
    max_commits_per_batch: int = 0,
    stream_id: str | None = None,
    cdc: bool = False,
):
    """``readStream`` over a transactional table: registers the source
    and returns the streaming DataFrame. ``start_version`` is
    EXCLUSIVE — the first emitted commit is ``start_version + 1``
    (0 = replay the whole history). ``max_commits_per_batch`` > 0
    bounds how many commits one micro-batch may span under a PERIODIC
    trigger (admission control, Delta ``maxFilesPerTrigger``'s shape
    by commits). Restart coverage: a pending-batch replay re-anchors
    the cap automatically (``partitions`` sees the committed offsets);
    a CLEAN restart is also capped when ``stream_id`` (any stable
    caller-chosen string, unique per stream) is set — the reader
    persists its planned end offset in a tiny sidecar next to the
    table and restores it at restart, closing the documented API gap
    (``latestOffset`` never sees the committed start). Without a
    stream_id the first batch of a clean restart is uncapped.
    ``availableNow`` drains to one captured end offset regardless —
    bound deep-history replays with ``start_version``.

    ``cdc=True`` switches to the CHANGE-DATA-FEED mode: rows carry
    ``_change_type`` and ``_commit_version``; commits with recorded
    change files (MERGE/DELETE under the ``cdf.enabled`` table
    property) stream their exact pre/post images and deletes, append
    commits stream their added files as inserts, and a row-hiding
    commit WITHOUT recorded changes raises (enable cdf.enabled before
    merging/deleting). The batch counterpart is ``txn_change_feed``."""
    register_txn_stream(spark)
    return (
        spark.readStream.format("txn_table")
        .option("path", path)
        .option("start_version", start_version)
        .option("ignore_changes", str(bool(ignore_changes)).lower())
        .option("max_commits_per_batch", max_commits_per_batch)
        .option("stream_id", stream_id or "")
        .option("cdc", str(bool(cdc)).lower())
        .load()
    )


# ---------------------------------------------------------------------------
# Native SINK: two-phase commit through the manifest log
# ---------------------------------------------------------------------------

from dataclasses import dataclass  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _Staged(WriterCommitMessage):
    """One task's staged parquet files: ``(table-relative path,
    partition values)`` pairs — several per task on a partitioned
    table, empty when the task saw no rows."""

    files: list


def _fastpath_blocker(manifest: dict | None, mode: str) -> str | None:
    """Why this table cannot take the native sink's fast path, or None.
    ONE source of truth for both the up-front guard and the in-commit-
    loop race re-check: CHECK constraints (validation needs a SQL
    engine pass over the batch; refused in BOTH modes — an overwrite
    must carry the contract forward and validate against it, txn_write's
    documented behavior) and column mapping / retired physicals (files
    must be written under physical names). The latter clears under
    mode='overwrite', which resets the mapping like txn_write's.
    Partitioned layouts are handled natively since r10 (per-partition
    routing in the executor writer; layout races re-checked in the
    commit loop)."""
    if manifest is None:
        return None
    if manifest.get("constraints"):
        return (
            "carries CHECK constraints — the native sink cannot validate "
            "batches; write through txn_write/txn_upsert (or a "
            "foreachBatch txn sink) instead"
        )
    if manifest.get("generated"):
        return (
            "declares generated columns — the native sink cannot "
            "compute or validate SQL expressions; write through "
            "txn_write instead"
        )
    if mode == "overwrite":
        return None
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if manifest.get("retired_physical") or any(
        v != k for k, v in _mapping(schema).items()
    ):
        return (
            "uses column mapping — the native sink writes logical "
            "names; write through txn_write instead"
        )
    layouts = {
        # normalize to SORTED key tuples: values, not segment order,
        # drive pruning and replace_where — tables whose rewrites were
        # committed under a re-sorted key order (pre-_layout_order
        # versions of txn_upsert did this) are single-layout in every
        # way that matters and must not be refused as evolved
        tuple(sorted(f["partition"].keys()))
        for f in manifest.get("files", [])
    }
    if len(layouts) > 1:
        # an EVOLVED table carries several layouts — "inherit the
        # table's layout" is ambiguous (the first-file answer would be
        # whichever layout happens to sort first, possibly the
        # abandoned one); route to the engine-side writer, which takes
        # an explicit partition_by + allow_partition_evolution
        return (
            "has a mixed (evolved) partition layout — the native sink "
            "cannot infer which to inherit; write through "
            "txn_write(partition_by=..., allow_partition_evolution=True)"
        )
    return None


def _manifest_pcols(manifest: dict | None) -> list[str]:
    """The table's partition columns in directory-nesting order, from
    the head manifest's file entries (every txn writer records them in
    segment order; JSON objects preserve it). Only meaningful on
    single-layout tables — the blocker above refuses mixed ones (as
    sorted KEY SETS; entries may disagree on order, so callers compare
    layouts order-insensitively and the first entry's key set IS the
    table's)."""
    for f in (manifest or {}).get("files", []):
        return list(f["partition"].keys())
    return []


# Spark's own null-partition directory token — kept identical so
# partition_filter predicates written against txn_write tables match
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _pvalue(v) -> str:
    """A partition value as txn_write records it: Spark cast-to-string
    semantics for the types the sink ADMITS as partition columns (the
    _TxnWriterBase allowlist — null token, lowercase booleans;
    ints/strings/dates stringify identically in Python and the JVM).
    Float/decimal/timestamp renderings diverge (str(1e20)='1e+20' vs
    Spark '1.0E20') and are rejected before any value reaches here."""
    if v is None:
        return _HIVE_NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class _TxnWriterBase:
    def __init__(self, schema: StructType, options, mode: str):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("txn_table sink needs .option('path', ...)")
        self.schema = schema
        self.mode = mode
        manifest = txn_latest(self.path)[1]
        blocker = _fastpath_blocker(manifest, mode)
        if blocker:
            raise ValueError(f"{self.path} {blocker}")
        # partition columns: .option("partition_by", "a,b") on a fresh
        # table or an overwrite; appends INHERIT the table's layout (an
        # explicit option must agree with it — silently mixing layouts
        # would orphan partitions from replace_where/pruning)
        opt = options.get("partition_by")
        opt_cols = (
            [c.strip() for c in opt.split(",") if c.strip()] if opt else None
        )
        live = _manifest_pcols(manifest)
        if self.mode != "overwrite" and (manifest or {}).get("files"):
            # the table has data: its layout wins (live == [] means an
            # unpartitioned layout, which an option cannot override —
            # mixed layouts orphan partitions from pruning/replace_where).
            # Compared as KEY SETS: segment order varies across writers
            # and values, not order, drive pruning
            if opt_cols is not None and sorted(opt_cols) != sorted(live):
                raise ValueError(
                    f"{self.path} is partitioned by {live or 'nothing'}; "
                    f"appends cannot repartition to {opt_cols} — "
                    "overwrite the table to change its layout"
                )
            self.partition_cols = live
        else:
            self.partition_cols = opt_cols or []
        names = [f.name for f in schema.fields]
        missing = [c for c in self.partition_cols if c not in names]
        if missing:
            raise ValueError(
                f"partition column(s) {missing} not in the written "
                f"schema {names}"
            )
        # _pvalue must render values EXACTLY as txn_write's Spark
        # cast-to-string does, or sink-recorded partition values silently
        # mismatch engine-recorded ones for the same logical value
        # (str(1e20) = '1e+20' vs Spark '1.0E20') and partition_filter /
        # replace_where equality breaks. Only admit types whose Python
        # rendering provably agrees with the JVM's
        _SAFE_PART_TYPES = (
            "string", "integer", "long", "short", "byte", "boolean", "date",
        )
        by_name = {f.name: f for f in schema.fields}
        bad = {
            c: by_name[c].dataType.typeName()
            for c in self.partition_cols
            if by_name[c].dataType.typeName() not in _SAFE_PART_TYPES
        }
        if bad:
            raise ValueError(
                f"partition column type(s) {bad} are not supported by the "
                "native txn sink: Python and JVM string renderings diverge "
                "for float/decimal/timestamp values, which would corrupt "
                "partition_filter/replace_where equality — partition by a "
                "string/int/bool/date column, or write through txn_write"
            )

    # -- executor side ------------------------------------------------
    def write(self, iterator):
        """Stage this task's rows as parquet under data/stage-<uuid>/,
        routed into one file per table partition seen (hive ``__p_k=v``
        segments for layout parity with txn_write; the COMMIT MESSAGE
        carries each file's partition values — the manifest's source of
        truth — so no path parsing on the driver).

        Memory shape: 64k-row column chunks (never the whole task as
        Python objects) and a BOUNDED pool of open parquet writers — a
        task that interleaves many partitions closes the oldest writer
        and opens a fresh part file if that partition reappears, so
        peak memory is flat in both rows and distinct partitions.

        NOTE this is the Python DataSource row-iterator path (~10-50×
        slower per byte than txn_write's JVM parquet writers — the
        API's constraint, not a plan choice): the sink is for streaming
        exactly-once appends and modest batches; ``txn_write`` is the
        documented bulk-ingest path."""
        import itertools as _it
        import os as _os
        import uuid as _uuid
        from collections import OrderedDict
        from urllib.parse import quote as _quote

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(_plain_schema(self.schema))
        n_cols = len(arrow_schema)
        names = [f.name for f in self.schema.fields]
        p_idx = [names.index(c) for c in self.partition_cols]
        stage = _os.path.join(
            self.path, "data", f"stage-{_uuid.uuid4().hex}"
        )
        open_writers: OrderedDict = OrderedDict()  # pkey -> (writer, rel, part)
        done: list[tuple[str, dict]] = []
        seq = 0
        MAX_OPEN = 32

        def _open(pkey: tuple) -> tuple:
            nonlocal seq
            part = {
                c: _pvalue(v) for c, v in zip(self.partition_cols, pkey)
            }
            segs = [
                f"{_PPREFIX}{k}={_quote(v, safe='')}"
                for k, v in part.items()
            ]
            d = _os.path.join(stage, *segs)
            _os.makedirs(d, exist_ok=True)
            f = _os.path.join(d, f"part-{seq:05d}.parquet")
            seq += 1
            return (
                pq.ParquetWriter(f, arrow_schema),
                _os.path.relpath(f, self.path),
                part,
            )

        while True:
            chunk = list(_it.islice(iterator, 65536))
            if not chunk:
                break
            groups: dict[tuple, list] = {}
            for r in chunk:
                groups.setdefault(
                    tuple(r[i] for i in p_idx), []
                ).append(r)
            for pkey, rows in groups.items():
                if pkey in open_writers:
                    open_writers.move_to_end(pkey)
                else:
                    if len(open_writers) >= MAX_OPEN:
                        w, rel, part = open_writers.popitem(last=False)[1]
                        w.close()
                        done.append((rel, part))
                    open_writers[pkey] = _open(pkey)
                writer = open_writers[pkey][0]
                cols = [
                    pa.array(
                        [r[i] for r in rows],
                        type=arrow_schema.field(i).type,
                    )
                    for i in range(n_cols)
                ]
                writer.write_batch(
                    pa.record_batch(cols, schema=arrow_schema)
                )
        for w, rel, part in open_writers.values():
            w.close()
            done.append((rel, part))
        return _Staged(done)

    # -- driver side ----------------------------------------------------
    def _land(self, messages) -> list[dict]:
        """Move every task's staged files into ONE fresh commit dir
        (partition dirs preserved) and return manifest file entries
        with their recorded partition values (same-filesystem renames;
        a crash mid-move leaves only unreferenced files that vacuum
        ages out — the same window every txn writer already has)."""
        import os as _os
        import uuid as _uuid
        from urllib.parse import quote as _quote

        staged = [t for m in messages if m for t in m.files]
        if not staged:
            return []
        commit_id = _uuid.uuid4().hex[:12]
        dest_root = _os.path.join(self.path, "data", commit_id)
        entries = []
        for i, (rel, part) in enumerate(sorted(staged, key=lambda t: t[0])):
            segs = [
                f"{_PPREFIX}{k}={_quote(v, safe='')}"
                for k, v in part.items()
            ]
            dest = _os.path.join(dest_root, *segs)
            _os.makedirs(dest, exist_ok=True)
            name = f"part-{i:05d}-{_uuid.uuid4().hex[:8]}.parquet"
            _os.replace(
                _os.path.join(self.path, rel), _os.path.join(dest, name)
            )
            entries.append({
                "path": _os.path.relpath(_os.path.join(dest, name), self.path),
                "partition": dict(part),
            })
        return entries

    def _publish_append(
        self, new_files: list[dict], meta: dict, app_version: int | None = None
    ) -> int:
        """txn_write's commit, reduced to the guarded fast path (no
        stats, no constraints, identity mapping). The fast-path
        preconditions are RE-CHECKED against the live head on every
        attempt: a constraint or column-DDL commit racing this write
        must raise, not be silently erased by a manifest built without
        those keys.

        ``app_version`` (the streaming sink's batch id) is checked
        against the head's watermark for ``self.app_id`` on every
        attempt: at or below it the batch already landed, so the staged
        files are dropped and the head version is returned; otherwise
        the commit records it (txn_write's idempotent-write rule)."""
        import os as _os
        import shutil as _shutil

        from tdataframe_spark.sources.txn import (
            ConcurrentWriteError,
            _commit,
            _merge_schemas,
            _next_manifest,
        )

        schema_json = _plain_schema(self.schema).json()

        def _drop_staged():
            if new_files:
                # entries all live under data/<commit_id>/...: remove
                # that commit root, partition dirs included
                d, cid = new_files[0]["path"].split(_os.sep)[:2]
                _shutil.rmtree(
                    _os.path.join(self.path, d, cid), ignore_errors=True
                )

        def build(version, latest):
            apps = (latest or {}).get("apps", {})
            if app_version is not None and (
                apps.get(self.app_id, -1) >= app_version
            ):
                _drop_staged()
                return None
            blocker = _fastpath_blocker(latest, self.mode)
            if blocker:
                # the blocker string names the cause and remedy
                # (constraints, generated columns, column mapping, or a
                # mixed layout) — surface it instead of guessing which
                _drop_staged()
                raise ConcurrentWriteError(
                    f"{self.path} {blocker} (landed under this "
                    "native-sink write)"
                )
            if self.mode != "overwrite" and (latest or {}).get("files"):
                # layout race: a writer overwrote the table into a
                # DIFFERENT partitioning while our files were staged —
                # committing them anyway would mix layouts silently
                if sorted(_manifest_pcols(latest)) != sorted(
                    self.partition_cols
                ):
                    _drop_staged()
                    raise ConcurrentWriteError(
                        f"{self.path} was repartitioned to "
                        f"{_manifest_pcols(latest) or 'unpartitioned'} "
                        f"under this native-sink write (staged as "
                        f"{self.partition_cols or 'unpartitioned'}) — "
                        "re-run the write against the new layout"
                    )
            if self.mode == "overwrite":
                # like txn_write's overwrite: files, DVs, schema and
                # retired physicals reset (constraints and generated
                # rules are guarded absent; the rest carries over)
                changes = dict(
                    files=new_files, dv=[], schema=schema_json,
                    retired_physical=None,
                )
            else:
                changes = dict(
                    files=(latest or {}).get("files", []) + new_files,
                    schema=_merge_schemas(
                        (latest or {}).get("schema"), schema_json
                    ),
                )
            if app_version is not None:
                changes["apps"] = {**apps, self.app_id: app_version}
            return _next_manifest(version, latest, meta, **changes)

        return _commit(self.path, build, "on")

    def _clean(self, messages) -> None:
        import os as _os
        import shutil as _shutil

        for m in messages:
            if m and m.files:
                # every file of a task lives under ONE data/stage-<uuid>
                # root (possibly below partition segments)
                d, sid = m.files[0][0].split(_os.sep)[:2]
                _shutil.rmtree(
                    _os.path.join(self.path, d, sid), ignore_errors=True
                )

    def abort(self, messages, *_args) -> None:
        self._clean(messages)


class TxnBatchWriter(_TxnWriterBase, DataSourceWriter):
    def commit(self, messages) -> None:
        new_files = self._land(messages)
        if new_files or self.mode == "overwrite":
            self._publish_append(new_files, {"sink": "txn_table"})


class TxnStreamWriter(_TxnWriterBase, DataSourceStreamWriter):
    """Streaming sink: each micro-batch is ONE manifest commit. The
    replay fence is the table's per-app watermark (txn_write's
    ``app_id``/``app_version``, Delta's SetTransaction): the writer's
    app id is ``txn_table:<checkpoint id>`` and every commit records
    ``apps[app_id] = batchId`` atomically with its files. A batch that
    Spark replays after a crash between the sink commit and the
    checkpoint commit finds its id at or below the watermark and lands
    nothing. A query on a fresh checkpoint is a new writer: its batches
    land (Delta's semantics)."""

    def __init__(self, schema: StructType, options, mode: str):
        super().__init__(schema, options, mode)
        checkpoint = options.get("checkpointlocation")
        if not checkpoint:
            raise ValueError(
                "txn_table stream sink needs "
                '.option("checkpointLocation", ...): the checkpoint names '
                "the writer whose batch ids fence replays"
            )
        from tdataframe_spark.streaming.ops import _ckpt_id

        self.app_id = f"txn_table:{_ckpt_id(checkpoint)}"

    def commit(self, messages, batchId: int) -> None:
        new_files = self._land(messages)
        if new_files:
            self._publish_append(
                new_files, {"sink": "txn_table", "batch_id": batchId},
                app_version=batchId,
            )


def _sink_writer(schema: StructType, options, overwrite: bool, streaming):
    mode = "overwrite" if overwrite else "append"
    return (
        TxnStreamWriter(schema, options, mode)
        if streaming
        else TxnBatchWriter(schema, options, mode)
    )
