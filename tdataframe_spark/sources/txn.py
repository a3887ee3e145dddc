"""Minimal transactional parquet table — an Iceberg/Delta-shaped
manifest/commit-log over plain parquet files.

The directory-swap sinks (``streaming/ops.py``, ``sources/layout.py``)
are single-writer and had a disclosed crash window between state swap
and applied-batch marker. This layer replaces both with the standard
lakehouse commit protocol, scaled down to what the engine needs:

``table_root/
    data/<commit-id>/[__p_day=5/]part-*.parquet   immutable data files
    _txn/manifest-000000000042.json               one manifest per commit``

Manifests form an INCREMENTAL commit log (Delta's ``_delta_log``
shape): most commits serialize only their delta — ``log: {add,
remove, dv_add, dv_remove}`` — while every Nth commit (default 20;
``txn.checkpoint_interval`` table property) is a full CHECKPOINT
listing the complete live set. Readers reconstruct any snapshot from
the nearest checkpoint plus the delta suffix (cached in-process), so
a 1-file append to a 10⁶-file table writes kilobytes, not the whole
file list, and the streaming source reads each commit's added files
from one delta JSON without touching the parent. Checkpoints above
``txn.parquet_checkpoint_rows`` state rows (default 4096) externalize
their file/DV lists to a PARQUET sidecar (Delta's parquet-checkpoint
idea) — the manifest JSON stays O(meta) and cold readers stream a
compressed columnar file instead of parsing one giant JSON string.

* **Atomic commit** — a manifest is staged to a temp file, fsynced,
  then ``os.link``-ed to its final ``manifest-N`` name. ``link`` is
  atomic and fails with EEXIST if another writer published N first, so
  a commit either fully exists or doesn't; readers can never observe a
  torn manifest. (Same single-file-commit idea as Delta's ``_delta_log``
  / Iceberg's metadata pointer swap; on HDFS/S3 the link becomes a
  rename-if-absent / conditional PUT.)
* **Snapshot isolation** — a manifest names the COMPLETE live file set;
  data files are immutable once committed and never rewritten in place,
  so a reader pinned to version N sees exactly N's bytes regardless of
  later commits (until ``txn_vacuum`` reclaims retired files).
* **Optimistic concurrency** — writers race on the next manifest
  number; the loser recomputes its live set against the new latest and
  retries. Appends therefore never lose data under concurrent writers.
  Conflicting ``replace_where`` on the same partition is last-wins by
  default; pass ``expected_version`` for strict compare-and-swap.
* **Exactly-once for streaming folds** — every stream writer (the
  native ``txn_table`` sink and the foreachBatch fold sinks) commits
  with ``app_id``/``app_version``: the writer's checkpoint id and the
  micro-batch id. Every manifest carries the per-app watermark
  (``apps``, Delta's SetTransaction), so the applied batch id becomes
  visible atomically WITH the state change, and a replayed batch at or
  below the head's watermark commits nothing. This closes the
  swap-then-marker window the ``_staged_swap`` sinks disclosed; the
  watermark rides the head, so no older manifest has to survive
  ``txn_vacuum`` to keep it.

Partition handling: ``partition_by`` columns are DUPLICATED into hive
dirs (``__p_day=5``) so the real column stays in the data files —
reading a manifest's leaf files directly needs no basePath/partition
inference, while the manifest still records per-file partition values
(as strings) for file-level pruning and ``replace_where`` replacement.

Scale note: at 100 TB the manifest lists files, not rows — and the
incremental log makes commit cost O(files TOUCHED) end to end,
manifest serialization included (a checkpoint every N commits
amortizes the full listing to O(live files / N) per commit). Reads
prune on manifest partition values before Spark ever lists a
directory, and compaction is just another ``replace_where`` commit.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_TXN = "_txn"
_PPREFIX = "__p_"


class ConcurrentWriteError(RuntimeError):
    """Raised when a commit loses the optimistic-concurrency race more
    times than ``max_retries``, or when ``expected_version`` no longer
    matches the table head (strict CAS mode)."""


class ConstraintViolationError(ValueError):
    """Raised when a write's rows violate a table CHECK constraint, or
    when ``txn_add_constraint`` finds existing rows violating the new
    constraint (either way: nothing is committed)."""


def is_txn_table(path: str) -> bool:
    return os.path.isdir(os.path.join(path, _TXN))


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _TXN, f"manifest-{version:012d}.json")


def _versions(path: str) -> list[int]:
    d = os.path.join(path, _TXN)
    if not os.path.isdir(d):
        return []
    out = []
    for n in os.listdir(d):
        if n.startswith("manifest-") and n.endswith(".json"):
            out.append(int(n[len("manifest-"):-len(".json")]))
    return sorted(out)

def _load(path: str, version: int) -> dict:
    """RAW manifest bytes of one commit — a full checkpoint ({'files',
    'dv'} complete), a PARQUET checkpoint ({'state_parquet': sidecar}
    with the lists externalized), or an incremental delta ({'log':
    {add, remove, dv_add, dv_remove}}). Most callers want
    :func:`_materialize`, which reconstructs the complete snapshot
    state in every case; meta-only consumers (history, hints)
    stay O(1) on all three forms."""
    with open(_manifest_path(path, version)) as f:
        m = json.load(f)
    if m.get("vacuumed"):
        # older logs kept a vacuumed fence manifest with its files
        # stripped; its snapshot is gone like any unlinked version
        raise FileNotFoundError(
            f"version {version} of {path} was vacuumed (a stamped "
            "manifest of an older log format) — its data files are "
            "reclaimed"
        )
    return m


# Above this many state rows (files + dv entries) a checkpoint's lists
# are externalized to a PARQUET sidecar next to the manifest instead of
# being serialized into its JSON (Delta's parquet-checkpoint idea): at
# 10^6 files a JSON checkpoint is a ~10^2 MB single-string parse per
# cold reader, while the parquet form is compressed, row-batch-streamed
# and column-pruned by the reader. Overridable per table via the
# txn.parquet_checkpoint_rows property (0 disables).
_PARQUET_CKPT_ROWS = 4096


def _ckpt_parquet_write(abs_dir: str, name: str, files: list, dv: list):
    """Write a checkpoint state sidecar: rows of (kind, entry-JSON).
    Entries keep their exact manifest JSON form (dicts, or legacy bare
    DV strings), so the round-trip is byte-faithful; parquet framing
    buys compression + streamed decode without a bespoke schema for
    the irregular stats/bloom/partition maps. The file is fully
    FSYNCED before it takes its final name: the manifest that will
    reference it is the layer's durability anchor, and a journaled
    manifest pointing at unsynced sidecar pages would break the
    visible-means-complete commit guarantee after a power loss."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    kinds = ["f"] * len(files) + ["dv"] * len(dv)
    entries = [json.dumps(e) for e in files] + [json.dumps(e) for e in dv]
    tmp = os.path.join(abs_dir, f".tmp-{uuid.uuid4().hex}.parquet")
    try:
        pq.write_table(pa.table({"kind": kinds, "entry": entries}), tmp)
        fd = os.open(tmp, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.replace(tmp, os.path.join(abs_dir, name))
    except BaseException:
        # disk-full mid-write must not leak a multi-MB temp forever
        # (_publish unlinks its JSON temp the same way)
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    try:
        # persist the rename itself (best-effort: not every fs/OS
        # supports directory fds)
        dfd = os.open(abs_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass


def _ckpt_parquet_read(path: str, raw: dict) -> dict:
    """Expand a {'state_parquet': sidecar} manifest to its full form
    (the sidecar ref is stripped — consumers see exactly what a JSON
    checkpoint would have carried)."""
    import pyarrow.parquet as pq

    sidecar = os.path.join(path, _TXN, raw["state_parquet"])
    if not os.path.exists(sidecar):
        # same operator contract as a broken delta chain: name the
        # likely cause instead of surfacing a raw pyarrow path error
        raise FileNotFoundError(
            f"checkpoint state sidecar {raw['state_parquet']!r} of "
            f"{path} is missing (vacuumed away, or a copy/backup took "
            "manifest-*.json without checkpoint-*.parquet?) — the "
            "snapshot cannot be reconstructed"
        )
    t = pq.read_table(sidecar, columns=["kind", "entry"])
    files, dv = [], []
    for kind, entry in zip(t["kind"].to_pylist(), t["entry"].to_pylist()):
        (files if kind == "f" else dv).append(json.loads(entry))
    out = {k: v for k, v in raw.items() if k != "state_parquet"}
    out["files"] = files
    out["dv"] = dv
    return out


def _externalize_if_big(path: str, version: int, on_disk: dict) -> dict:
    """The ONE externalization rule both manifest writers (_publish and
    vacuum's in-place rewrites) apply: when a full-form manifest's
    state rows cross ``txn.parquet_checkpoint_rows`` (default 4096;
    0 disables), move files+dv to a parquet sidecar and return the
    O(meta) manifest carrying ``state_parquet``; otherwise return the
    manifest unchanged."""
    if "files" not in on_disk:
        return on_disk
    try:
        thr = int(
            (on_disk.get("properties") or {}).get(
                "txn.parquet_checkpoint_rows", _PARQUET_CKPT_ROWS
            )
        )
    except (TypeError, ValueError):
        thr = _PARQUET_CKPT_ROWS
    n_rows = len(on_disk["files"]) + len(on_disk.get("dv", []))
    if thr <= 0 or n_rows < thr:
        return on_disk
    sidecar = f"checkpoint-{version:012d}-{uuid.uuid4().hex[:8]}.parquet"
    _ckpt_parquet_write(
        os.path.join(path, _TXN), sidecar,
        on_disk["files"], on_disk.get("dv", []),
    )
    out = {k: v for k, v in on_disk.items() if k not in ("files", "dv")}
    out["state_parquet"] = sidecar
    return out


def _dv_key(e) -> str:
    """Identity key of a DV manifest entry (dict or legacy bare path)."""
    return e["path"] if isinstance(e, dict) else e


# Reconstructed snapshot states, keyed by (table abspath, version) and
# validated against the manifest file's (mtime_ns, size) — manifests are
# immutable once published EXCEPT when vacuum materializes the oldest
# retained version in place, which changes the signature and misses the
# cache. Bounded: states share entry dicts with each other, so the
# marginal cost per entry is one list + one dict shell.
from collections import OrderedDict as _OrderedDict

_STATE_CACHE: _OrderedDict = _OrderedDict()
_STATE_CACHE_MAX = 64


def _manifest_sig(path: str, version: int) -> tuple:
    st = os.stat(_manifest_path(path, version))
    return (st.st_mtime_ns, st.st_size)


def _cache_state(path_key: str, version: int, sig: tuple, state: dict):
    _STATE_CACHE[(path_key, version)] = (sig, state)
    while len(_STATE_CACHE) > _STATE_CACHE_MAX:
        _STATE_CACHE.popitem(last=False)


def _materialize(path: str, version: int, raw: dict | None = None) -> dict:
    """Full snapshot STATE at ``version``: the manifest with complete
    ``files`` and ``dv`` lists. Checkpoint manifests pass through; a
    delta manifest is reconstructed by walking back to the nearest
    full (checkpoint / cached) ancestor and replaying the delta chain
    forward — the read half of the incremental commit log (the write
    half is :func:`_publish`'s diff). Every intermediate state along
    the walk is cached, so a sequence of resolutions (history, vacuum,
    the change feed) is O(1) amortized per version.

    Every key but files/dv rides each manifest in full (the table-state
    rule is :func:`_next_manifest`'s), so only files/dv need replay."""
    def _copy(state: dict) -> dict:
        # defensive shell copy: callers may extend/replace the lists
        # (writers build live sets) — the cached
        # state and its entry dicts stay shared and untouched
        out = dict(state)
        out["files"] = list(state.get("files", []))
        out["dv"] = list(state.get("dv", []))
        return out

    m = raw if raw is not None else _load(path, version)
    if "log" not in m and "state_parquet" not in m:
        return m
    path_key = os.path.abspath(path)
    sig = _manifest_sig(path, version)
    hit = _STATE_CACHE.get((path_key, version))
    if hit is not None and hit[0] == sig:
        _STATE_CACHE.move_to_end((path_key, version))
        return _copy(hit[1])
    if "state_parquet" in m:
        # a parquet checkpoint is self-contained: expand its sidecar
        # (one columnar read, cached like any reconstructed state)
        state = _ckpt_parquet_read(path, m)
        _cache_state(path_key, version, sig, state)
        return _copy(state)
    chain = [(version, m, sig)]
    base = None
    v = version
    while base is None:
        v -= 1
        if v < 1:
            raise FileNotFoundError(
                f"cannot reconstruct version {version} of {path}: no "
                "full ancestor manifest below the delta chain"
            )
        try:
            am = _load(path, v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"cannot reconstruct version {version} of {path}: the "
                f"delta chain is broken at missing manifest {v} "
                "(vacuumed away?)"
            ) from None
        if "log" not in am:
            # a JSON checkpoint IS the base; a parquet one expands
            # (recursing into the state_parquet branch above, cached)
            base = (
                am
                if "state_parquet" not in am
                else _materialize(path, v, raw=am)
            )
            continue
        asig = _manifest_sig(path, v)
        ahit = _STATE_CACHE.get((path_key, v))
        if ahit is not None and ahit[0] == asig:
            base = ahit[1]
            continue
        chain.append((v, am, asig))
    files = {f["path"]: f for f in base.get("files", [])}
    dv = {_dv_key(e): e for e in base.get("dv", [])}
    state = None
    for cv, cm, csig in reversed(chain):
        log = cm["log"]
        for p in log.get("remove", []):
            files.pop(p, None)
        for f in log.get("add", []):
            files[f["path"]] = f
        for k in log.get("dv_remove", []):
            dv.pop(k, None)
        for e in log.get("dv_add", []):
            dv[_dv_key(e)] = e
        state = {k: val for k, val in cm.items() if k != "log"}
        # the snapshot lists are frozen per version (list() below);
        # continuing the replay mutates only the working dicts
        state["files"] = list(files.values())
        state["dv"] = list(dv.values())
        _cache_state(path_key, cv, csig, state)
    return _copy(state)


def _hint_path(path: str) -> str:
    return os.path.join(path, _TXN, "_last")


def txn_latest(path: str) -> tuple[int, dict | None]:
    """(latest version, manifest) — (0, None) for a fresh/absent table.

    Head resolution is O(1), not O(#commits): writers drop a best-effort
    version HINT after publishing (the Iceberg version-hint idea), and
    the reader probes forward from it until the first missing manifest —
    a stale hint (crashed writer, lost race) costs a few extra stat
    calls, never a wrong answer, and a missing/corrupt hint falls back
    to the directory listing. On S3 this is the difference between one
    GET and a LIST over thousands of commit files per read.

    The forward probe assumes manifests are CONTIGUOUS above the hint.
    ``txn_vacuum`` keeps that true: it unlinks every manifest below its
    window and nothing above it, so a hint at a surviving version
    probes to the real head, and a hint at an unlinked one falls back
    to the listing."""
    hint = None
    try:
        with open(_hint_path(path)) as f:
            hint = int(f.read().strip())
    except (FileNotFoundError, ValueError, NotADirectoryError):
        pass
    if hint is not None and os.path.exists(_manifest_path(path, hint)):
        v = hint
        while os.path.exists(_manifest_path(path, v + 1)):
            v += 1
        return v, _materialize(path, v)
    vs = _versions(path)
    if not vs:
        return 0, None
    return vs[-1], _materialize(path, vs[-1])


def _write_hint(path: str, version: int) -> None:
    """Best-effort, crash-safe hint update (atomic replace; monotonic —
    never moves the hint backwards under racing writers)."""
    try:
        try:
            with open(_hint_path(path)) as f:
                if int(f.read().strip()) >= version:
                    return
        except (FileNotFoundError, ValueError):
            pass
        tmp = os.path.join(path, _TXN, f".hint-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, _hint_path(path))
    except OSError:
        pass  # the hint is an optimization, never required


def txn_snapshots(path: str) -> list[tuple[int, dict]]:
    """All (version, commit meta) pairs, oldest first."""
    return [(v, _load(path, v).get("meta", {})) for v in _versions(path)]


# A full (checkpoint) manifest is written every N commits; the commits
# between carry only {added, removed} deltas. Overridable per table via
# the txn.checkpoint_interval property (txn_set_properties).
_CHECKPOINT_EVERY = 20


def _commit_form(path: str, version: int, manifest: dict) -> dict:
    """The on-disk form of a commit: the full ``manifest`` when a
    checkpoint is due (every txn.checkpoint_interval-th version, a
    fresh/unreconstructable parent, or a delta that would not be
    smaller), else an incremental delta manifest — everything except
    files/dv plus ``log: {add, remove, dv_add, dv_remove}`` diffed
    against the parent state. This is what makes commit cost O(files
    touched): a 1-file append to a 10⁶-file table serializes one entry,
    not the live set (the Delta _delta_log / Iceberg manifest-list
    idea), while :func:`_materialize` reconstructs complete snapshots
    from checkpoint + suffix on read."""
    if "files" not in manifest:
        return manifest
    try:
        interval = int(
            (manifest.get("properties") or {}).get(
                "txn.checkpoint_interval", _CHECKPOINT_EVERY
            )
        )
    except (TypeError, ValueError):
        interval = _CHECKPOINT_EVERY
    if version <= 1 or (interval > 0 and version % interval == 0):
        return manifest
    try:
        parent = _materialize(path, version - 1)
    except FileNotFoundError:
        return manifest
    pf = {f["path"]: f for f in parent.get("files", [])}
    nf = {f["path"]: f for f in manifest["files"]}
    add = [f for p, f in nf.items() if pf.get(p) != f]
    remove = [p for p in pf if p not in nf]
    pdv = {_dv_key(e): e for e in parent.get("dv", [])}
    ndv = {_dv_key(e): e for e in manifest.get("dv", [])}
    dv_add = [e for k, e in ndv.items() if pdv.get(k) != e]
    dv_remove = [k for k in pdv if k not in ndv]
    if len(add) + len(remove) + len(dv_add) + len(dv_remove) >= max(
        1, len(pf) + len(pdv)
    ):
        return manifest  # the delta is no smaller — checkpoint instead
    out = {k: v for k, v in manifest.items() if k not in ("files", "dv")}
    log: dict = {}
    if add:
        log["add"] = add
    if remove:
        log["remove"] = remove
    if dv_add:
        log["dv_add"] = dv_add
    if dv_remove:
        log["dv_remove"] = dv_remove
    out["log"] = log
    return out


def _publish(path: str, version: int, manifest: dict) -> bool:
    """Atomically publish ``manifest`` as version ``version``. The JSON
    is fully written+fsynced to a temp name first; ``os.link`` then
    makes it visible in one atomic step (EEXIST → another writer won).
    On disk the commit lands as a delta or a checkpoint
    (:func:`_commit_form`); callers keep passing complete manifests."""
    d = os.path.join(path, _TXN)
    os.makedirs(d, exist_ok=True)
    on_disk = _commit_form(path, version, manifest)
    # big checkpoint: externalize the state lists to a parquet sidecar
    # (written + fsynced FIRST — the JSON link below makes the commit
    # visible atomically; a lost race unlinks it)
    on_disk = _externalize_if_big(path, version, on_disk)
    sidecar = on_disk.get("state_parquet")
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(on_disk, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(path, version))
        _write_hint(path, version)
        return True
    except FileExistsError:
        if sidecar is not None:
            try:
                os.unlink(os.path.join(d, sidecar))
            except OSError:
                pass
        return False
    finally:
        os.unlink(tmp)


# TABLE STATE: what every commit inherits from its parent unless it is
# the commit that changes it. Every other manifest key is a fact of one
# commit (see _next_manifest).
_STATE_KEYS = (
    "files", "schema", "dv", "retired_physical",
    "constraints", "generated", "properties", "apps",
)


def _next_manifest(
    version: int, head: dict | None, meta: dict, cdf=None, **changes
) -> dict:
    """The complete manifest of the commit after ``version``, whose
    state is ``head`` — the one place that decides what a commit
    carries, so no commit can drop table state by omission.

    * TABLE STATE (``_STATE_KEYS``: live files, schema, deletion
      vectors, retired physical names, CHECK constraints, generated-
      column rules, properties, writer-app watermarks) is taken from
      ``head`` as is, except the keys named in ``changes``, which
      replace it; a ``None`` value drops the key. ``files``/``schema``/
      ``dv`` are always written, the other state keys only when
      non-empty.
    * COMMIT FACTS — ``version``, ``parent``, ``ts`` (wall clock, the
      time-travel anchor), ``meta``, and ``cdf`` (the commit's recorded
      change files, when given) — belong to this commit alone and are
      never inherited.

    No other key appears on a manifest (``_commit_form`` later swaps
    ``files``/``dv`` for a delta ``log`` or a parquet sidecar on
    disk)."""
    assert set(changes) <= set(_STATE_KEYS), sorted(changes)
    state = {k: (head or {}).get(k) for k in _STATE_KEYS}
    state.update(changes)
    out = {
        "version": version + 1,
        "parent": version,
        "ts": time.time(),
        "files": state["files"],
        "schema": state["schema"],
        "dv": state["dv"] or [],
        "meta": meta,
    }
    if cdf:
        out["cdf"] = list(cdf)
    for k in _STATE_KEYS[3:]:
        if state[k]:
            out[k] = state[k]
    return out


def _commit(
    path: str, build, what: str, max_retries: int = 50, on_lost=None
) -> int:
    """The one optimistic-concurrency loop every commit runs: read the
    head, ``build(version, head)`` the next manifest (``None`` means
    there is nothing to commit: the head version is returned), publish
    it as ``version + 1``; after a lost race call ``on_lost`` (drop what
    the attempt staged, or raise) and rebuild against the new head.
    Returns the committed version."""
    for _ in range(max_retries):
        version, head = txn_latest(path)
        manifest = build(version, head)
        if manifest is None:
            return version
        if _publish(path, version + 1, manifest):
            return version + 1
        if on_lost is not None:
            on_lost()
    raise ConcurrentWriteError(
        f"gave up after {max_retries} commit races {what} {path}"
    )


def _collect_files(commit_dir: str, root: str) -> list[dict]:
    """Walk a freshly-written commit dir for parquet leaves; parse
    ``__p_k=v`` path segments into per-file partition values (hive
    escaping undone; values kept as strings — pruning compares on str)."""
    out = []
    for dirpath, _dirs, names in os.walk(commit_dir):
        rel_dir = os.path.relpath(dirpath, commit_dir)
        part = {}
        if rel_dir != ".":
            for seg in rel_dir.split(os.sep):
                if seg.startswith(_PPREFIX) and "=" in seg:
                    k, v = seg[len(_PPREFIX):].split("=", 1)
                    part[k] = unquote(v)
        for n in sorted(names):
            if n.startswith(("_", ".")) or not n.endswith(".parquet"):
                continue
            out.append({
                "path": os.path.relpath(os.path.join(dirpath, n), root),
                "partition": part,
                # size rides the manifest (Delta's add-action shape) so
                # metadata consumers (txn_files, compaction planning)
                # never re-list the filesystem
                "bytes": os.path.getsize(os.path.join(dirpath, n)),
            })
    return out


_DV_FILE, _DV_POS = "__dv_file", "__dv_pos"
_DV_SCHEMA = f"{_DV_FILE} string, {_DV_POS} bigint"


def _with_row_refs(df: DataFrame) -> DataFrame:
    """Attach the deletion-vector row key: (manifest-relative data file
    path, in-file row position). The file key is everything after the
    table's internal ``/data/`` segment — the same format manifests
    record — NOT the bare part-file name (a partitioned write reuses
    one task's part name across every partition directory) and NOT the
    full ``_metadata.file_path`` URI (which would break on table
    relocation and vary with the filesystem's URI rendering). Taking
    the LAST ``/data/`` occurrence is safe: commit ids are hex and
    partition path segments hive-escape ``/``, so the internal marker
    cannot be shadowed deeper in the path."""
    return df.select(
        "*",
        F.concat(
            F.lit("data/"),
            F.substring_index(F.col("_metadata.file_path"), "/data/", -1),
        ).alias(_DV_FILE),
        F.col("_metadata.row_index").alias(_DV_POS),
    )


def _dv_paths(dv_entries) -> list[str]:
    """DV parquet paths from manifest entries. An entry is a dict
    ``{"path": ..., "refs": [data file paths it references]}`` (refs let
    replace_where prune entries whose files were all dropped); bare
    string entries (pre-refs manifests) are accepted too."""
    return [e["path"] if isinstance(e, dict) else e for e in dv_entries or []]


def _abs_file(path: str, f: dict) -> str:
    """Filesystem path of a manifest file entry. ``path`` (the table
    root) resolves ordinary entries; a SHALLOW-CLONED entry instead
    carries ``base`` — the absolute root of the table it was cloned
    from — while its ``path`` key stays the manifest-relative
    ``data/<commit>/...`` form every identity comparison in this module
    (DV row refs, replace_where pruning, vacuum live sets, purge
    targets) is keyed by. Commit ids are uuid-hex, so a foreign and a
    local entry can never collide on that key."""
    return os.path.join(f.get("base") or path, f["path"])


def _rel_from_scan_uri(absmap: dict, uri: str, path: str, what: str) -> str:
    """Map an ``input_file_name()`` URI back to its manifest-relative
    path via an {abspath: rel} map — the decoding quirks (file: scheme,
    percent-encoding, abspath keying for cwd-relative table paths) live
    HERE once for every executor-scan consumer (merge probe, bloom
    build)."""
    from urllib.parse import unquote as _unq
    from urllib.parse import urlparse as _urlparse

    p = os.path.abspath(_unq(_urlparse(uri).path))
    rel = absmap.get(p)
    if rel is None:
        raise RuntimeError(
            f"{what} returned {uri!r}, not an expected file of {path}"
        )
    return rel


def _dv_abs_paths(path: str, dv_entries) -> list[str]:
    """Filesystem paths of DV entries — same ``base`` rule as
    :func:`_abs_file` (a shallow clone inherits its source's deletion
    vectors by reference)."""
    out = []
    for e in dv_entries or []:
        if isinstance(e, dict):
            out.append(os.path.join(e.get("base") or path, e["path"]))
        else:
            out.append(os.path.join(path, e))
    return out


def _read_dv(spark: SparkSession, path: str, manifest: dict | None):
    """The manifest's deletion-vector table, or None when it has none."""
    abss = _dv_abs_paths(path, (manifest or {}).get("dv"))
    if not abss:
        return None
    return spark.read.schema(_DV_SCHEMA).parquet(*abss)


def _file_stats(abs_path: str, cols: set[str], _md=None) -> dict:
    """Per-file min/max of ``cols`` from the parquet footer (driver-side,
    metadata only — no data pages read). Values are kept JSON-portable
    (int/float/str); columns without usable statistics are omitted, which
    downstream pruning treats as 'keep the file' (safe). ``_md`` lets a
    caller that already opened the footer pass it in (txn_write's
    zero-row pruning — one footer open per fresh file, not two)."""
    import pyarrow.parquet as pq

    agg: dict[str, list] = {}
    md = _md if _md is not None else pq.ParquetFile(abs_path).metadata
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            c = md.row_group(rg).column(ci)
            if c.path_in_schema not in cols:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    continue  # binary column: no portable ordering
            if not isinstance(mn, (int, float, str)):
                continue  # timestamps etc.: not JSON-portable, skip
            cur = agg.get(c.path_in_schema)
            if cur is None:
                agg[c.path_in_schema] = [mn, mx]
            else:
                cur[0], cur[1] = min(cur[0], mn), max(cur[1], mx)
    return agg


def _stats_match(stats: dict, range_filter: dict) -> bool:
    """True when a file may contain rows in every requested range —
    missing stats for a column keep the file (pruning must never drop a
    row it cannot prove absent)."""
    for col, (lo, hi) in range_filter.items():
        st = stats.get(col)
        if st is None:
            continue
        mn, mx = st
        if (hi is not None and mn > hi) or (lo is not None and mx < lo):
            return False
    return True


# --- Bloom-filter file skipping (Delta bloom index / Iceberg puffin's
# shape) -------------------------------------------------------------
#
# Min/max stats prune RANGE predicates, but are blind to point lookups
# on an UNCLUSTERED column: when every file's [min, max] spans the key
# domain (hash-distributed writes — the common ingest layout), a
# needle-in-haystack read or a selective MERGE probe must scan every
# file's key column. A small per-file Bloom filter answers "might this
# file contain value v?" from manifest-adjacent metadata instead:
# ~16 KB of bloom bits per file versus megabytes of key column — the
# 100 TB point-lookup path. False positives only cost a wasted file
# read (or a byte-preserving rewrite in a MERGE); absence proofs are
# exact, so pruning never drops a row.
#
# Portability contract: positions are md5-based — computed identically
# by Spark expressions at build time and by Python at check time, which
# is why bloom columns are restricted to integer/string types (their
# Spark cast-to-string rendering provably equals Python's str()). Each
# bloom manifest entry records its position scheme as ``algo`` so old
# sidecars stay probe-able:
#   algo 1 (legacy): position i = md5(str(v) + "\x1f" + str(i))[:15hex] % m
#     — k md5s per value.
#   algo 2 (current): ONE md5(str(v)); h1 = hex[0:15], h2 = hex[15:30]|1;
#     position i = (h1 + i*h2) % m (Kirsch–Mitzenmacher double hashing —
#     same fpp regime, 1/k-th the hashing cost at build AND probe; h2
#     forced odd so a power-of-two m cannot cycle a stuck stride; no
#     overflow: h1 + 6*h2 < 7·2^60 < 2^63).
_BLOOM_K = 7  # hash count; ~optimal for ~1% fpp at m/n ≈ 10
_BLOOM_ALGO = 2  # scheme newly written sidecars use
_BLOOM_DEFAULT_BITS = 1 << 17  # 16 KB/file; size for ~13k distinct @1%
# above this many bloom-carrying candidates the membership test runs as
# a Spark job over the sidecar parquet (bits never pass the driver);
# below it a driver-side pyarrow read is cheaper than a job
_BLOOM_DRIVER_CAP = 512


def _bloom_positions(value, m: int, algo: int = _BLOOM_ALGO) -> list[int]:
    """The _BLOOM_K bit positions of ``value`` in an m-bit filter —
    the Python twin of the Spark build expression in
    :func:`_write_bloom_sidecar` (same md5, same rendering), per
    position scheme (see the portability-contract note above)."""
    import hashlib

    s = str(value)
    if algo == 1:
        return [
            int(
                hashlib.md5(f"{s}\x1f{i}".encode("utf-8")).hexdigest()[:15],
                16,
            ) % m
            for i in range(_BLOOM_K)
        ]
    hexd = hashlib.md5(s.encode("utf-8")).hexdigest()
    h1 = int(hexd[:15], 16)
    h2 = int(hexd[15:30], 16) | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


_BLOOM_OK_TYPES = ("tinyint", "smallint", "int", "bigint", "string")
_BLOOM_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _bloom_canon(values: list, dtype_simple: str) -> list | None:
    """Probe values canonicalized to the COLUMN's build-time rendering,
    or None when pruning must be skipped (a probe the filter cannot
    reason about). The build hashed Spark's cast-to-string of the
    COLUMN type — a probe of another Python type (3.0 against a bigint
    column) must be coerced to that rendering or bloom pruning would
    FALSE-NEGATIVE on a value the row filter matches. Integral columns:
    int/bool/integral-float/Decimal coerce to int; a non-integral
    number can equal no stored value, so it is dropped from the probe
    list (its absence is exact). String columns: non-str probes bail
    out entirely (Spark's implicit cast comparisons — '03' == 3 — have
    no per-value rendering a filter could check)."""
    if dtype_simple in _BLOOM_INT_TYPES:
        out = []
        for v in values:
            if isinstance(v, bool):
                out.append(int(v))
            elif isinstance(v, int):
                out.append(v)
            else:
                try:
                    iv = int(v)
                except (TypeError, ValueError):
                    return None  # unreasonable probe: no pruning
                if iv == v:  # 3.0 / Decimal('3') -> 3
                    out.append(iv)
                # non-integral numbers match no integer row: drop
        return out
    if dtype_simple == "string":
        if all(isinstance(v, str) for v in values):
            return list(values)
        return None
    return None  # column type the filter never indexed


def _write_bloom_sidecar(
    spark: SparkSession,
    path: str,
    commit_id: str,
    entries: list[dict],
    phys_cols: list[str],
    pschema: StructType,
    m: int,
) -> None:
    """Build per-file Bloom filters over ``phys_cols`` for freshly
    written ``entries`` and write them as ONE sidecar parquet at
    ``{path}/bloom/{commit_id}.parquet`` (rows: file, col, bits) —
    then stamp each entry's ``bloom`` ref.

    100 TB shape: one column-pruned scan of just the new files'
    bloom columns — ONE md5 per value (algo 2: the k positions are
    arithmetic on the two digest halves, not k digests); the per-file
    position sets are deduped by collect_set's map-side partial
    aggregation (bounded at m entries per file — never row count) so a
    single exchange carries them, and the bit-packing runs
    executor-side in a per-file vectorized UDF, so only the packed
    ~m/8-byte filters ever reach the driver."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not entries:
        return
    absmap = {
        os.path.abspath(os.path.join(path, f["path"])): f["path"]
        for f in entries
    }
    fields = [f for f in pschema.fields if f.name in phys_cols]
    scan = (
        spark.read.schema(StructType(fields))
        .parquet(*absmap.keys())
        .withColumn("__src_file", F.input_file_name())
    )
    per_col = []
    for pc in phys_cols:
        hexd = F.md5(F.col(pc).cast("string"))
        h1 = F.conv(F.substring(hexd, 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(hexd, 16, 15), 16, 10).cast("long").bitwiseOR(
            F.lit(1)
        )
        pos = F.explode(
            F.array(
                *[
                    F.pmod(h1 + F.lit(i) * h2, F.lit(m))
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
        per_col.append(
            scan.select(
                F.col("__src_file").alias("file"),
                F.lit(pc).alias("col"),
                pos,
            ).where(F.col("pos").isNotNull())
        )
    positions = per_col[0]
    for d in per_col[1:]:
        positions = positions.unionByName(d)

    def _pack(sets: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for pos_set in sets:
            bits = np.zeros(m // 8, dtype=np.uint8)
            p = np.asarray(pos_set, dtype=np.int64)
            if p.size:
                np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
            out.append(bits.tobytes())
        return pd.Series(out)

    # real annotation objects: postponed annotations would stringify the
    # inline hints and break pandas_udf's signature inference
    _pack.__annotations__ = {"sets": pd.Series, "return": pd.Series}
    pack_udf = F.pandas_udf(_pack, "binary")
    packed = (
        positions.groupBy("file", "col")
        .agg(F.collect_set("pos").alias("pos_set"))
        .select("file", "col", pack_udf("pos_set").alias("bits"))
        .collect()
    )
    rels, cols, bits = [], [], []
    for r in packed:
        rels.append(
            _rel_from_scan_uri(absmap, r["file"], path, "bloom build scan")
        )
        cols.append(r["col"])
        bits.append(r["bits"])
    os.makedirs(os.path.join(path, "bloom"), exist_ok=True)
    ref = os.path.join("bloom", f"{commit_id}.parquet")
    pq.write_table(
        pa.table({"file": rels, "col": cols, "bits": bits}),
        os.path.join(path, ref),
    )
    for f in entries:
        f["bloom"] = {
            "ref": ref,
            "m": m,
            "k": _BLOOM_K,
            "algo": _BLOOM_ALGO,
            "cols": list(phys_cols),
        }


def _logical_bloom_cols(manifest: dict) -> tuple[list[str], int] | None:
    """(logical bloom column set, m bits) a read-modify-write commit
    (upsert/compaction) re-passes to ``txn_write(bloom_cols=...)`` so
    point-lookup skipping survives rewrites — the bloom twin of
    :func:`_logical_stats_cols`. Physical columns since dropped are
    excluded; m is the largest recorded (rewrites never shrink a
    table's filters)."""
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    inv = {_phys(f): f.name for f in schema.fields}
    cols, m = set(), 0
    for f in manifest["files"]:
        b = f.get("bloom")
        if not b:
            continue
        cols.update(inv[c] for c in b["cols"] if c in inv)
        m = max(m, int(b["m"]))
    if not cols:
        return None
    return sorted(cols), m


def _bloom_prune(
    spark: SparkSession,
    path: str,
    files: list[dict],
    phys_col: str,
    values: list,
    dtype_simple: str,
) -> tuple[list[dict], bool]:
    """(surviving candidates, vetted) — drop candidate ``files`` whose
    Bloom filter PROVES none of ``values`` is present in ``phys_col``.
    Files without a bloom for the column are kept (no proof, no
    prune); a None in ``values``, or a probe the column's rendering
    cannot canonicalize (see :func:`_bloom_canon`), disables pruning
    entirely and returns vetted=False (filters never witness NULLs and
    must never false-negative on a coercible equality — 3.0 probed
    against a bigint column hashes as '3', not '3.0'). Exact in the
    only direction that matters: a kept file may be a false positive,
    a dropped file can never hold a probed value."""
    if any(v is None for v in values):
        return files, False
    canon = _bloom_canon(values, dtype_simple)
    if canon is None:
        return files, False
    values = canon
    with_bloom = [
        f for f in files if phys_col in (f.get("bloom") or {}).get("cols", [])
    ]
    if not with_bloom:
        return files, False
    # positions per (m bits, position scheme) — files written before the
    # algo-2 sidecars record no "algo" and probe with the legacy scheme
    pos_by_ma: dict[tuple[int, int], list[list[int]]] = {}
    algo_by_rel: dict[str, int] = {}
    for f in with_bloom:
        mm = int(f["bloom"]["m"])
        aa = int(f["bloom"].get("algo", 1))
        algo_by_rel[f["path"]] = aa
        if (mm, aa) not in pos_by_ma:
            pos_by_ma[(mm, aa)] = [
                _bloom_positions(v, mm, aa) for v in values
            ]
    # (sidecar ref, base root) -> rel file paths wanted from it
    want: dict[tuple[str, str], set] = {}
    for f in with_bloom:
        key = (f["bloom"]["ref"], f.get("base") or path)
        want.setdefault(key, set()).add(f["path"])
    hits: set = set()
    if not values:
        pass  # no probe values: every bloomed file is provably clean
    elif len(with_bloom) <= _BLOOM_DRIVER_CAP:
        import numpy as np
        import pyarrow.parquet as pq

        for (ref, base), rels in want.items():
            # row-group predicate pushdown: a commit that wrote many
            # files has a many-row sidecar — read only the wanted
            # (file, col) rows' bits, not every blob in it
            t = pq.read_table(
                os.path.join(base, ref),
                columns=["file", "col", "bits"],
                filters=[
                    ("col", "==", phys_col),
                    ("file", "in", sorted(rels)),
                ],
            )
            for file_rel, col, bits in zip(
                t["file"].to_pylist(), t["col"].to_pylist(),
                t["bits"].to_pylist(),
            ):
                if col != phys_col or file_rel not in rels:
                    continue
                arr = np.frombuffer(bits, dtype=np.uint8)
                key = (len(arr) * 8, algo_by_rel.get(file_rel, 1))
                for pos in pos_by_ma.get(key) or [None]:
                    if pos is None:  # size/entry mismatch: no proof, keep
                        hits.add(file_rel)
                        break
                    p = np.asarray(pos)
                    if ((arr[p >> 3] & (1 << (p & 7))) != 0).all():
                        hits.add(file_rel)
                        break
    else:
        # distributed membership test: the sidecar bits are scanned as a
        # Spark job and only matching file paths return to the driver
        import pandas as pd

        sidecars = sorted({os.path.join(b, r) for r, b in want})
        cand = spark.createDataFrame(
            [
                (f["path"], int(f["bloom"].get("algo", 1)))
                for f in with_bloom
            ],
            "file string, algo int",
        )
        rows = spark.read.parquet(*sidecars).where(
            F.col("col") == phys_col
        ).join(F.broadcast(cand), "file")

        def _may_contain(batch, algos):
            import numpy as np

            out = []
            for bits, algo in zip(batch, algos):
                arr = np.frombuffer(bits, dtype=np.uint8)
                plists = pos_by_ma.get((len(arr) * 8, int(algo)))
                if plists is None:  # size/entry mismatch: no proof, keep
                    out.append(True)
                    continue
                ok = False
                for pos in plists:
                    p = np.asarray(pos)
                    if ((arr[p >> 3] & (1 << (p & 7))) != 0).all():
                        ok = True
                        break
                out.append(ok)
            return pd.Series(out)

        # real annotation objects: the module's postponed annotations
        # (PEP 563) would stringify inline hints and break pandas_udf's
        # signature inference
        _may_contain.__annotations__ = {
            "batch": pd.Series, "algos": pd.Series, "return": pd.Series,
        }
        probe = F.pandas_udf(_may_contain, "boolean")
        hits = {
            r["file"]
            for r in rows.where(probe(F.col("bits"), F.col("algo")))
            .select("file")
            .distinct()
            .collect()
        }
    kept = [
        f
        for f in files
        if phys_col not in (f.get("bloom") or {}).get("cols", [])
        or f["path"] in hits
    ]
    # vetted only when EVERY survivor passed a membership test — files
    # kept because they carry no filter were never checked, and a
    # caller treating them as exact-key evidence would act on proof
    # that does not exist
    return kept, all(
        phys_col in (f.get("bloom") or {}).get("cols", []) for f in kept
    )


def _layout_order(manifest: dict) -> list[str]:
    """The table's partition keys in RECORDED segment order (first-seen
    across file entries — one layout means exactly the written order).
    Rewrites (merge/purge/compact) must re-commit under this order, not
    ``sorted()``: re-sorting the keys makes a never-evolved table look
    mixed-layout to order-sensitive consumers (the native sink's
    blocker, layout inheritance) even though values — which drive
    pruning and replace_where — never changed."""
    seen: list[str] = []
    for f in manifest.get("files", []):
        for k in f["partition"]:
            if k not in seen:
                seen.append(k)
    return seen


def _cdf_enabled(manifest: dict | None) -> bool:
    """True when the table records change files (Delta's
    delta.enableChangeDataFeed): ``txn_set_properties(path,
    {"cdf.enabled": "true"})``."""
    props = (manifest or {}).get("properties", {})
    return str(props.get("cdf.enabled", "")).lower() == "true"


def _commit_file_delta(path: str, version: int, raw: dict):
    """(files added by ``version``, whether it also removed or hid
    rows) — straight from the delta log when the commit is incremental
    (one JSON read, no parent reconstruction), else a materialized
    parent diff. Removal means files dropped vs the parent OR any
    deletion-vector change: a DV hides rows, and a restore that shrinks
    the DV set RESURRECTS them — neither is an append. None when the
    baseline is unknowable (parent vacuumed away): treating it as empty
    would report the table's whole cumulative file set as added."""
    if "log" in raw:
        log = raw["log"]
        return list(log.get("add", [])), bool(
            log.get("remove") or log.get("dv_add") or log.get("dv_remove")
        )
    m = _materialize(path, version, raw=raw)
    try:
        pm = _materialize(path, version - 1) if version > 1 else None
    except FileNotFoundError:
        return None
    before = {f["path"] for f in (pm or {}).get("files", [])}
    after_files = m.get("files", [])
    added = [f for f in after_files if f["path"] not in before]
    removed = bool(before - {f["path"] for f in after_files})
    dv_changed = {_dv_key(e) for e in m.get("dv", [])} != {
        _dv_key(e) for e in (pm or {}).get("dv", [])
    }
    return added, removed or dv_changed


def _part_matches(part: dict, where: dict) -> bool:
    """True when a file's partition values fall inside ``where``
    (column -> allowed value list; string-compared)."""
    return all(
        str(part.get(k)) in {str(v) for v in vs} for k, vs in where.items()
    )


def _merge_schemas(old_json: str | None, new_json: str) -> str:
    """Additive schema evolution: the committed schema is the old fields
    (in order) plus any NEW fields the incoming frame introduces (made
    nullable — older files lack them and read back as NULL). A same-name
    field with a different type raises: silent coercion across files is
    how lakehouse tables rot."""
    if old_json is None:
        return new_json
    old = StructType.fromJson(json.loads(old_json))
    new = StructType.fromJson(json.loads(new_json))
    by_name = {f.name: f for f in old.fields}
    merged = list(old.fields)
    for f in new.fields:
        prev = by_name.get(f.name)
        if prev is None:
            f.nullable = True
            merged.append(f)
        elif prev.dataType != f.dataType:
            raise ValueError(
                f"schema evolution type conflict on {f.name!r}: table has "
                f"{prev.dataType.simpleString()}, incoming frame has "
                f"{f.dataType.simpleString()} — cast explicitly before "
                "committing"
            )
    return StructType(merged).json()


def _phys(f: StructField) -> str:
    """The PHYSICAL column name a field's data is stored under in the
    parquet files — the logical (user-facing) name unless a
    ``txn_rename_column`` recorded a mapping in the field metadata.
    Column mapping is what makes rename/drop metadata-only operations
    (Delta's column-mapping shape): files are immutable, so a rename
    can only ever change what the manifest CALLS the column."""
    return (f.metadata or {}).get("physical", f.name)


def _mapping(schema: StructType) -> dict[str, str]:
    """logical name -> physical name for every field."""
    return {f.name: _phys(f) for f in schema.fields}


def _physical_schema(schema: StructType) -> StructType:
    """The schema leaf files are actually read with: physical names."""
    return StructType(
        [StructField(_phys(f), f.dataType, f.nullable) for f in schema.fields]
    )


def _plain_schema(schema: StructType) -> StructType:
    """Logical names, mapping metadata stripped — what callers see."""
    return StructType(
        [StructField(f.name, f.dataType, f.nullable) for f in schema.fields]
    )


def _to_logical(df: DataFrame, schema: StructType, keep: tuple = ()) -> DataFrame:
    """Project a physical-named frame to its logical names, preserving
    ``keep`` columns as-is and dropping everything else (e.g. the DV row
    refs). Identity mappings still project — Catalyst collapses it."""
    return df.select(
        *[F.col(_phys(f)).alias(f.name) for f in schema.fields],
        *[F.col(c) for c in keep],
    )


def _logical_stats_cols(manifest: dict) -> list[str] | None:
    """The stats column set of a manifest translated to LOGICAL names —
    what a read-modify-write (upsert/compaction) re-passes to
    ``txn_write(stats_cols=...)``. Stats are recorded under physical
    names (they come from parquet footers); keys whose physical column
    was since dropped have no logical name and are excluded."""
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    inv = {_phys(f): f.name for f in schema.fields}
    cols = sorted(
        {
            inv[k]
            for f in manifest["files"]
            for k in f.get("stats", {})
            if k in inv
        }
    )
    return cols or None


def _violation_counts(
    df: DataFrame, constraints: dict[str, str], schema: StructType | None
) -> dict[str, int]:
    """Per-constraint count of rows whose CHECK predicate evaluates
    FALSE (SQL CHECK semantics: TRUE and NULL both pass) — ONE
    aggregate pass over ``df`` whatever the constraint count. Columns
    the table has but the frame omits (a schema-evolving append) are
    backfilled as typed NULLs first, so a constraint over them
    evaluates exactly as it will against the committed data."""
    if not constraints:
        return {}
    if schema is not None:
        for f in schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    row = df.agg(
        *[
            F.sum(
                F.when(
                    ~F.coalesce(F.expr(sql).cast("boolean"), F.lit(True)),
                    1,
                ).otherwise(0)
            ).alias(name)
            for name, sql in sorted(constraints.items())
        ]
    ).first()
    return {name: row[name] or 0 for name in constraints}


def _check_batch_constraints(
    df: DataFrame,
    constraints: dict[str, str],
    schema: StructType | None,
    path: str,
    verb: str,
) -> None:
    """Run :func:`_violation_counts` and raise the standard
    ``ConstraintViolationError`` naming every violated constraint —
    shared by txn_write's pre-staging gate and txn_upsert's batch-only
    validation."""
    bad = {
        k: v
        for k, v in _violation_counts(df, constraints, schema).items()
        if v
    }
    if bad:
        raise ConstraintViolationError(
            f"{verb} {path} violates CHECK constraint(s) "
            + ", ".join(
                f"{n!r} ({constraints[n]}): {c} row(s)"
                for n, c in sorted(bad.items())
            )
            + " — nothing was committed"
        )


def _apply_generated(
    df: DataFrame,
    generated: dict[str, str],
    schema: StructType | None,
    path: str,
    verb: str,
    validate: bool = True,
) -> DataFrame:
    """Delta generated-column write semantics: COMPUTE columns the
    batch omits (cast to the table's declared type), VALIDATE columns
    it provides — one aggregate pass asserting ``col <=> expr`` per
    provided column (null-safe equality: TRUE/FALSE, never NULL), a
    mismatching batch raises before any file is staged. An expression
    that no longer resolves against the batch's columns raises a
    schema-contract error, not an AnalysisException."""
    if not generated:
        return df
    types = {f.name: f.dataType for f in (schema.fields if schema else [])}
    provided = {c: e for c, e in generated.items() if c in df.columns}
    for c, e in sorted(generated.items()):
        try:
            df.select(F.expr(e))  # analysis only, no job
        except Exception as err:
            raise ValueError(
                f"{verb} {path} cannot resolve generated column {c!r} "
                f"(GENERATED ALWAYS AS {e}) against columns "
                f"{df.columns} — txn_drop_generated_column first, or "
                "keep the referenced columns"
            ) from err
        if c not in df.columns:
            gen = F.expr(e)
            df = df.withColumn(c, gen.cast(types[c]) if c in types else gen)
    if validate and provided:
        preds = {c: f"({c}) <=> ({e})" for c, e in provided.items()}
        bad = {
            k: v for k, v in _violation_counts(df, preds, None).items() if v
        }
        if bad:
            raise ConstraintViolationError(
                f"{verb} {path} conflicts with generated column(s) "
                + ", ".join(
                    f"{c!r} (GENERATED ALWAYS AS {provided[c]}): "
                    f"{n} row(s)"
                    for c, n in sorted(bad.items())
                )
                + " — omit the column to have it computed, or fix the "
                "values"
            )
    return df


def txn_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    replace_where: dict[str, list] | None = None,
    meta: dict | None = None,
    expected_version: int | None = None,
    max_retries: int = 50,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
    allow_partition_evolution: bool = False,
    app_id: str | None = None,
    app_version: int | None = None,
    _constraints_prevalidated: bool = False,
    _replace_paths: set[str] | None = None,
    _cdf_paths: list[str] | None = None,
    _on_conflict=None,
) -> int:
    """Commit ``df`` to the transactional table at ``path``; returns the
    committed version.

    ``_on_conflict`` (internal — txn_upsert/compact_txn optimistic
    rebase): a callable ``(base_version, head_version)`` invoked when
    the ``expected_version`` pin no longer matches the head. It must
    raise ``ConcurrentWriteError`` on a REAL conflict; returning means
    the concurrent commits are logically disjoint from this one, and
    the commit REBASES — the already-staged files re-commit against
    the new head (the retry loop recomputes the live set from it), no
    data rewritten. Without it, any version race raises.

    ``mode="append"`` adds files; ``mode="overwrite"`` replaces the
    whole live set; ``replace_where={"day": [5, 6]}`` (implies
    overwrite-of-matching) replaces only files whose partition values
    match — the MERGE-shaped refresh primitive. Data files are written
    ONCE outside the retry loop (the file set is commit-invariant);
    only the cheap manifest race retries.

    ``stats_cols`` records per-file min/max of those columns in the
    manifest (read from the fresh parquet footers — metadata-only, one
    driver-side pass over files just written): Iceberg/Delta-style DATA
    SKIPPING. ``txn_read(range_filter=...)`` then prunes files before
    Spark ever lists them — combined with a ``compact_txn(sort_by=
    ...)``/``zorder_by`` layout this is the open-table fast path for
    selective range scans at 100 TB.

    ``app_id``/``app_version`` make the write IDEMPOTENT (Delta's
    txnAppId/txnVersion): the table records each writer's high-water
    mark in every manifest, and a commit at or below it is skipped —
    returning the current head, staging nothing. The exactly-once
    primitive for replayable batch loaders; ``txn_app_version`` reads
    the watermark back.

    ``bloom_cols`` additionally records a per-file BLOOM FILTER over
    those columns (integer/string only; ``bloom_bits`` bits per file,
    default 2^17 — size it to ~10x the expected per-file distinct
    count): point lookups (``txn_read(value_filter=...)``) and
    selective-MERGE probes then prune files min/max stats cannot —
    the unclustered-key case where every file's range spans the
    domain. Filters live in one sidecar parquet per commit
    (``bloom/<commit>.parquet``), never inflate the manifest, and are
    rebuilt automatically when upserts/compaction rewrite files."""
    if mode not in ("append", "overwrite"):
        raise ValueError(
            f"mode must be 'append' or 'overwrite', got {mode!r}"
        )
    # IDEMPOTENT WRITES (Delta's txnAppId/txnVersion): a writer that may
    # replay (a restarted batch loader, a foreachBatch retry) names
    # itself and a monotonically increasing version; the table records
    # the high-water mark per app_id in every manifest, and a commit at
    # or below it is SKIPPED — returning the current head, staging
    # nothing. Exactly-once for batch writers, without a checkpoint dir.
    _validate_app(app_id, app_version, "write")
    if replace_where and mode == "overwrite":
        raise ValueError("replace_where and mode='overwrite' are exclusive")
    # _replace_paths (internal — txn_upsert's selective MERGE): commit
    # df's files while DROPPING the named live files in the same atomic
    # manifest. File-level replacement is only sound against the exact
    # snapshot the caller diffed, so the version pin is mandatory.
    if _replace_paths and (
        mode != "append" or replace_where or expected_version is None
    ):
        raise ValueError(
            "_replace_paths requires mode='append', no replace_where, "
            "and an expected_version pin"
        )
    # the DV row-ref internals are reserved at WRITE time, not just in
    # txn_delete: a schema-evolving append introducing __dv_file/__dv_pos
    # onto a table already carrying deletion vectors would make every
    # later txn_read/txn_changes fail with ambiguous-column errors —
    # reject the clash before it can ever enter a manifest
    clash = {_DV_FILE, _DV_POS} & set(df.columns)
    if clash:
        raise ValueError(
            f"columns {sorted(clash)} are reserved deletion-vector "
            "row-ref internals; rename them before committing"
        )
    if stats_cols:
        # same typo-proofing as replace_where/partition_filter: a
        # misspelled stats column would silently record empty stats and
        # data skipping would be silently ineffective forever
        unknown = set(stats_cols) - set(df.columns)
        if unknown:
            raise ValueError(
                f"stats_cols {sorted(unknown)} are not columns of the "
                f"frame (has {df.columns})"
            )
    if bloom_cols:
        unknown = set(bloom_cols) - set(df.columns)
        if unknown:
            raise ValueError(
                f"bloom_cols {sorted(unknown)} are not columns of the "
                f"frame (has {df.columns})"
            )
        for fld in df.schema.fields:
            if (
                fld.name in bloom_cols
                and fld.dataType.simpleString() not in _BLOOM_OK_TYPES
            ):
                # the build (Spark cast-to-string) and the check
                # (Python str) must render values identically — only
                # integer/string types provably agree (same refusal
                # rule as the native sink's partition columns)
                raise ValueError(
                    f"bloom_cols column {fld.name!r} has type "
                    f"{fld.dataType.simpleString()!r}; bloom filters "
                    f"support {list(_BLOOM_OK_TYPES)} (hash rendering "
                    "is portable only for these)"
                )
        if bloom_bits is None:
            bloom_bits = _BLOOM_DEFAULT_BITS
        if bloom_bits < 64 or bloom_bits & (bloom_bits - 1):
            raise ValueError(
                f"bloom_bits must be a power of two >= 64, got {bloom_bits}"
            )
    if replace_where:
        # the predicate can only be validated against partition values,
        # so its keys must be partition columns of THIS write — a typo'd
        # or non-partition key would otherwise match nothing and the new
        # rows would silently coexist with the retained copies
        unknown = set(replace_where) - set(partition_by or [])
        if unknown:
            raise ValueError(
                f"replace_where keys {sorted(unknown)} are not in "
                f"partition_by={sorted(partition_by or [])}; replacement "
                "is partition-level, so the predicate keys must be "
                "partition columns of the write"
            )
    # COLUMN MAPPING (append/replace_where only — an overwrite replaces
    # the whole table, so its schema AND mapping reset to identity):
    # data files are written under each column's PHYSICAL name, which a
    # txn_rename_column may have divorced from the logical name; NEW
    # logical columns get a physical name that collides with no live or
    # RETIRED physical (re-adding a dropped column's name must not
    # resurrect the old files' data under it). The mapping is read once
    # here — the retry loop below re-checks it against the live head and
    # raises if a rename/drop raced this write (the files are already
    # staged under the stale physicals and cannot be re-keyed cheaply).
    phys_map: dict[str, str] = {}
    head0_version, head0 = txn_latest(path)
    if app_id is not None:
        prev = (head0 or {}).get("apps", {}).get(app_id)
        if prev is not None and app_version <= prev:
            # replay of an already-applied commit: skip BEFORE staging
            # anything (the in-loop re-check covers the race where the
            # twin lands after this read)
            return head0_version
    # CHECK constraints are table invariants: they survive EVERY mode
    # (an overwrite replaces the data, not the contract) and are
    # enforced here BEFORE any file is staged — one aggregate pass, a
    # violating batch never touches disk. The commit loop re-checks the
    # set against the live head (a constraint added mid-write must not
    # slip past validation).
    # PARTITION LAYOUT guard: an append whose partition_by differs from
    # every live file's layout would create a MIXED table silently —
    # partition_filter then degrades to residual row filtering for the
    # missing keys and replace_where refuses outright. Iceberg-style
    # evolution is real and supported, but OPT-IN
    # (allow_partition_evolution=True), never an accident.
    if mode != "overwrite" and not replace_where:
        live_layouts = {
            tuple(sorted(f["partition"].keys()))
            for f in (head0 or {}).get("files", [])
        }
        this_layout = tuple(sorted(partition_by or []))
        if (
            live_layouts
            and this_layout not in live_layouts
            and not allow_partition_evolution
        ):
            raise ValueError(
                f"append partition layout {sorted(this_layout) or 'unpartitioned'} "
                f"differs from {path}'s live layout(s) "
                f"{sorted(sorted(t) for t in live_layouts)} — pass "
                "allow_partition_evolution=True to evolve the layout "
                "going forward (old files stay readable; partition_filter "
                "stays exact via residual row filters), or match the "
                "existing partition_by"
            )
    # GENERATED columns come first (constraints may reference them):
    # compute the ones the batch omits, validate the ones it provides.
    # Like constraints they survive EVERY mode — the rules are table
    # contract, not data; the commit loop re-checks the set below.
    head_generated = dict((head0 or {}).get("generated", {}))
    if head_generated:
        gschema = (
            StructType.fromJson(json.loads(head0["schema"]))
            if (head0 or {}).get("schema") is not None
            else None
        )
        df = _apply_generated(
            df,
            head_generated,
            gschema,
            path,
            "write to",
            validate=not _constraints_prevalidated,
        )
    head_constraints = dict((head0 or {}).get("constraints", {}))
    if head_constraints:
        if mode == "overwrite":
            # an overwrite RESETS the schema to the frame's: committing
            # one whose columns cannot resolve a constraint would leave
            # the contract unresolvable for every later write — so the
            # checks must resolve against the NEW frame alone (no
            # head-schema NULL backfill), and a resolution failure is a
            # schema-contract error, not a crash
            head_schema0 = None
            for n, sql in sorted(head_constraints.items()):
                try:
                    df.select(F.expr(sql))  # analysis only, no job
                except Exception as e:
                    raise ValueError(
                        f"overwrite of {path} cannot resolve CHECK "
                        f"constraint {n!r} ({sql}) against the new "
                        f"columns {df.columns} — txn_drop_constraint "
                        "first, or keep the columns"
                    ) from e
        else:
            head_schema0 = (
                StructType.fromJson(json.loads(head0["schema"]))
                if head0.get("schema") is not None
                else None
            )
        # _constraints_prevalidated: internal flag for read-modify-write
        # commits (txn_upsert, compact_txn) whose frame is (already
        # validated snapshot rows) + (a batch the caller validated) —
        # re-aggregating the WHOLE merged table here would add a full
        # table scan per MERGE/OPTIMIZE, breaking the batch-not-table
        # enforcement cost contract. Safe because those callers pin
        # expected_version: any concurrent add_constraint bumps the
        # version and the commit raises instead of slipping through.
        if not _constraints_prevalidated:
            _check_batch_constraints(
                df, head_constraints, head_schema0, path, "write to"
            )
    if mode != "overwrite":
        head_schema_json = (head0 or {}).get("schema")
        if head_schema_json is not None:
            head_schema = StructType.fromJson(json.loads(head_schema_json))
            cur_map = _mapping(head_schema)
            used = set(cur_map.values()) | set(
                (head0 or {}).get("retired_physical", [])
            )
            for f in df.schema.fields:
                if f.name in cur_map:
                    if cur_map[f.name] != f.name:
                        phys_map[f.name] = cur_map[f.name]
                elif f.name in used:
                    fresh = f"{f.name}__p{uuid.uuid4().hex[:8]}"
                    phys_map[f.name] = fresh
                    used.add(fresh)
    commit_id = uuid.uuid4().hex[:12]
    commit_dir = os.path.join(path, "data", commit_id)
    w = df
    pcols = []
    for c in partition_by or []:
        pc = _PPREFIX + c
        w = w.withColumn(pc, F.col(c).cast("string"))
        pcols.append(pc)
    if phys_map:
        w = w.select(
            *[F.col(c).alias(phys_map.get(c, c)) for c in w.columns]
        )
    writer = w.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(commit_dir)
    new_files = _collect_files(commit_dir, path)
    # ZERO-ROW part files never enter the manifest (footer-count check,
    # driver-side over just-written files — ONE footer open per file,
    # shared with stats collection below): they carry no data, no
    # stats, and a PHANTOM partition layout that would otherwise trip
    # the evolution guard on the next real write (a zero-row seed is a
    # schema commit, nothing more; a selective MERGE whose touched
    # survivors are all erased commits pure file removal)
    import pyarrow.parquet as _pq

    phys_stats = {phys_map.get(c, c) for c in stats_cols or []}
    kept_entries = []
    for f in new_files:
        abs_f = os.path.join(path, f["path"])
        md = _pq.ParquetFile(abs_f).metadata
        if not md.num_rows:
            os.unlink(abs_f)
            continue
        # row count rides the manifest next to bytes (the footer is
        # already open for the zero-row check — recording is free)
        f["rows"] = md.num_rows
        if stats_cols:
            # stats ride the files, so they are keyed by PHYSICAL name
            # (the name the footer actually carries); txn_read translates
            f["stats"] = _file_stats(abs_f, phys_stats, _md=md)
        kept_entries.append(f)
    new_files = kept_entries
    if replace_where:
        # Delta's replaceWhere rule: every written row must satisfy the
        # predicate, or rows outside it land in the commit alongside the
        # retained files' copies of those partitions — silent duplication
        for f in new_files:
            if not _part_matches(f["partition"], replace_where):
                import shutil

                shutil.rmtree(commit_dir, ignore_errors=True)  # never committed
                raise ValueError(
                    f"replace_where violation: written file {f['path']} "
                    f"has partition values {f['partition']} outside "
                    f"{replace_where}; filter the frame to the predicate "
                    "before committing"
                )

    def _drop_staged():
        """Terminal-raise/skip cleanup: the staged data dir, this
        commit's bloom sidecar, and the caller's recorded change files
        (all staged for this one commit) go together — leaving any
        would linger until a vacuum ages it out."""
        import shutil

        shutil.rmtree(commit_dir, ignore_errors=True)
        try:
            os.unlink(os.path.join(path, "bloom", f"{commit_id}.parquet"))
        except OSError:
            pass
        # cdf files were written by the CALLER (txn_upsert/_delete)
        # before this commit attempt; they reference only this commit
        for rel in {os.path.dirname(p) for p in _cdf_paths or []}:
            shutil.rmtree(os.path.join(path, rel), ignore_errors=True)

    if bloom_cols and new_files:
        # one sidecar parquet per commit, outside the retry loop like
        # the data files (commit-invariant; manifest-race RETRIES reuse
        # both, only terminal raises drop them)
        _write_bloom_sidecar(
            df.sparkSession,
            path,
            commit_id,
            new_files,
            [phys_map.get(c, c) for c in bloom_cols],
            StructType(
                [
                    StructField(
                        phys_map.get(fld.name, fld.name),
                        fld.dataType,
                        fld.nullable,
                    )
                    for fld in df.schema.fields
                ]
            ),
            bloom_bits,
        )
    # the committed schema: logical names, with the physical name riding
    # each mapped field's metadata (any caller-supplied 'physical' key is
    # stripped first — only this writer assigns it)
    inc_fields = []
    for f in df.schema.fields:
        p = phys_map.get(f.name, f.name)
        md = {k: v for k, v in (f.metadata or {}).items() if k != "physical"}
        if p != f.name:
            md["physical"] = p
        inc_fields.append(StructField(f.name, f.dataType, f.nullable, md))
    schema_json = StructType(inc_fields).json()

    def build(version, latest):
        nonlocal expected_version
        # the idempotence re-check comes FIRST — even before the
        # version pin: if this writer's twin applied the same logical
        # commit while we staged, the right outcome is a graceful skip
        # (drop staged, return head), not a ConcurrentWriteError the
        # caller must interpret (a pinned MERGE replay hits exactly
        # this: the twin moved the version AND recorded the mark)
        if app_id is not None:
            prev = (latest or {}).get("apps", {}).get(app_id)
            if prev is not None and app_version <= prev:
                _drop_staged()
                return None
        if expected_version is not None and version != expected_version:
            if _on_conflict is None:
                raise ConcurrentWriteError(
                    f"table {path} moved to v{version}; "
                    f"expected v{expected_version}"
                )
            # optimistic rebase: the checker raises on a REAL conflict;
            # returning means the concurrent commits are disjoint and
            # this commit's staged files re-apply against the new head
            # (the live set below is recomputed from it)
            try:
                _on_conflict(expected_version, version)
            except BaseException:
                _drop_staged()
                raise
            expected_version = version
        if mode != "overwrite":
            # a rename/drop (or a racing writer's schema evolution) may
            # have moved the column mapping since the data files were
            # staged under phys_map — committing them anyway would bind
            # wrong physical names into the table; raise instead
            lsj = (latest or {}).get("schema")
            lmap = (
                _mapping(StructType.fromJson(json.loads(lsj)))
                if lsj is not None
                else {}
            )
            lused = set(lmap.values()) | set(
                (latest or {}).get("retired_physical", [])
            )
            conflict = []
            for f in df.schema.fields:
                p = phys_map.get(f.name, f.name)
                if f.name in lmap:
                    if lmap[f.name] != p:
                        conflict.append(f.name)
                elif p in lused:
                    # staged physical was retired/claimed concurrently —
                    # committing would resurrect or collide old data
                    conflict.append(f.name)
            if conflict:
                raise ConcurrentWriteError(
                    f"column mapping of {path} changed under this write "
                    f"(columns {sorted(conflict)}): a rename/drop or a "
                    "schema-evolving writer raced it — re-run the write "
                    "against the new head"
                )
            # partition-layout race: the up-front evolution guard saw
            # head0 — a concurrent overwrite/evolution landing since
            # would otherwise let this commit create the exact mixed
            # table the guard refuses (same re-check rule as the
            # constraint set and the column mapping above)
            if (
                not replace_where
                and not allow_partition_evolution
                and latest is not None
            ):
                live_now = {
                    tuple(sorted(f["partition"].keys()))
                    for f in latest.get("files", [])
                }
                if (
                    live_now
                    and tuple(sorted(partition_by or [])) not in live_now
                ):
                    raise ConcurrentWriteError(
                        f"partition layout of {path} changed under this "
                        "write — re-run it against the new head (or opt "
                        "into allow_partition_evolution=True)"
                    )
        # deletion vectors ride the live file set: an overwrite replaces
        # every file, so its DVs go too; append/replace_where retain the
        # old files and must retain their DVs (entries pointing at files
        # replace_where dropped are inert — part-file names are unique)
        dv = list((latest or {}).get("dv", []))
        changes: dict = {}
        if mode == "overwrite":
            # full replace: files, DVs, schema and the retired physical
            # names reset; constraints, rules, properties and writer
            # watermarks describe the table and carry over
            live, dv, committed_schema = [], [], schema_json
            changes["retired_physical"] = None
        elif replace_where:
            old_files = (latest or {}).get("files", [])
            existing_cols = {k for f in old_files for k in f["partition"]}
            missing = set(replace_where) - existing_cols
            if old_files and missing:
                # same cleanup as the written-file partition-violation
                # path above: the staged data dir was already written
                # and would otherwise linger until a vacuum ages it out
                _drop_staged()
                raise ValueError(
                    f"replace_where keys {sorted(missing)} are not "
                    "partition columns of the existing table "
                    f"(has {sorted(existing_cols) or 'none — unpartitioned'}); "
                    "the predicate would retain every file and the new rows "
                    "would duplicate instead of replace"
                )
            mixed = [
                f["path"] for f in old_files
                if any(k not in f["partition"] for k in replace_where)
            ]
            if mixed:
                _drop_staged()
                raise ValueError(
                    f"replace_where on {path} is unsound under a mixed "
                    f"partition layout: {len(mixed)} live file(s) record "
                    f"no value for {sorted(replace_where)} (written "
                    "before the layout evolved) and may hold matching "
                    "rows that would silently duplicate — compact to "
                    "one layout first (txn_read -> txn_write)"
                )
            live = [
                f for f in old_files
                if not _part_matches(f["partition"], replace_where)
            ]
            # prune DV entries that only referenced now-dropped files —
            # without this, refresh-heavy tables anti-join an ever-
            # growing dead DV set (entries without refs are kept: they
            # may still reference live files)
            live_paths = {f["path"] for f in live}
            dv = [
                e for e in dv
                if not isinstance(e, dict) or not e.get("refs")
                or any(r in live_paths for r in e["refs"])
            ]
            committed_schema = _merge_schemas(
                (latest or {}).get("schema"), schema_json
            )
        else:
            live = list((latest or {}).get("files", []))
            if _replace_paths:
                # selective MERGE: the rewritten files drop out of the
                # live set atomically with their replacements landing;
                # DV entries referencing ONLY dropped files go too (the
                # rewrite materialized their deletes), entries that
                # also reference kept files stay — their positions for
                # dropped paths can never match again
                live = [f for f in live if f["path"] not in _replace_paths]
                live_paths = {f["path"] for f in live}
                dv = [
                    e for e in dv
                    if not isinstance(e, dict) or not e.get("refs")
                    or any(r in live_paths for r in e["refs"])
                ]
            committed_schema = _merge_schemas(
                (latest or {}).get("schema"), schema_json
            )
        # CHECK constraints and generated-column rules added or dropped
        # between validation and this attempt: the batch was not checked
        # against the live contract — refuse rather than slip it in
        if dict((latest or {}).get("constraints", {})) != head_constraints:
            raise ConcurrentWriteError(
                f"CHECK constraints of {path} changed under this write — "
                "re-run it against the new head"
            )
        if dict((latest or {}).get("generated", {})) != head_generated:
            raise ConcurrentWriteError(
                f"generated-column rules of {path} changed under this "
                "write — re-run it against the new head"
            )
        if app_id is not None:
            changes["apps"] = {
                **(latest or {}).get("apps", {}), app_id: app_version
            }
        # _cdf_paths (internal — txn_upsert): the commit's
        # exact row-level changes, pre-materialized so CDC consumers
        # never diff snapshots for it
        return _next_manifest(
            version, latest, meta or {}, cdf=_cdf_paths,
            files=live + new_files, schema=committed_schema, dv=dv,
            **changes,
        )

    def on_lost():
        # a strict pin without a conflict checker cannot rebase; with a
        # checker the next attempt validates the new head and rebases
        if expected_version is not None and _on_conflict is None:
            raise ConcurrentWriteError(
                f"lost commit race on {path} at v{expected_version + 1}"
            )

    try:
        return _commit(path, build, "on", max_retries, on_lost)
    except ConcurrentWriteError:
        # refused or out of retries: nothing this write staged commits
        _drop_staged()
        raise


def _resolve_snapshot(
    path: str, version: int | None, as_of: float | None
) -> tuple[int, dict]:
    """Resolve (version, manifest) for a snapshot read: the latest, a
    pinned ``version``, or the newest commit at or before unix-seconds
    ``as_of`` (time travel). A vacuumed version raises
    ``FileNotFoundError`` — its manifest is unlinked."""
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    if as_of is not None:
        def _commit_ts(v: int) -> float:
            ts = _load(path, v).get("ts")
            if ts is not None:
                return ts
            # pre-timestamp manifests: the manifest file's mtime is the
            # publish instant (the link created it) — never +inf, or old
            # tables would be unreachable by any as_of
            return os.path.getmtime(_manifest_path(path, v))

        eligible = [v for v in _versions(path) if _commit_ts(v) <= as_of]
        if not eligible:
            raise FileNotFoundError(
                f"no commit at or before ts={as_of} in {path}"
            )
        version = eligible[-1]
    if version is None:
        version, manifest = txn_latest(path)
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
    else:
        manifest = _materialize(path, version)
    return version, manifest


def txn_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of: float | None = None,
    partition_filter: dict[str, list] | None = None,
    range_filter: dict[str, tuple] | None = None,
    value_filter: dict[str, list] | None = None,
) -> DataFrame:
    """Read a snapshot: exactly the files the manifest lists (latest, a
    pinned ``version``, or — time travel — the newest commit at or before
    unix-seconds ``as_of``). ``partition_filter`` prunes FILES on the
    manifest's recorded partition values before Spark is involved — the
    100 TB path where a day-refresh never lists undead directories.

    ``range_filter`` ({column: (lo, hi)}, either bound None for
    open-ended) prunes files on the per-file min/max recorded by
    ``txn_write(stats_cols=...)`` — DATA SKIPPING. File-level only: the
    surviving files still contain out-of-range rows, so callers keep
    their row filter (which Spark then also pushes into the scan); files
    without stats for a column are conservatively kept, and a column for
    which NO live file records stats raises (a typo would silently skip
    nothing).

    ``value_filter`` ({column: [values]}) is the POINT-LOOKUP filter:
    ``WHERE col IN (values)`` semantics — the row filter is always
    applied (and pushed into the scan), and files are pruned first on
    min/max stats (any value inside [min, max]) then on the per-file
    Bloom filters recorded by ``txn_write(bloom_cols=...)``, which
    prune even when every file's range spans the key domain (the
    unclustered needle-in-haystack at 100 TB). Bloom false positives
    cost a wasted file read, never a wrong row; a None among the
    values disables file pruning for that column (filters never
    witness NULLs) while the row filter still matches them."""
    version, manifest = _resolve_snapshot(path, version, as_of)
    files = manifest["files"]
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if range_filter:
        # stats are keyed by PHYSICAL name (they come from the parquet
        # footers); the caller filters on logical names — translate
        cmap = _mapping(schema)
        range_filter = {cmap.get(c, c): b for c, b in range_filter.items()}
        # validate against the FULL snapshot, not a partition-pruned
        # subset: a partition whose files happen to lack stats must keep
        # its files (conservative), not error on a correct column name
        for col in range_filter:
            if files and not any(col in f.get("stats", {}) for f in files):
                raise ValueError(
                    f"range_filter column {col!r} has no recorded stats in "
                    f"any live file of {path} — commit with "
                    "txn_write(stats_cols=[...]) (or fix the column name)"
                )
    residual_filter = None
    if partition_filter:
        # pruning compares against recorded partition values, so a key
        # that is not a partition column of ANY live file would silently
        # match nothing — an empty result for a typo is worse than an error
        pcols = {k for f in files for k in f["partition"]}
        unknown = set(partition_filter) - pcols
        if files and unknown:
            raise ValueError(
                f"partition_filter keys {sorted(unknown)} are not partition "
                f"columns of {path} (has {sorted(pcols) or 'none — unpartitioned'})"
            )
        # PARTITION EVOLUTION: files written before a layout change
        # record no value for the new key — pruning must KEEP them
        # (dropping them silently loses their rows), and an exact
        # result is restored by a residual ROW filter over those keys
        # (partition columns are duplicated into the data, so the
        # filter pushes into the scan; for files that do record a
        # matching value it is a no-op). The check is PER KEY: every
        # filter key the file DOES record must match — an all-or-nothing
        # rule would let one missing key waive the recorded-key checks
        # and leak rows (old file with a=5 kept under {a:[1], b:[2]}
        # just because it predates b)
        # match sets hoisted once: rebuilding them per (file x key) pair
        # is O(files x filter values) string churn on the driver — the
        # exact hot path manifest pruning exists to keep cheap
        pf_sets = {
            k: {str(v) for v in vs} for k, vs in partition_filter.items()
        }
        files = [
            f for f in files
            if all(
                k not in f["partition"]
                or str(f["partition"][k]) in want
                for k, want in pf_sets.items()
            )
        ]
        evolved = {
            k for f in files for k in partition_filter
            if k not in f["partition"]
        }
        if evolved:
            conds = []
            for k in evolved:
                vals = [str(v) for v in partition_filter[k]]
                cond = F.col(k).cast("string").isin(
                    [v for v in vals if v != "__HIVE_DEFAULT_PARTITION__"]
                )
                if "__HIVE_DEFAULT_PARTITION__" in vals:
                    cond = cond | F.col(k).isNull()
                conds.append(cond)
            residual_filter = conds[0]
            for c in conds[1:]:
                residual_filter = residual_filter & c
    if range_filter:
        files = [
            f for f in files if _stats_match(f.get("stats", {}), range_filter)
        ]
    if value_filter:
        cmap = _mapping(schema)
        known = {f.name for f in schema.fields}
        unknown = set(value_filter) - known
        if unknown:
            raise ValueError(
                f"value_filter keys {sorted(unknown)} are not columns of "
                f"{path} (has {sorted(known)})"
            )
        for col, vals in value_filter.items():
            pc = cmap.get(col, col)
            vv = list(vals)
            non_null = [v for v in vv if v is not None]
            if len(non_null) == len(vv):  # NULL probes prune nothing
                # stats first (free): keep a file iff ANY value is
                # inside its recorded [min, max]
                def _any_in(st):
                    if st is None:
                        return True
                    mn, mx = st
                    try:
                        return any(mn <= v <= mx for v in non_null)
                    except TypeError:
                        return True  # incomparable: no proof, keep
                files = [
                    f for f in files if _any_in(f.get("stats", {}).get(pc))
                ]
                files, _ = _bloom_prune(
                    spark, path, files, pc, non_null,
                    next(
                        f.dataType.simpleString()
                        for f in schema.fields
                        if f.name == col
                    ),
                )
            # the ROW filter is the contract; pruning is only a fast path
            cond = F.col(col).isin(non_null) if non_null else F.lit(False)
            if len(non_null) != len(vv):
                cond = cond | F.col(col).isNull()
            residual_filter = (
                cond if residual_filter is None else residual_filter & cond
            )
    if not files:
        return spark.createDataFrame([], _plain_schema(schema))
    paths = [_abs_file(path, f) for f in files]
    # read with the manifest's PHYSICAL schema: leaf files carry their
    # own columns (partition cols are duplicated, not hive-stripped — no
    # basePath / partition inference needed), the explicit schema
    # ignores the __p_* helper columns and NULL-backfills evolved
    # columns in older files; renamed columns resolve because the
    # physical name never moves — only the logical alias below does
    base = spark.read.schema(_physical_schema(schema)).parquet(*paths)
    dv = _read_dv(spark, path, manifest)
    if dv is None:
        out = _to_logical(base, schema)
    else:
        # deletion vectors: anti-join on (part-file name, row position) —
        # Spark broadcasts the DV side when small (the common case), and
        # the equi anti-join scales when it is not; stats/partition
        # pruning above stays valid (a DV never widens a file's min/max,
        # only hides rows)
        out = _to_logical(
            _with_row_refs(base).join(dv, [_DV_FILE, _DV_POS], "left_anti"),
            schema,
        )
    if residual_filter is not None:
        out = out.filter(residual_filter)
    return out


def txn_view(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    as_of: float | None = None,
    partition_filter: dict[str, list] | None = None,
    range_filter: dict[str, tuple] | None = None,
    value_filter: dict[str, list] | None = None,
    metadata: bool = False,
) -> DataFrame:
    """SQL front door for txn tables: register the snapshot (column-
    mapped, DV-filtered, manifest-pruned) as a TEMP VIEW so plain
    ``spark.sql`` works over it by name — the ``SELECT ... FROM t
    VERSION AS OF n`` experience users bring from Delta/Iceberg,
    expressed through Spark's catalog:

        txn_view(spark, path, "t_v3", version=3)
        spark.sql("SELECT k, sum(v) FROM t_v3 GROUP BY k")

    ``metadata=True`` also registers ``{name}_files`` (the inventory —
    :func:`txn_files`, pinned to the SAME snapshot), ``{name}_detail``
    and ``{name}_history`` — Iceberg's ``t.files`` / Delta's DESCRIBE
    DETAIL|HISTORY as plain SQL views. Like the data view, all three
    capture the state at REGISTRATION time (manifest walks are
    driver-side local relations); re-register to refresh.

    The view is a logical plan over exactly the snapshot's pruned file
    list — manifest pruning (``partition_filter`` / ``range_filter``)
    happens HERE, before the catalog ever sees a path, so a pruned view
    scans only surviving files no matter what SQL runs over it (row
    filters inside the SQL still push into the parquet scan as usual).
    Snapshot-stable: later commits never change what the view reads
    (it pins the resolved file list, like any txn_read). Re-registering
    the same name replaces the view. Returns the view's DataFrame."""
    df = txn_read(
        spark,
        path,
        version=version,
        as_of=as_of,
        partition_filter=partition_filter,
        range_filter=range_filter,
        value_filter=value_filter,
    )
    df.createOrReplaceTempView(name)
    if metadata:
        txn_files(spark, path, version=version, as_of=as_of)\
            .createOrReplaceTempView(f"{name}_files")
        txn_detail(spark, path).createOrReplaceTempView(f"{name}_detail")
        txn_history(spark, path).createOrReplaceTempView(f"{name}_history")
    return df


def txn_latest_meta(path: str) -> dict:
    """Commit metadata of the table head ({} for a fresh table)."""
    _, manifest = txn_latest(path)
    return (manifest or {}).get("meta", {})


def txn_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two snapshots, computed from the
    manifests' FILE diff: only files added or removed between the
    versions are read (files are immutable, so unchanged files cannot
    contribute changes), then the exact row-level delta is
    ``added EXCEPT ALL removed`` (inserts / new versions, multiset
    semantics) unioned with ``removed EXCEPT ALL added`` (deletes / old
    versions). Returns the table columns plus ``_change_type``
    ('insert' | 'delete'); an update appears as its delete+insert pair —
    the standard CDF shape consumers fold by key."""
    if to_version is None:
        to_version, _ = txn_latest(path)
    from_manifest = _materialize(path, from_version) if from_version else None
    after_manifest = _materialize(path, to_version)
    before = {f["path"] for f in from_manifest["files"]} if from_manifest else set()
    after = {f["path"] for f in after_manifest["files"]}
    # manifest-relative key -> filesystem path (shallow-cloned entries
    # resolve against their recorded base; files are immutable and keys
    # are commit-uuid-unique, so both versions agree where they overlap)
    absmap = {
        f["path"]: _abs_file(path, f)
        for m in (from_manifest, after_manifest)
        if m is not None
        for f in m["files"]
    }
    schema = StructType.fromJson(json.loads(after_manifest["schema"]))
    # the feed computes in PHYSICAL column space (physical names are
    # version-stable — that is what makes a rename a zero-row change)
    # and presents the TO snapshot's logical names at the end
    pschema = _physical_schema(schema)
    dv_from = _read_dv(spark, path, from_manifest)
    dv_to = _read_dv(spark, path, after_manifest)

    def read_set(rel_paths, dv):
        files = [absmap[p] for p in sorted(rel_paths)]
        if not files:
            return spark.createDataFrame([], pschema)
        # both sides read under the TO snapshot's schema so an evolved
        # column diffs as NULL→value, not as a schema mismatch; each
        # side applies ITS version's deletion vectors so a DV'd row
        # counts as absent on that side
        df = spark.read.schema(pschema).parquet(*files)
        if dv is None:
            return df
        return (
            _with_row_refs(df)
            .join(dv, [_DV_FILE, _DV_POS], "left_anti")
            .drop(_DV_FILE, _DV_POS)
        )

    added_rows = read_set(after - before, dv_to)
    removed_rows = read_set(before - after, dv_from)
    # txn_delete / txn_restore change NO files — DV deltas over files
    # present in BOTH versions are row changes too: entries in dv_to
    # beyond dv_from are deletes (newly hidden rows), entries in dv_from
    # beyond dv_to are INSERTS (rows a restore un-hid). Only the files
    # the DV delta actually references are read (the list collected is
    # bounded by the manifest's file count, the same driver-side order
    # as the file listing itself).
    common = before & after

    def dv_delta_rows(side_dv, other_dv):
        if side_dv is None:
            return spark.createDataFrame([], pschema)
        delta = side_dv.exceptAll(other_dv) if other_dv is not None else side_dv
        if not common:
            return spark.createDataFrame([], pschema)
        hit_rels = sorted(
            {r[0] for r in delta.select(_DV_FILE).distinct().collect()}
            & common
        )
        if not hit_rels:
            return spark.createDataFrame([], pschema)
        hit_df = _with_row_refs(
            spark.read.schema(pschema).parquet(
                *[absmap[p] for p in hit_rels]
            )
        )
        return hit_df.join(delta, [_DV_FILE, _DV_POS], "left_semi").drop(
            _DV_FILE, _DV_POS
        )

    dv_deleted = dv_delta_rows(dv_to, dv_from)
    dv_restored = dv_delta_rows(dv_from, dv_to)
    inserts = (
        added_rows.exceptAll(removed_rows)
        .unionByName(dv_restored)
        .withColumn("_change_type", F.lit("insert"))
    )
    deletes = (
        removed_rows.exceptAll(added_rows)
        .unionByName(dv_deleted)
        .withColumn("_change_type", F.lit("delete"))
    )
    return _to_logical(
        inserts.unionByName(deletes), schema, keep=("_change_type",)
    )


def txn_changes_since(
    spark: SparkSession, path: str, last_version: int
) -> tuple[DataFrame, int]:
    """Pull-based incremental consumption of the change feed: the rows
    changed since ``last_version`` (as :func:`txn_changes`) plus the new
    cursor to persist. A consumer loop is

        df, cur = txn_changes_since(spark, path, cur)

    applied per poll — downstream incremental jobs (rollup refreshes,
    index maintenance, replication) process each commit's delta exactly
    once as long as they persist the cursor transactionally with their
    own output (e.g. in their commit ``meta``)."""
    head, _ = txn_latest(path)
    if head == 0:
        # table has no commits yet (a consumer may start polling before
        # the producer's first commit): an explicitly-empty feed whose
        # real columns appear once the table exists — not a crash
        return (
            spark.createDataFrame([], "_change_type string"),
            last_version,
        )
    if head <= last_version:
        # no new commits: empty frame under the current schema
        return txn_read(spark, path, version=last_version).limit(0).withColumn(
            "_change_type", F.lit("insert")
        ).limit(0), last_version
    return txn_changes(spark, path, last_version, head), head


def txn_change_feed(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """PER-COMMIT Change Data Feed (Delta CDF's shape): every commit in
    ``(from_version, to_version]`` contributes its own change rows with
    ``_change_type`` ('insert' | 'delete' | 'update_preimage' |
    'update_postimage'), ``_commit_version`` and ``_commit_timestamp``.
    Unlike :func:`txn_changes` — which diffs the two SNAPSHOTS, so a row
    inserted at v5 and deleted at v7 cancels out — the feed preserves
    each commit's changes (the audit/replication shape).

    This is the never-diff-snapshots path. Per commit, consumption cost:

    * RECORDED change files (MERGE/DELETE committed under the
      ``cdf.enabled`` table property): read exactly those files — the
      pre-materialized update pre/post images, inserts and deletes.
    * Append-only commits: the delta log names the added files (one
      JSON read); they stream as inserts. No change file needed — the
      data files ARE the changes (Delta does the same).
    * Anything else (overwrite, replace_where, restore, a merge/delete
      committed while cdf was off): per-commit snapshot diff fallback
      (updates appear as plain delete+insert pairs there — pre/post
      labels need recorded files).
    * Purge and OPTIMIZE commits (``data_change: false``): nothing —
      they rewrite files without changing rows.

    Columns present under ``to_version``'s logical names (physical
    names are version-stable, so renames resolve; columns added later
    NULL-backfill, columns dropped later are omitted)."""
    from pyspark.sql.types import StringType

    if to_version is None:
        to_version, _ = txn_latest(path)
    to_state = _materialize(path, to_version)
    to_schema = StructType.fromJson(json.loads(to_state["schema"]))
    to_pschema = _physical_schema(to_schema)

    def present(df_phys: DataFrame) -> DataFrame:
        # physical column space (possibly a subset) -> the feed's
        # presentation: to_version's logical names, NULL backfill
        have = set(df_phys.columns)
        cols = []
        for lf, pf in zip(to_schema.fields, to_pschema.fields):
            if pf.name in have:
                cols.append(F.col(pf.name).alias(lf.name))
            else:
                cols.append(F.lit(None).cast(pf.dataType).alias(lf.name))
        return df_phys.select(*cols, "_change_type")

    out = None
    for v in range(from_version + 1, to_version + 1):
        raw = _load(path, v)  # FileNotFoundError: vacuumed away — loud
        if raw.get("meta", {}).get("data_change") is False:
            continue  # purge/OPTIMIZE: files rewritten, rows unchanged
        state = _materialize(path, v, raw=raw)
        vschema = StructType.fromJson(json.loads(state["schema"]))
        if raw.get("cdf"):
            read_schema = StructType(
                list(_physical_schema(vschema).fields)
                + [StructField("_change_type", StringType(), False)]
            )
            df = spark.read.schema(read_schema).parquet(
                *[os.path.join(path, p) for p in raw["cdf"]]
            )
            part = present(df)
        else:
            delta = _commit_file_delta(path, v, raw)
            if delta is not None and not delta[1]:
                added = delta[0]
                if not added:
                    continue  # property/DDL/schema-only commit: no rows
                df = spark.read.schema(_physical_schema(vschema)).parquet(
                    *[_abs_file(path, f) for f in added]
                ).withColumn("_change_type", F.lit("insert"))
                part = present(df)
            else:
                # snapshot-diff fallback for this one commit; translate
                # its logical presentation back to physical space first
                vmap = _mapping(vschema)
                fb = txn_changes(spark, path, v - 1, v)
                df = fb.select(
                    *[
                        F.col(f.name).alias(vmap.get(f.name, f.name))
                        for f in vschema.fields
                    ],
                    "_change_type",
                )
                part = present(df)
        part = part.withColumn(
            "_commit_version", F.lit(v).cast("long")
        ).withColumn(
            "_commit_timestamp",
            F.lit(float(raw.get("ts") or 0.0)).cast("double"),
        )
        out = part if out is None else out.unionByName(part)
    if out is not None:
        return out
    base = txn_read(spark, path, version=to_version).limit(0)
    return (
        base.withColumn("_change_type", F.lit("").cast("string"))
        .withColumn("_commit_version", F.lit(0).cast("long"))
        .withColumn("_commit_timestamp", F.lit(0.0).cast("double"))
        .limit(0)
    )


def _read_file_subset(
    spark: SparkSession, path: str, manifest: dict, rel_paths: set[str]
) -> DataFrame:
    """Read a SUBSET of a snapshot's files under its logical schema,
    deletion vectors applied — txn_read's tail restricted to the named
    manifest-relative paths (the selective-MERGE rewrite read). DV
    entries are pre-pruned to those whose refs may touch the subset."""
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    files = [f for f in manifest["files"] if f["path"] in rel_paths]
    if not files:
        return spark.createDataFrame([], _plain_schema(schema))
    paths = [_abs_file(path, f) for f in files]
    base = spark.read.schema(_physical_schema(schema)).parquet(*paths)
    dv_entries = [
        e for e in manifest.get("dv", [])
        if not isinstance(e, dict) or not e.get("refs")
        or any(r in rel_paths for r in e["refs"])
    ]
    dv = _read_dv(spark, path, {**manifest, "dv": dv_entries})
    if dv is None:
        return _to_logical(base, schema)
    return _to_logical(
        _with_row_refs(base).join(dv, [_DV_FILE, _DV_POS], "left_anti"),
        schema,
    )


# Cost-based probe bail (selective MERGE): when EXACT-KEY pruning —
# not mere bounds overlap — confirms that more than this fraction of
# the live files hold a batch key in their recorded range, the
# key-column probe scan cannot pay for itself: the batch provably
# touches most of the table, so every candidate is rewritten without
# probing (identical semantics: rewriting an untouched candidate is a
# byte-preserving rewrite, and files PRUNED by stats still ride the
# commit zero-copy). This caps the uniform-key worst case at the plain
# rewrite cost instead of rewrite + a wasted probe, while stats-less
# tables, multi-key merges, and over-cap batches ALWAYS probe (there,
# "everything is a candidate" is absence of evidence, and bailing
# would turn a 10-row merge into a full-table rewrite).
_PROBE_SKIP_FRACTION = 0.6
# Single-key merges sharpen bounds pruning with the batch's DISTINCT
# key values (bounded driver collect): a file is a candidate only if
# some actual key falls inside its [min, max], not merely the batch's
# global bounds — a 2-key batch spanning the table no longer marks
# every file candidate. Batches over the cap keep bounds-only pruning.
_EXACT_PRUNE_KEY_CAP = 100_000


def _touched_files(
    spark: SparkSession,
    path: str,
    manifest: dict,
    keys: list[str],
    key_df: DataFrame,
) -> set[str]:
    """Manifest-relative paths of live files a MERGE must rewrite — the
    files holding batch keys, or a stats-bounded superset when probing
    cannot pay for itself.

    100 TB shape: candidate files are pre-pruned on per-file min/max
    stats against the batch's key bounds when the table records them
    (one tiny aggregate over the batch), sharpened by exact batch keys
    for single-key merges (bounded collect), then ONE key-column-only
    scan of the candidates (parquet column pruning — the key bytes, not
    the table) semi-joins the batch keys; the result collected is
    DISTINCT FILE PATHS, O(#files) driver state, never rows. When the
    candidates exceed ``_PROBE_SKIP_FRACTION`` of the live files the
    probe scan is skipped and every candidate is rewritten (the
    uniform-key case, where the probe is pure overhead)."""
    all_files = manifest["files"]
    if not all_files:
        return set()
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    cmap = _mapping(schema)
    phys_keys = [cmap.get(k, k) for k in keys]
    files = all_files
    have_stats = any(
        pk in f.get("stats", {}) for f in all_files for pk in phys_keys
    )
    kvals = None  # the batch's distinct keys, collected at most once

    def _batch_keys() -> list:
        nonlocal kvals
        if kvals is None:
            kvals = [
                r[0]
                for r in key_df.dropDuplicates(keys)
                .limit(_EXACT_PRUNE_KEY_CAP + 1)
                .collect()
            ]
        return kvals

    exact_evidence = False  # did EXACT-KEY pruning vet the candidates?
    did_exact_stats = False  # per-key stats pruning already ran up front?
    pk = phys_keys[0]
    # stats pruning: a file whose recorded [min, max] cannot overlap the
    # batch's keys cannot contain a matching row. Single-key merges with
    # a driver-safe batch prune on the EXACT distinct key values in ONE
    # pass (r12): the bounds aggregate the generic path runs below is a
    # separate Spark job whose [min, max] window is strictly looser than
    # the per-key bisect (keys {150, 450} mark every mid-range file
    # candidate) — collecting the keys once replaces both. Restricted to
    # int/bool/str keys, whose Python ordering provably matches Spark's
    # (UTF-8 byte order equals code-point order); float keys (NaN
    # ordering) and exotic types keep the aggregate path.
    py_keys = None
    if have_stats and len(keys) == 1:
        ks = _batch_keys()
        if len(ks) <= _EXACT_PRUNE_KEY_CAP and all(
            v is None or isinstance(v, (int, str)) for v in ks
        ):
            py_keys = ks
    if py_keys is not None:
        import bisect

        # NULL keys never equi-join: pruning on the non-null values is
        # exact, and an all-NULL batch touches no file at all
        skvals = sorted(v for v in py_keys if v is not None)

        def _file_holds_a_key(f) -> bool:
            st = f.get("stats", {}).get(pk)
            if st is None:
                return True  # no stats: conservatively candidate
            mn, mx = st
            i = bisect.bisect_left(skvals, mn)
            return i < len(skvals) and skvals[i] <= mx

        try:
            files = [f for f in all_files if _file_holds_a_key(f)]
            # evidence only when every survivor actually RECORDS key
            # stats — stats-less files were kept unvetted, and bailing
            # on them would rewrite files nothing ever checked
            if all(f.get("stats", {}).get(pk) is not None for f in files):
                exact_evidence = True
            did_exact_stats = True
        except TypeError:
            files = all_files  # incomparable stat types: keep every candidate
        if not files:
            return set()
    elif have_stats:
        bounds_row = key_df.agg(
            *[F.min(k).alias(f"lo_{i}") for i, k in enumerate(keys)],
            *[F.max(k).alias(f"hi_{i}") for i, k in enumerate(keys)],
        ).first()
        bounds = {
            pk_: (bounds_row[f"lo_{i}"], bounds_row[f"hi_{i}"])
            for i, pk_ in enumerate(phys_keys)
        }
        try:
            files = [
                f for f in all_files
                if _stats_match(f.get("stats", {}), bounds)
            ]
        except TypeError:
            files = all_files  # incomparable stat types: keep every candidate
        if not files:
            return set()
    if (
        len(keys) == 1
        and any(pk in (f.get("bloom") or {}).get("cols", []) for f in files)
        and len(_batch_keys()) <= _EXACT_PRUNE_KEY_CAP
    ):
        # bloom pruning: exact-key membership per file, effective even
        # when every file's [min, max] spans the key domain (the
        # unclustered layout min/max is blind to). NULL keys never
        # equi-join, so probing only the non-null values stays exact.
        # vetted=True (-> exact-key evidence for the bail) only when
        # every surviving candidate actually passed a membership test —
        # unbloomed files kept conservatively, or an uncanonicalizable
        # probe, must never let the bail rewrite unvetted files
        files, exact_evidence = _bloom_prune(
            spark, path, files, pk,
            [v for v in _batch_keys() if v is not None],
            next(
                fl.dataType.simpleString()
                for fl in schema.fields
                if _phys(fl) == pk
            ),
        )
        if not files:
            return set()
    if (
        not did_exact_stats
        and have_stats
        and len(keys) == 1
        and len(files) > _PROBE_SKIP_FRACTION * len(all_files)
        and len(_batch_keys()) <= _EXACT_PRUNE_KEY_CAP
    ):
        # global bounds are loose for sparse batches (keys {150, 450}
        # mark every mid-range file candidate) — re-prune on the actual
        # key values when the batch is driver-safe. Only reached when
        # the up-front per-key prune was skipped — non-int/str key
        # types, whose Python ordering is not provably Spark's.
        import bisect

        skvals = sorted(v for v in _batch_keys() if v is not None)

        def _holds_a_key(f) -> bool:
            st = f.get("stats", {}).get(pk)
            if st is None:
                return True  # no stats: conservatively candidate
            mn, mx = st
            i = bisect.bisect_left(skvals, mn)
            return i < len(skvals) and skvals[i] <= mx

        try:
            files = [f for f in files if _holds_a_key(f)]
            # evidence only when every survivor actually RECORDS key
            # stats — stats-less files were kept unvetted, and bailing
            # on them would rewrite files nothing ever checked
            if all(f.get("stats", {}).get(pk) is not None for f in files):
                exact_evidence = True
        except TypeError:
            pass  # incomparable types: bounds only, no exact evidence
        if not files:
            return set()
    if exact_evidence and len(files) > _PROBE_SKIP_FRACTION * len(all_files):
        # cost-based bail — EVIDENCE-GATED: only after exact-key
        # pruning (bloom membership and/or per-key stats) confirmed
        # that most files genuinely may hold a batch key (the
        # uniform-key case) is the probe scan provably near-worthless;
        # skip it and rewrite the candidates (identical semantics:
        # rewriting an untouched candidate is byte-preserving). Without
        # stats or blooms, with multi-key merges, or for over-cap
        # batches there is no such evidence and the probe always runs —
        # bailing on "100% candidates because nothing could prune"
        # would turn a 10-row merge into a full-table rewrite.
        return {f["path"] for f in files}
    pschema = _physical_schema(schema)
    key_fields = StructType(
        [f for f in pschema.fields if f.name in phys_keys]
    )
    # input_file_name() returns ABSOLUTE file: URIs — key the map by
    # abspath so a caller's cwd-relative table path still resolves
    absmap = {
        os.path.abspath(_abs_file(path, f)): f["path"] for f in files
    }
    scan = (
        spark.read.schema(key_fields)
        .parquet(*absmap.keys())
        .withColumn("__src_file", F.input_file_name())
    )
    probe = key_df.toDF(*phys_keys).dropDuplicates(phys_keys)
    hits = (
        scan.join(probe, phys_keys, "left_semi")
        .select("__src_file")
        .distinct()
        .collect()
    )
    return {
        _rel_from_scan_uri(
            absmap, r["__src_file"], path, "touched-file scan"
        )
        for r in hits
    }


def _write_merge_cdf(
    spark: SparkSession,
    path: str,
    manifest: dict,
    matched_src: DataFrame,
    batch: DataFrame,
    keys: list[str],
    tombstones: DataFrame | None,
    identity_names: bool = False,
) -> list[str]:
    """Record a MERGE's exact row-level changes as a change parquet
    under ``{path}/cdf/<id>/`` (Delta Change Data Feed's shape):
    update_preimage / update_postimage / insert / delete rows, computed
    from the rows the merge already reads (``matched_src`` is the
    touched-file subset, DV-applied). Columns are written under the
    table's PHYSICAL names (version-stable through renames, same
    contract as data files) plus ``_change_type``; returns the written
    files' manifest-relative paths for the commit to reference.

    ``identity_names=True`` is for the FULL-rewrite merge: its
    mode='overwrite' commit RESETS the column mapping to identity, so
    the change file must carry the post-commit (logical==physical)
    names — recording the pre-commit physicals there would make the
    feed NULL every renamed column silently."""
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    cmap = {} if identity_names else _mapping(schema)
    used = set(cmap.values()) | set(manifest.get("retired_physical", []))
    for c in batch.columns:
        if c not in cmap and c in used:
            # a NEW batch column colliding with a live/retired physical
            # gets a fresh uuid physical inside txn_write — unknowable
            # here, so the change file would record the wrong name and
            # the feed would NULL it silently. Rare; refuse loudly.
            raise ValueError(
                f"cannot record change files: new column {c!r} collides "
                f"with a retired/claimed physical name of {path} — "
                "rename the batch column, or disable cdf.enabled for "
                "this merge"
            )
    upd_keys = batch.select(*keys).dropDuplicates(keys)
    matched_keys = matched_src.select(*keys).dropDuplicates(keys)
    parts = [
        matched_src.join(upd_keys, keys, "left_semi").withColumn(
            "_change_type", F.lit("update_preimage")
        ),
        batch.join(matched_keys, keys, "left_semi").withColumn(
            "_change_type", F.lit("update_postimage")
        ),
        batch.join(matched_keys, keys, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        ),
    ]
    if tombstones is not None:
        parts.append(
            matched_src.join(tombstones, keys, "left_semi").withColumn(
                "_change_type", F.lit("delete")
            )
        )
    changes = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: the batch may add or omit evolved columns
        # — either side NULL-backfills, matching the merge itself
        changes = changes.unionByName(p, allowMissingColumns=True)
    changes = changes.select(
        *[
            F.col(c).alias(cmap.get(c, c))
            for c in changes.columns
            if c != "_change_type"
        ],
        "_change_type",
    )
    import glob as _glob

    cdf_dir = os.path.join(path, "cdf", uuid.uuid4().hex[:12])
    changes.write.parquet(cdf_dir)
    return [
        os.path.relpath(p, path)
        for p in sorted(_glob.glob(os.path.join(cdf_dir, "*.parquet")))
    ]


def _rebase_conflict_check(
    spark: SparkSession,
    path: str,
    base_version: int,
    head_version: int,
    protected: set[str],
    keys: list[str] | None = None,
    key_df: DataFrame | None = None,
    check_cdf: bool = False,
) -> None:
    """Logical conflict detection for optimistic rebase (Delta's
    WriteSerializable shape): decide whether the commits in
    ``(base_version, head_version]`` are DISJOINT from a pinned
    read-modify-write whose staged outputs replace the ``protected``
    files. Raises ``ConcurrentWriteError`` on a real conflict;
    returning means the operation can re-commit against the new head
    with its staged files intact — nothing rewritten, nothing lost.

    Conflicts (each would silently lose a writer's effect):

    * a protected file was removed/rewritten concurrently — the staged
      replacement was derived from a snapshot that no longer exists;
    * a deletion-vector change references a protected file — the
      staged rewrite materialized the OLD DV state for it, so carrying
      it forward would resurrect (or re-hide) rows;
    * the partition layout changed — the staged files were routed
      under the old layout;
    * (``check_cdf``) the ``cdf.enabled`` property toggled — the
      decision whether to record change files was made on the old head;
    * (``keys``) a concurrently APPENDED file holds rows matching the
      operation's keys — a MERGE would have had to update them. Probed
      with the same stats/bloom-pruned key-column scan as
      :func:`_touched_files` — key bytes of the new files only.

    Everything else — appends of non-matching rows, DV changes on
    untouched files, property edits — rebases: concurrent writers on
    disjoint data both land, the multi-writer shape a 1000-executor
    pipeline needs (schema/constraint/mapping races are re-checked by
    the commit loop itself, independent of this function)."""
    base_m = _materialize(path, base_version)
    head_m = _materialize(path, head_version)
    base_paths = {f["path"] for f in base_m["files"]}
    head_files = {f["path"]: f for f in head_m["files"]}
    hit = (base_paths - set(head_files)) & protected
    if hit:
        raise ConcurrentWriteError(
            f"cannot rebase onto v{head_version} of {path}: concurrent "
            f"commit(s) removed or rewrote file(s) this operation "
            f"rewrites (e.g. {sorted(hit)[:3]}) — re-run against the "
            "new head"
        )
    base_dv = {_dv_key(e): e for e in base_m.get("dv", [])}
    head_dv = {_dv_key(e): e for e in head_m.get("dv", [])}
    for k in set(base_dv) | set(head_dv):
        a, b = base_dv.get(k), head_dv.get(k)
        if a == b:
            continue
        for e in (a, b):
            if e is None:
                continue
            refs = e.get("refs") if isinstance(e, dict) else None
            if refs is None:
                # legacy DV entry without file refs: cannot prove
                # disjointness — conservative conflict
                raise ConcurrentWriteError(
                    f"cannot rebase onto v{head_version} of {path}: "
                    "deletion vectors changed concurrently and carry no "
                    "file refs to prove disjointness — re-run against "
                    "the new head"
                )
            if set(refs) & protected:
                raise ConcurrentWriteError(
                    f"cannot rebase onto v{head_version} of {path}: a "
                    "concurrent deletion-vector change references "
                    "file(s) this operation rewrites — re-run against "
                    "the new head"
                )
    base_layouts = {
        tuple(sorted(f["partition"].keys())) for f in base_m["files"]
    }
    head_layouts = {
        tuple(sorted(f["partition"].keys())) for f in head_m["files"]
    }
    if head_layouts - base_layouts or _layout_order(base_m) != _layout_order(
        head_m
    ):
        raise ConcurrentWriteError(
            f"cannot rebase onto v{head_version} of {path}: the "
            "partition layout changed concurrently — re-run against "
            "the new head"
        )
    if check_cdf and _cdf_enabled(base_m) != _cdf_enabled(head_m):
        raise ConcurrentWriteError(
            f"cannot rebase onto v{head_version} of {path}: cdf.enabled "
            "toggled concurrently — re-run against the new head"
        )
    # table CONTRACT changes are always conflicts: the caller validated
    # (or skipped validating, via _constraints_prevalidated) its batch
    # against the BASE contract. The commit loop's own re-check compares
    # the live head against head0 — read inside txn_write, possibly
    # AFTER a concurrent add_constraint — so without this check a rule
    # landing in the base→head0 window would let an unvalidated batch
    # commit under rebase (the default pin raise closes that window).
    for contract in ("constraints", "generated"):
        if base_m.get(contract, {}) != head_m.get(contract, {}):
            raise ConcurrentWriteError(
                f"cannot rebase onto v{head_version} of {path}: the "
                f"{contract} contract changed concurrently — the batch "
                "was validated against the old head; re-run against "
                "the new one"
            )
    if keys is not None:
        added = [
            f for p, f in head_files.items() if p not in base_paths
        ]
        if added:
            hits = _touched_files(
                spark,
                path,
                {"files": added, "schema": head_m["schema"]},
                keys,
                key_df,
            )
            if hits:
                raise ConcurrentWriteError(
                    f"cannot rebase onto v{head_version} of {path}: "
                    "concurrently appended file(s) hold rows matching "
                    f"the merge keys (e.g. {sorted(hits)[:3]}) — re-run "
                    "the merge against the new head"
                )


def txn_upsert(
    batch: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
    meta: dict | None = None,
    delete_when: str | None = None,
    rewrite: str = "selective",
    on_conflict: str = "raise",
    app_id: str | None = None,
    app_version: int | None = None,
) -> int:
    """Batch MERGE INTO: batch rows replace same-key rows, new keys
    append — one keyed shuffle, ONE atomic commit (readers see pre- or
    post-merge, never between; pinned snapshots unaffected). Within the
    batch, ``order_col`` picks the winning version per key (last-wins);
    without it the batch must be key-unique. The batch counterpart of
    ``streaming.ops.stream_upsert_to_parquet(txn=True)``. Returns the
    committed version.

    ``rewrite`` picks the physical strategy (identical results):

    * ``"selective"`` (default — Delta MERGE's shape): ONE key-column-
      only scan (stats-pruned when the table records key stats) finds
      the files actually holding batch keys; only those are rewritten,
      every other file rides into the commit untouched. A MERGE's cost
      becomes O(touched files + key bytes scanned), not O(table) — at
      100 TB, merging a day's delta into a key-clustered table (see
      ``sources.layout``) rewrites gigabytes, not the table. COST-BASED
      BAIL: when pruning leaves most of the table as candidates (a
      uniformly-keyed batch), the probe scan is skipped and the
      candidates are rewritten directly — the worst case costs what a
      plain rewrite costs, never rewrite + a wasted probe.
    * ``"full"`` — rewrite the whole table as one overwrite commit (the
      pre-r10 behavior; OPTIMIZE-adjacent, occasionally useful to
      defragment while merging).

    ``delete_when`` (SQL predicate over the batch columns, or a Column)
    adds the WHEN MATCHED DELETE arm (Delta's ``whenMatchedDelete``):
    batch rows satisfying it are TOMBSTONES — their keys are removed
    from the table and the rows are NOT inserted (an unmatched tombstone
    is a no-op, per MERGE). The retention/GDPR-erase shape: one batch
    carries updates, inserts, and deletes, applied in one atomic commit.
    Evaluated after the ``order_col`` winner selection, so a key whose
    LATEST batch version is a tombstone deletes even if older versions
    were updates. A NULL predicate value means not-a-tombstone.

    The overwrite is a read-modify-write pinned with
    ``expected_version``: a concurrent commit landing between the
    snapshot read and the merge commit raises ``ConcurrentWriteError``
    instead of silently dropping that writer's rows — re-run the merge
    against the new head. ``on_conflict="rebase"`` (selective rewrite
    only) upgrades that to OPTIMISTIC CONCURRENCY with logical conflict
    detection (Delta's WriteSerializable shape): on a version race the
    concurrent commits are examined, and when they are provably
    disjoint — appends holding no batch key (stats/bloom-pruned
    key-column probe of the NEW files only), DV changes on files this
    merge does not rewrite — the merge re-commits against the new head
    with its staged outputs intact: both writers land, nothing is
    rewritten twice. A real conflict (a touched file removed, an
    appended row matching a merge key, a layout/contract change) still
    raises. The multi-writer shape: concurrent merges to disjoint key
    ranges of a 100 TB table proceed without coordination. Refuses a
    path holding a plain (non-txn) parquet table: shadowing it would
    silently drop every existing key from the transactional view.

    ``app_id``/``app_version`` make the merge IDEMPOTENT (the
    foreachBatch-replay idiom — a restarted stream re-running an
    applied micro-batch's merge): a replay of an applied version
    returns the current head before the probe or any rewrite; see
    :func:`txn_write`'s idempotent-writes contract."""
    import glob

    from pyspark.sql import Window

    if on_conflict not in ("raise", "rebase"):
        raise ValueError(
            f"on_conflict must be 'raise' or 'rebase', got {on_conflict!r}"
        )
    if rewrite not in ("selective", "full"):
        # validated HERE, before the replay skip — a bogus value must
        # raise identically whether or not the batch already landed
        raise ValueError(
            f"rewrite must be 'selective' or 'full', got {rewrite!r}"
        )
    if on_conflict == "rebase" and rewrite != "selective":
        raise ValueError(
            "on_conflict='rebase' requires rewrite='selective': a full "
            "rewrite replaces the whole live set, so concurrent appends "
            "can never rebase into it"
        )
    _validate_app(app_id, app_version, "merge")
    spark = batch.sparkSession
    if order_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    tombstones = None
    if delete_when is not None:
        cond = (
            F.expr(delete_when) if isinstance(delete_when, str) else delete_when
        )
        tombstones = batch.filter(cond).select(*keys)
        batch = batch.filter(~F.coalesce(cond, F.lit(False)))
    partition_by = None
    stats_cols = None
    bloom_cols, bloom_bits = None, None
    prevalidated = False
    if is_txn_table(path):
        version, manifest = txn_latest(path)
        # idempotent MERGE (the foreachBatch-replay idiom): skip BEFORE
        # the probe or any rewrite when the watermark says this batch
        # already landed; the commit records the mark atomically, and
        # txn_write's loop-top re-check closes the racing-twin window
        # with the same graceful skip
        if app_id is not None:
            prev = manifest.get("apps", {}).get(app_id)
            if prev is not None and app_version <= prev:
                return version
        gen = dict(manifest.get("generated", {}))
        if gen:
            # generated columns: compute/validate the BATCH alone (the
            # survivors were computed/validated when they committed) —
            # the merged overwrite below then skips re-validation via
            # the same prevalidated flag as constraints, safe for the
            # same expected_version reason
            batch = _apply_generated(
                batch,
                gen,
                StructType.fromJson(json.loads(manifest["schema"])),
                path,
                "merge into",
            )
            prevalidated = True
        cons = dict(manifest.get("constraints", {}))
        if cons:
            # validate the BATCH alone (survivors were validated when
            # they committed / when the constraint was added): keeps
            # MERGE's enforcement cost on the batch, never the table —
            # the overwrite commit below then skips re-validating the
            # merged frame (safe: it pins expected_version, so a racing
            # add_constraint raises instead of slipping past)
            mschema = StructType.fromJson(json.loads(manifest["schema"]))
            _check_batch_constraints(
                batch, cons, mschema, path, "merge into"
            )
            prevalidated = True
        # a partitioned table stays partitioned through the merge — an
        # unpartitioned overwrite would empty the per-file partition
        # metadata, silently breaking partition_filter reads and making
        # later replace_where refreshes DUPLICATE instead of replace
        partition_by = _layout_order(manifest) or None
        # likewise data skipping survives the merge: inherit the stats
        # column set from the previous manifest — a recommit without
        # stats_cols would drop every per-file min/max and break all
        # existing txn_read(range_filter=...) readers. Stats keys are
        # physical; the merged frame is logical — translate
        stats_cols = _logical_stats_cols(manifest)
        # bloom filters survive the merge the same way: rewritten files
        # get fresh filters, untouched files keep their sidecar refs
        bloom_spec = _logical_bloom_cols(manifest)
        bloom_cols, bloom_bits = bloom_spec or (None, None)
        # the batch re-executes in drop_keys, the cdf branches, and the
        # merge union — and each execution re-runs the caller's source
        # plan (often a multi-scan union). Persist batch/tombstones/
        # drop_keys for the merge's lifetime so the caller's plan runs
        # once; unpersisted on every exit path below.
        batch = batch.persist()
        _merge_caches = [batch]
        if tombstones is not None:
            tombstones = tombstones.persist()
            _merge_caches.append(tombstones)
        drop_keys = batch.select(*keys)
        if tombstones is not None:
            drop_keys = drop_keys.unionByName(tombstones)
        drop_keys = drop_keys.dropDuplicates(keys).persist()
        _merge_caches.append(drop_keys)
        record_cdf = _cdf_enabled(manifest)
        if rewrite == "selective":
            touched = _touched_files(spark, path, manifest, keys, drop_keys)
            subset = _read_file_subset(spark, path, manifest, touched)
            cdf_paths = None
            if record_cdf:
                # the change rows reuse the subset the merge reads
                # anyway — persist so the cdf write and the rewrite
                # don't scan the touched files twice
                subset = subset.persist()
                cdf_paths = _write_merge_cdf(
                    spark, path, manifest, subset, batch, keys, tombstones
                )
            survivors = subset.join(drop_keys, keys, "left_anti")
            # allowMissingColumns: the batch may introduce a new column
            # or omit an evolved one — either side NULL-backfills,
            # matching additive schema-evolution semantics
            merged = survivors.unionByName(batch, allowMissingColumns=True)
            checker = None
            if on_conflict == "rebase":
                def checker(base_v, head_v, _t=touched, _dk=drop_keys):
                    _rebase_conflict_check(
                        spark, path, base_v, head_v, _t,
                        keys=keys, key_df=_dk, check_cdf=True,
                    )
            try:
                return txn_write(
                    merged,
                    path,
                    mode="append",
                    partition_by=partition_by,
                    meta=meta,
                    expected_version=version,
                    stats_cols=stats_cols,
                    bloom_cols=bloom_cols,
                    bloom_bits=bloom_bits,
                    # the layout is DERIVED from the table (union of live
                    # partition keys), not user input — on an already-
                    # evolved table it may widen a narrower live layout
                    allow_partition_evolution=True,
                    app_id=app_id,
                    app_version=app_version,
                    _constraints_prevalidated=prevalidated,
                    _replace_paths=touched,
                    _cdf_paths=cdf_paths,
                    _on_conflict=checker,
                )
            finally:
                for _c in _merge_caches:
                    _c.unpersist()
                if record_cdf:
                    subset.unpersist()
        current = txn_read(spark, path, version=version)
        cdf_paths = None
        if record_cdf:
            current = current.persist()
            # identity names: this mode='overwrite' commit RESETS the
            # column mapping — the change file must carry the new names
            cdf_paths = _write_merge_cdf(
                spark, path, manifest, current, batch, keys, tombstones,
                identity_names=True,
            )
        survivors = current.join(drop_keys, keys, "left_anti")
        merged = survivors.unionByName(batch, allowMissingColumns=True)
    else:
        if os.path.isdir(path) and (
            glob.glob(os.path.join(path, "*.parquet"))
            or glob.glob(os.path.join(path, "*", "*.parquet"))
        ):
            raise ValueError(
                f"{path} holds a plain parquet table; txn_upsert would "
                "silently drop its rows — migrate it with "
                "txn_write(spark.read.parquet(path), fresh_path) first"
            )
        version = 0
        merged = batch
        record_cdf = False
        cdf_paths = None
        _merge_caches = []
    try:
        return txn_write(
            merged,
            path,
            mode="overwrite",
            partition_by=partition_by,
            meta=meta,
            expected_version=version,
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            bloom_bits=bloom_bits,
            app_id=app_id,
            app_version=app_version,
            _constraints_prevalidated=prevalidated,
            _cdf_paths=cdf_paths,
        )
    finally:
        for _c in _merge_caches:
            _c.unpersist()
        if record_cdf:
            current.unpersist()


def txn_delete(
    spark: SparkSession,
    path: str,
    predicate,
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Row-level DELETE via DELETION VECTORS — no data file is rewritten
    (Delta 3.x DV semantics, re-expressed relationally): matching rows'
    (part-file name, row position) keys are written as a small DV
    parquet under ``{path}/dv/`` and the new manifest references it;
    every subsequent read anti-joins the DV table. At 100 TB this turns
    a GDPR-erase of a few thousand rows from a multi-TB rewrite into a
    kilobyte-scale commit; files become physically clean at the next
    ``compact_txn``/``txn_upsert`` (both read DV-applied and rewrite,
    resetting the DV list) and a full ``mode="overwrite"`` also clears
    DVs.

    ``predicate``: SQL string or Column over the table columns,
    evaluated against the CURRENT snapshot with existing DVs applied
    (a row can only die once — the change feed stays exact). A
    predicate matching nothing is a no-op returning the current version
    (no empty commit). Concurrent commits are handled like any writer:
    the matching row set is recomputed against the new head and the
    commit retried. Deleted rows remain visible to pinned/as_of readers
    of older versions until ``txn_vacuum`` reclaims them.

    Data skipping note: per-file min/max recorded by ``stats_cols`` are
    not recomputed (DVs only hide rows), so pruning stays conservative
    and correct."""
    import glob
    import shutil

    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    staged: list[str] = []  # this attempt's DV (and change-file) dirs

    def drop_staged():
        # lost the race: the matching row set may have changed under the
        # new head — drop the staged DV (and change files) and recompute
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)
        staged.clear()

    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        if not manifest["files"]:
            return None  # empty table: nothing to delete
        # the row-ref columns must come off the SCAN itself (_metadata
        # does not survive txn_read's own DV anti-join), so rebuild the
        # snapshot read here with refs attached, then apply existing DVs
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        clash = {_DV_FILE, _DV_POS} & {f.name for f in schema.fields}
        if clash:
            raise ValueError(
                f"table columns {sorted(clash)} collide with the "
                "deletion-vector row-ref internals; rename them before "
                "using txn_delete"
            )
        paths = [_abs_file(path, f) for f in manifest["files"]]
        # physical read + logical rename (keeping the row refs): the
        # predicate is over LOGICAL names, the DV keys over file facts
        cur = _to_logical(
            _with_row_refs(
                spark.read.schema(_physical_schema(schema)).parquet(*paths)
            ),
            schema,
            keep=(_DV_FILE, _DV_POS),
        )
        old_dv = _read_dv(spark, path, manifest)
        if old_dv is not None:
            cur = cur.join(old_dv, [_DV_FILE, _DV_POS], "left_anti")
        record_cdf = _cdf_enabled(manifest)
        matched = cur.filter(cond)
        if record_cdf:
            # the DV write and the change file share one scan's rows
            matched = matched.persist()
        hits = matched.select(_DV_FILE, _DV_POS)
        dv_dir = os.path.join(path, "dv", uuid.uuid4().hex[:12])
        staged.append(dv_dir)
        # cluster the DV by part-file so reads join against few,
        # file-local entries; AQE coalesces a small delete to one file
        hits.repartition(F.col(_DV_FILE)).write.parquet(dv_dir)
        cdf_rel: list[str] = []
        if record_cdf:
            # recorded change files: the deleted rows themselves, under
            # PHYSICAL column names (version-stable through renames)
            cmap = _mapping(schema)
            dels = matched.drop(_DV_FILE, _DV_POS).select(
                *[
                    F.col(f.name).alias(cmap.get(f.name, f.name))
                    for f in schema.fields
                ]
            ).withColumn("_change_type", F.lit("delete"))
            cdf_dir = os.path.join(path, "cdf", uuid.uuid4().hex[:12])
            staged.append(cdf_dir)
            dels.write.parquet(cdf_dir)
            cdf_rel = [
                os.path.relpath(p, path)
                for p in sorted(glob.glob(os.path.join(cdf_dir, "*.parquet")))
            ]
            matched.unpersist()
        new_rel = [
            os.path.relpath(p, path)
            for p in sorted(glob.glob(os.path.join(dv_dir, "*.parquet")))
        ]
        # one pass over what was just written: row count + the set of
        # data files referenced (bounded by the manifest's file count) —
        # the refs let a later replace_where prune DV entries whose
        # files it dropped, so the DV set cannot grow without bound
        # under a refresh-heavy workload
        agg = (
            spark.read.schema(_DV_SCHEMA)
            .parquet(dv_dir)
            .agg(
                F.count("*").alias("n"),
                F.collect_set(_DV_FILE).alias("refs"),
            )
            .first()
        )
        if agg["n"] == 0:
            drop_staged()
            return None  # Delta-style: no matching rows, no commit
        refs = sorted(agg["refs"])
        new_entries = [{"path": p, "refs": refs} for p in new_rel]
        return _next_manifest(
            version, manifest, {**(meta or {}), "op": "delete"}, cdf=cdf_rel,
            dv=list(manifest.get("dv", [])) + new_entries,
        )

    return _commit(path, build, "deleting from", max_retries, drop_staged)


def txn_purge(
    spark: SparkSession,
    path: str,
    min_deleted_ratio: float = 0.1,
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Materialize deletion vectors SELECTIVELY (Delta's REORG/PURGE):
    rewrite only the data files whose DV'd row fraction is at least
    ``min_deleted_ratio``; lightly-deleted files keep riding their DVs.
    The scale-correct middle ground between per-read anti-join cost and
    a full compaction — at 100 TB a purge after a GDPR sweep rewrites
    the handful of files the deletes concentrated in, not the table.

    Driver-side state is one (file → deleted-count) map plus parquet
    footer row counts — both bounded by the manifest's file count.
    Surviving rows are rewritten under the table's partitioning, stats
    columns are recomputed for the new files, and DV entries whose
    referenced files were all rewritten are dropped from the manifest.
    The commit meta carries ``data_change: false`` (rows unchanged), so
    change feeds and ``txn_readstream`` skip it.
    Returns the committed version (the current one when nothing
    qualifies)."""
    import shutil

    import pyarrow.parquet as pq

    staged: list[str] = []  # this attempt's commit id

    def drop_staged():
        # lost race: redo — drop the staged data AND this attempt's
        # bloom sidecar (it references only the dropped files; leaving
        # it would accumulate one orphan per retry until vacuum)
        for commit_id in staged:
            shutil.rmtree(
                os.path.join(path, "data", commit_id), ignore_errors=True
            )
            try:
                os.unlink(os.path.join(path, "bloom", f"{commit_id}.parquet"))
            except OSError:
                pass
        staged.clear()

    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        dv = _read_dv(spark, path, manifest)
        if dv is None:
            return None
        per_file = {
            r[0]: r[1] for r in dv.groupBy(_DV_FILE).count().collect()
        }
        by_rel = {f["path"]: _abs_file(path, f) for f in manifest["files"]}
        targets = set()
        for rel, n_del in per_file.items():
            if rel not in by_rel:
                continue  # inert entry for a since-dropped file
            total = pq.ParquetFile(by_rel[rel]).metadata.num_rows
            if total and n_del / total >= min_deleted_ratio:
                targets.add(rel)
        if not targets:
            return None
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        # the purge rewrite stays entirely in PHYSICAL column space: it
        # reads physical, writes physical, and keeps the manifest schema
        # (so a mapped logical name keeps resolving after the rewrite);
        # partition columns are physical==logical by construction
        # (rename/drop reject partition columns)
        src = _with_row_refs(
            spark.read.schema(_physical_schema(schema)).parquet(
                *[by_rel[p] for p in sorted(targets)]
            )
        )
        clean = src.join(dv, [_DV_FILE, _DV_POS], "left_anti").drop(
            _DV_FILE, _DV_POS
        )
        partition_by = _layout_order(manifest)
        commit_id = uuid.uuid4().hex[:12]
        staged.append(commit_id)
        w = clean
        pcols = []
        for c in partition_by:
            pc = _PPREFIX + c
            w = w.withColumn(pc, F.col(c).cast("string"))
            pcols.append(pc)
        writer = w.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        commit_dir = os.path.join(path, "data", commit_id)
        writer.parquet(commit_dir)
        new_files = _collect_files(commit_dir, path)
        stats_cols = sorted(
            {k for f in manifest["files"] for k in f.get("stats", {})}
        )
        for f in new_files:
            abs_f = os.path.join(path, f["path"])
            # ONE footer open per file, shared between the row-count
            # recording and the stats inheritance (same as txn_write)
            md = pq.ParquetFile(abs_f).metadata
            f["rows"] = md.num_rows
            if stats_cols:
                f["stats"] = _file_stats(abs_f, set(stats_cols), _md=md)
        # bloom filters survive the purge: the rewrite stays in physical
        # column space, so the inherited col set is physical as-is
        bloomed = [f["bloom"] for f in manifest["files"] if f.get("bloom")]
        if bloomed and new_files:
            pschema = _physical_schema(schema)
            pnames = {fl.name for fl in pschema.fields}
            bcols = sorted(
                {c for b in bloomed for c in b["cols"] if c in pnames}
            )
            if bcols:
                _write_bloom_sidecar(
                    spark,
                    path,
                    commit_id,
                    new_files,
                    bcols,
                    pschema,
                    max(int(b["m"]) for b in bloomed),
                )
        kept = [f for f in manifest["files"] if f["path"] not in targets]
        kept_paths = {f["path"] for f in kept}
        new_dv = [
            e for e in manifest.get("dv", [])
            if not isinstance(e, dict) or not e.get("refs")
            or any(r in kept_paths for r in e["refs"])
        ]
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "purge", "data_change": False},
            files=kept + new_files, dv=new_dv,
        )

    return _commit(path, build, "purging", max_retries, drop_staged)


def txn_restore(
    path: str,
    version: int,
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Delta-style RESTORE: re-publish snapshot ``version``'s file list
    and schema as a NEW head commit — manifest-only, zero data bytes
    copied or rewritten (the files are immutable and still on disk until
    vacuum). The bad commits stay in history for audit and stay readable
    by pinned/as_of readers; the restored files become referenced by the
    head again, so a later ``txn_vacuum`` keeps them. The emergency
    rollback primitive after a bad MERGE/overwrite.

    Raises ``FileNotFoundError`` for a version that never existed or was
    vacuumed (its files are gone — nothing to restore), and retries the
    manifest race like any commit (the target snapshot is absolute, so
    a retry cannot change what is being restored)."""
    # FileNotFoundError if never existed or vacuumed away
    src = _materialize(path, version)

    def build(head, latest):
        # RESTORE restores table state — files, schema, DVs (the
        # snapshot's deletes come back too), and the snapshot's
        # constraints and generated-column rules with its data. Retired
        # physicals accumulate: both the snapshot's set and everything
        # retired since stay unclaimable by future column adds.
        # Properties and writer-app watermarks describe the TABLE, not a
        # data version, so they ride from the LIVE head: RESTORE rolls
        # back data, not ops metadata or what each writer has applied
        # (a loader re-feeding rolled-back batches does so with a HIGHER
        # app_version — the watermark is monotonic)
        retired = sorted(
            set(src.get("retired_physical", []))
            | set((latest or {}).get("retired_physical", []))
        )
        return _next_manifest(
            head, latest, {**(meta or {}), "restore_of": version},
            files=src["files"], schema=src["schema"], dv=src.get("dv", []),
            retired_physical=retired,
            constraints=src.get("constraints"),
            generated=src.get("generated"),
        )

    return _commit(path, build, "restoring", max_retries)


def txn_clone(
    src: str,
    dst: str,
    version: int | None = None,
    as_of: float | None = None,
    meta: dict | None = None,
) -> int:
    """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``): create
    a new transactional table at ``dst`` whose first manifest references
    the SOURCE snapshot's data files and deletion vectors — one manifest
    commit, zero data bytes copied. The zero-cost branch/test/dev-table
    primitive: at 100 TB a clone is a kilobyte of JSON, and every write
    to it (append, MERGE, DELETE, rename/drop column, OPTIMIZE) commits
    new LOCAL files under ``dst`` without ever touching ``src`` — the
    tables share history up to the clone point and diverge freely after.

    Cloned file entries keep their manifest-relative ``path`` key (what
    DV row refs, replace_where pruning, and vacuum live sets are keyed
    by — commit-uuid-unique, so foreign and local entries never collide)
    and carry ``base`` = the source root for filesystem resolution;
    compaction, purge, and ``txn_upsert(rewrite="full")`` materialize
    foreign references away as a side effect of rewriting (the default
    SELECTIVE merge localizes only the files it touches — untouched
    entries deliberately stay shared/zero-copy, so do a full rewrite
    before vacuuming the source if the clone must outlive it). A clone of a clone keeps each entry's
    ORIGINAL base (references chase data, not clone chains). Snapshot
    selection (``version`` / ``as_of``) follows :func:`txn_read`.

    Caveats, both Delta-parity: the clone is a snapshot, not a
    subscription — source commits after the clone point never appear in
    it (use :func:`txn_changes_since` on the source to replicate); and
    ``txn_vacuum`` on the SOURCE does not know about foreign references,
    so vacuuming the source inside a clone's lifetime can reclaim files
    the clone still lists (clone from a snapshot the source retains, or
    run the clone's compaction to localize it first). The clone's own
    vacuum can never touch source bytes — foreign paths resolve outside
    its data dir.

    Returns the clone's committed version (always 1)."""
    if not is_txn_table(src):
        raise FileNotFoundError(f"no transactional table at {src}")
    abs_src, abs_dst = os.path.abspath(src), os.path.abspath(dst)
    if abs_src == abs_dst:
        raise ValueError(f"cannot clone {src} onto itself")
    if _versions(dst):
        raise ValueError(
            f"{dst} is already a transactional table — clone targets a "
            "fresh path (drop it or pick another)"
        )
    v, manifest = _resolve_snapshot(src, version, as_of)
    files = [
        {**f, "base": f.get("base") or abs_src} for f in manifest["files"]
    ]
    dv = []
    for e in manifest.get("dv", []):
        if isinstance(e, dict):
            dv.append({**e, "base": e.get("base") or abs_src})
        else:  # pre-refs bare-string entry
            dv.append({"path": e, "refs": None, "base": abs_src})
    # the clone inherits the snapshot's table contract (schema, retired
    # physicals, constraints, generated rules, properties) — but NOT the
    # writer-app watermarks: the clone is a new table, and a loader
    # feeding it must not be skipped because its twin already fed the
    # source (Delta's clone drops txnAppId state the same way)
    new_manifest = _next_manifest(
        0, manifest,
        {**(meta or {}), "op": "clone", "source": abs_src,
         "source_version": v},
        files=files, dv=dv, apps=None,
    )
    if not _publish(dst, 1, new_manifest):
        raise ConcurrentWriteError(
            f"{dst} was created concurrently — clone targets a fresh path"
        )
    return 1


def _ddl_guard(manifest: dict, col: str, path: str, op: str) -> StructType:
    """Shared validation for the metadata-only column DDL: the column
    must exist logically and must not be a partition column (partition
    values and ``__p_*`` directory names are keyed by the as-written
    name in every live file — changing them is a rewrite, not metadata;
    the loud error beats a silently broken partition_filter)."""
    if manifest is None:
        raise FileNotFoundError(f"no transactional table at {path}")
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(
            f"cannot {op} {col!r}: not a column of {path} (has {names})"
        )
    pcols = {k for f in manifest["files"] for k in f["partition"]}
    if col in pcols:
        raise ValueError(
            f"cannot {op} partition column {col!r}: partition directory "
            "names and per-file partition values are keyed by it in "
            "every live file — rewrite the table under the new layout "
            "instead (txn_read -> txn_write(partition_by=...))"
        )
    import re as _re

    referencing = sorted(
        n for n, sql in manifest.get("constraints", {}).items()
        if _re.search(rf"\b{_re.escape(col)}\b", sql)
    )
    if referencing:
        # conservative word-boundary scan of the constraint TEXT (a
        # column name inside a string literal also blocks — the loud
        # false positive beats a constraint silently unresolvable by
        # every later write): drop/re-add the constraint around the DDL
        raise ValueError(
            f"cannot {op} {col!r}: CHECK constraint(s) {referencing} "
            "reference it — txn_drop_constraint first, then re-add "
            "under the new name"
        )
    gen = manifest.get("generated", {})
    if col in gen:
        raise ValueError(
            f"cannot {op} {col!r}: it is a generated column (GENERATED "
            f"ALWAYS AS {gen[col]}) — txn_drop_generated_column first"
        )
    g_referencing = sorted(
        c for c, e in gen.items()
        if _re.search(rf"\b{_re.escape(col)}\b", e)
    )
    if g_referencing:
        # same conservative word-boundary scan as constraints above
        raise ValueError(
            f"cannot {op} {col!r}: generated column(s) {g_referencing} "
            "compute from it — txn_drop_generated_column first, then "
            "re-add under the new name"
        )
    return schema


def _validate_app(app_id, app_version, what: str) -> None:
    """Shared validation for the idempotent-writer pair. app_id must be
    a STRING: JSON coerces dict keys to strings on serialization, so a
    non-string id would round-trip as a different key, the watermark
    lookup would never match, and every replay would silently
    re-apply — the exact failure the feature exists to prevent."""
    if (app_id is None) != (app_version is None):
        raise ValueError(
            "app_id and app_version go together: both identify an "
            f"idempotent writer's commit, neither means a plain {what}"
        )
    if app_id is not None and not isinstance(app_id, str):
        raise ValueError(
            f"app_id must be a string, got {type(app_id).__name__} "
            "(JSON stores manifest keys as strings — a non-string id "
            "would never match its own watermark)"
        )
    if app_version is not None and not isinstance(app_version, int):
        raise ValueError(
            f"app_version must be an int, got {type(app_version).__name__}"
        )


def txn_rename_column(
    path: str,
    old: str,
    new: str,
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Rename a column METADATA-ONLY (Delta column-mapping semantics):
    the manifest's logical field name changes while the field keeps its
    original PHYSICAL name, so zero data bytes move — at 100 TB a
    rename is one manifest commit, not a table rewrite. Every
    subsequent ``txn_read``/``txn_changes`` presents the new name;
    appends address the column by the new name and their files are
    written under the stable physical name; pinned/as_of readers of
    older versions keep seeing the old name (each manifest's schema is
    self-contained). ``range_filter`` data skipping keeps working — the
    per-file stats stay keyed by the physical name and reads translate.

    Partition columns are rejected (their name is baked into directory
    layouts and per-file partition values — that rename IS a rewrite).
    Returns the committed version."""
    def build(version, manifest):
        schema = _ddl_guard(manifest, old, path, "rename")
        names = [f.name for f in schema.fields]
        if new in names:
            raise ValueError(
                f"cannot rename {old!r} to {new!r}: {path} already has a "
                f"column {new!r}"
            )
        if new in (_DV_FILE, _DV_POS):
            raise ValueError(
                f"{new!r} is a reserved deletion-vector row-ref name"
            )
        fields = []
        for f in schema.fields:
            if f.name == old:
                md = dict(f.metadata or {})
                md["physical"] = _phys(f)  # pin the storage name forever
                fields.append(StructField(new, f.dataType, f.nullable, md))
            else:
                fields.append(f)
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "rename_column", "from": old, "to": new},
            schema=StructType(fields).json(),
        )

    return _commit(path, build, "renaming in", max_retries)


def txn_drop_column(
    path: str,
    col: str,
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Drop a column METADATA-ONLY: the field leaves the manifest's
    logical schema while the data files keep carrying it (immutable;
    reads simply stop projecting it) — one manifest commit at any table
    size. The column's PHYSICAL name is recorded as RETIRED so a later
    re-add of the same name gets a fresh physical name and can never
    resurrect the old files' values; pinned/as_of readers of older
    versions still see the column. The bytes are physically reclaimed
    by the next full rewrite (``txn_upsert(rewrite="full")`` /
    ``compact_txn`` / ``mode="overwrite"``), which materializes the
    current logical schema — the same lifecycle as deletion-vector
    rows (the default selective merge rewrites only touched files, so
    it reclaims the column's bytes only there).

    Partition columns are rejected (their name is baked into directory
    layouts); dropping the last column is rejected. Returns the
    committed version."""
    def build(version, manifest):
        schema = _ddl_guard(manifest, col, path, "drop")
        if len(schema.fields) == 1:
            raise ValueError(
                f"cannot drop {col!r}: it is the only column of {path}"
            )
        dropped = next(f for f in schema.fields if f.name == col)
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "drop_column", "column": col},
            schema=StructType(
                [f for f in schema.fields if f.name != col]
            ).json(),
            retired_physical=sorted(
                set(manifest.get("retired_physical", []))
                | {_phys(dropped)}
            ),
        )

    return _commit(path, build, "dropping in", max_retries)


def txn_add_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    check: str,
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Add a named CHECK constraint (Delta ``ALTER TABLE ... ADD
    CONSTRAINT`` semantics): ``check`` is a SQL predicate over the
    table's logical columns; rows where it evaluates FALSE are
    violations, TRUE and NULL both pass (SQL CHECK / Delta semantics —
    ``NOT NULL`` is spelled ``col IS NOT NULL``). The CURRENT snapshot
    is validated first (one aggregate pass; existing violations raise
    ``ConstraintViolationError`` and nothing commits), then the
    constraint lands as one metadata-only commit and EVERY subsequent
    write — append, overwrite, replace_where, MERGE, streaming folds —
    validates its batch before any file is staged. Constraints ride
    every derived commit (delete/purge/restore/clone/column DDL: table
    state, see ``_next_manifest``); renaming or dropping a referenced column is
    blocked until the constraint is dropped. Returns the committed
    version.

    At 100 TB the one-time validation scan is the honest cost of a
    trustworthy contract (exactly Delta's ADD CONSTRAINT behavior);
    per-write enforcement costs one map-side aggregate over the BATCH,
    never the table."""
    if not name or not name.isidentifier():
        raise ValueError(
            f"constraint name must be an identifier, got {name!r}"
        )
    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        cons = dict(manifest.get("constraints", {}))
        if name in cons:
            raise ValueError(
                f"{path} already has a constraint {name!r} "
                f"({cons[name]}); drop it first"
            )
        n_bad = _violation_counts(
            txn_read(spark, path, version=version), {name: check}, None
        )[name]
        if n_bad:
            raise ConstraintViolationError(
                f"cannot add constraint {name!r} ({check}) to {path}: "
                f"{n_bad} existing row(s) violate it"
            )
        cons[name] = check
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "add_constraint", "name": name},
            constraints=cons,
        )

    return _commit(path, build, "adding a constraint to", max_retries)


def txn_drop_constraint(
    path: str, name: str, meta: dict | None = None, max_retries: int = 50
) -> int:
    """Drop a named CHECK constraint — one metadata-only commit; an
    unknown name raises (a typo'd drop that silently 'succeeds' leaves
    the caller believing enforcement stopped). Returns the committed
    version."""
    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        cons = dict(manifest.get("constraints", {}))
        if name not in cons:
            raise ValueError(
                f"{path} has no constraint {name!r} "
                f"(has {sorted(cons) or 'none'})"
            )
        del cons[name]
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "drop_constraint", "name": name},
            constraints=cons,
        )

    return _commit(path, build, "dropping a constraint from", max_retries)


def txn_add_generated_column(
    spark: SparkSession,
    path: str,
    col: str,
    expr: str,
    dtype: str | None = None,
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Declare ``col`` GENERATED ALWAYS AS (``expr``) — Delta generated-
    column semantics re-expressed as table DDL: every subsequent write
    COMPUTES the column when the batch omits it and VALIDATES it (one
    map-side aggregate over the batch, ``col <=> expr``) when the batch
    provides it; a mismatching batch raises before any file is staged.
    The rule rides every derived commit (table state, see
    ``_next_manifest``), blocks rename/drop of the column and of every
    column the expression references, survives RESTORE with its
    snapshot, and is inherited by clones.

    Two declaration shapes:

    * the column ALREADY EXISTS — the current snapshot is validated
      first (existing rows must equal the expression; one aggregate
      pass, exactly ADD CONSTRAINT's cost), then the rule lands as one
      metadata-only commit;
    * the column is NEW — allowed only while the table holds no data
      files (Delta allows generated columns at creation only:
      backfilling would rewrite every file); ``dtype`` (a DDL string,
      e.g. ``"double"``) extends the schema metadata-only and files
      written before... there are none, by construction.

    Returns the committed version."""
    if not col or not col.isidentifier():
        raise ValueError(
            f"generated column name must be an identifier, got {col!r}"
        )
    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        gen = dict(manifest.get("generated", {}))
        if col in gen:
            raise ValueError(
                f"{path} already generates {col!r} AS ({gen[col]}); "
                "txn_drop_generated_column first"
            )
        # CHAINED generated columns are refused in both directions —
        # compute order would otherwise depend on column NAMES (rules
        # apply in sorted order), so a AS "b+1" over generated b works
        # or fails by alphabet; inline the expression instead
        import re as _re

        fwd = sorted(
            g for g in gen if _re.search(rf"\b{_re.escape(g)}\b", expr)
        )
        back = sorted(
            g for g, e in gen.items()
            if _re.search(rf"\b{_re.escape(col)}\b", e)
        )
        if fwd or back:
            raise ValueError(
                f"generated column {col!r} would chain with generated "
                f"column(s) {fwd or back} (one's expression references "
                "the other) — chained generated columns are not "
                "supported; inline the upstream expression instead"
            )
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        names = [f.name for f in schema.fields]
        new_schema_json = manifest["schema"]
        if col in names:
            n_bad = _violation_counts(
                txn_read(spark, path, version=version),
                {col: f"({col}) <=> ({expr})"},
                None,
            )[col]
            if n_bad:
                raise ConstraintViolationError(
                    f"cannot declare {col!r} GENERATED ALWAYS AS "
                    f"({expr}) on {path}: {n_bad} existing row(s) "
                    "differ from the expression"
                )
        else:
            # emptiness is about ROWS, not file entries: a zero-row
            # seed write still stages empty part files, and NULL-
            # backfilling those under the new column is vacuous
            if manifest["files"] and txn_read(
                spark, path, version=version
            ).count():
                raise ValueError(
                    f"cannot add NEW generated column {col!r} to "
                    f"non-empty {path}: backfilling would rewrite every "
                    "file — declare it while the table is empty, or "
                    "materialize it once (txn_read -> txn_write) and "
                    "declare it over the existing column"
                )
            if dtype is None:
                raise ValueError(
                    f"dtype is required to add the new column {col!r} "
                    "(a DDL string, e.g. 'double')"
                )
            used = set(_mapping(schema).values()) | set(
                manifest.get("retired_physical", [])
            )
            if col in used:
                raise ValueError(
                    f"column name {col!r} collides with a live or "
                    f"retired physical name of {path} — pick another"
                )
            from pyspark.sql.types import _parse_datatype_string

            dt = _parse_datatype_string(dtype)
            # analysis-only resolution check against the table's columns
            empty = spark.createDataFrame([], schema=_plain_schema(schema))
            try:
                empty.select(F.expr(expr).cast(dt))
            except Exception as e:
                raise ValueError(
                    f"generated expression ({expr}) does not resolve "
                    f"against the table's columns {names}"
                ) from e
            new_schema_json = StructType(
                list(schema.fields) + [StructField(col, dt, True)]
            ).json()
        gen[col] = expr
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "add_generated_column", "name": col},
            schema=new_schema_json, generated=gen,
        )

    return _commit(path, build, "adding a generated column to", max_retries)


def txn_drop_generated_column(
    path: str, col: str, meta: dict | None = None, max_retries: int = 50
) -> int:
    """Drop the GENERATED rule for ``col`` — the column stays, as plain
    data (Delta parity: dropping the expression, not the values). One
    metadata-only commit; an unknown rule raises. Returns the committed
    version."""
    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        gen = dict(manifest.get("generated", {}))
        if col not in gen:
            raise ValueError(
                f"{path} has no generated column {col!r} "
                f"(has {sorted(gen) or 'none'})"
            )
        del gen[col]
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "drop_generated_column", "name": col},
            generated=gen,
        )

    return _commit(
        path, build, "dropping a generated column from", max_retries
    )


def txn_set_properties(
    path: str,
    props: dict[str, str | None],
    meta: dict | None = None,
    max_retries: int = 50,
) -> int:
    """Set/unset table PROPERTIES (Delta ``TBLPROPERTIES``): free-form
    ops metadata — owner, retention policy, pipeline tags — merged into
    the manifest as one metadata-only commit. A ``None`` value UNSETS
    its key. Properties describe the table, not a data version: they
    ride every commit (append, overwrite, MERGE, DDL, clone, restore —
    table state, see ``_next_manifest``) until changed here. Values
    are stored as strings. Returns the committed version."""
    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        merged = dict(manifest.get("properties", {}))
        for k, v in props.items():
            if v is None:
                merged.pop(k, None)
            else:
                merged[k] = str(v)
        return _next_manifest(
            version, manifest,
            {**(meta or {}), "op": "set_properties"},
            properties=merged,
        )

    return _commit(path, build, "setting properties on", max_retries)


def txn_properties(path: str) -> dict[str, str]:
    """The head snapshot's table properties (empty dict if none)."""
    _, manifest = txn_latest(path)
    if manifest is None:
        raise FileNotFoundError(f"no transactional table at {path}")
    return dict(manifest.get("properties", {}))


def txn_app_version(path: str, app_id: str) -> int | None:
    """The recorded high-water mark for an idempotent writer (the
    ``app_version`` of its newest applied ``txn_write``), or None if the
    app never committed. A restarted loader resumes from here instead
    of re-reading its own checkpoint."""
    _, manifest = txn_latest(path)
    if manifest is None:
        raise FileNotFoundError(f"no transactional table at {path}")
    return (manifest.get("apps") or {}).get(app_id)


def txn_drop_app(path: str, app_id: str, max_retries: int = 50) -> int:
    """Retire an idempotent writer's watermark (the bounded-growth
    valve Delta exposes as setTransactionRetentionDuration): every
    app_id ever used otherwise rides every future manifest forever, so
    a decommissioned pipeline's mark should be dropped explicitly.
    Use STABLE app ids (one per pipeline, not one per run) — dropping
    a LIVE writer's mark re-opens its replay window. Unknown ids
    raise (a typo'd drop that silently does nothing would leave the
    real mark growing forever). Returns the committed version."""
    def build(version, manifest):
        if manifest is None:
            raise FileNotFoundError(f"no transactional table at {path}")
        apps = dict(manifest.get("apps", {}))
        if app_id not in apps:
            raise ValueError(
                f"no watermark recorded for app_id {app_id!r} on {path} "
                f"(has {sorted(apps) or 'none'})"
            )
        del apps[app_id]
        return _next_manifest(
            version, manifest,
            {"op": "drop_app", "app_id": app_id},
            apps=apps,
        )

    return _commit(path, build, f"dropping app {app_id!r} on", max_retries)


def txn_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained commit, newest first —
    version, commit timestamp, operation (from the commit meta's ``op``,
    else inferred: restore, streaming batch or write), file/DV counts,
    and the full meta as a JSON string. Driver-side manifest walk
    (O(#retained commits) JSON reads — the audit surface, not a data
    path)."""
    rows = []
    for v in reversed(_versions(path)):
        m = _materialize(path, v)
        meta = m.get("meta", {})
        op = meta.get("op") or (
            "restore" if "restore_of" in meta
            else "streaming_batch" if "batch_id" in meta
            else "write"
        )
        rows.append((
            v,
            float(m.get("ts") or 0.0),
            op,
            len(m.get("files", [])),
            len(m.get("dv", [])),
            m.get("parent"),
            json.dumps(meta, sort_keys=True),
        ))
    if not rows:
        raise FileNotFoundError(f"no transactional table at {path}")
    return spark.createDataFrame(
        rows,
        "version int, ts double, op string, n_files int, n_dv int, "
        "parent int, meta string",
    )


def _entry_size(path: str, f: dict) -> tuple[int, int]:
    """(rows, bytes) of a manifest file entry. Recorded at commit time
    since r11 (from the just-written footers — free); entries from
    older commits fall back to ONE driver-side footer/stat read each."""
    nrows, nbytes = f.get("rows"), f.get("bytes")
    if nrows is None or nbytes is None:
        import pyarrow.parquet as pq

        abs_f = _abs_file(path, f)
        if nbytes is None:
            nbytes = os.path.getsize(abs_f)
        if nrows is None:
            nrows = pq.ParquetFile(abs_f).metadata.num_rows
    return int(nrows), int(nbytes)


def txn_files(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """File-inventory metadata table of a snapshot (Iceberg's ``files``
    metadata table / Delta's inventory): one row per live data file
    with its manifest-recorded partition values, row count, byte size,
    per-column min/max stats (JSON-rendered, physical column names —
    the names the footers carry) and bloom-filter columns. Everything
    comes from the manifest alone — no filesystem listing, no data
    read (legacy entries without recorded sizes fall back to one
    driver-side footer read each).

    The operational query surface: file-size skew and small-file
    pressure (compaction planning), per-partition row distribution,
    stats/bloom coverage audits. At 100 TB these questions must be
    answerable from O(manifest), never O(data) — the same discipline
    as :func:`txn_history`."""
    version, manifest = _resolve_snapshot(path, version, as_of)
    rows = []
    for f in manifest["files"]:
        nrows, nbytes = _entry_size(path, f)
        rows.append((
            version,
            f["path"],
            {k: str(v) for k, v in f.get("partition", {}).items()},
            nrows,
            nbytes,
            {
                k: json.dumps(v, default=str)
                for k, v in f.get("stats", {}).items()
            },
            sorted((f.get("bloom") or {}).get("cols", [])),
        ))
    return spark.createDataFrame(
        rows,
        "version int, path string, partition map<string,string>, "
        "rows bigint, bytes bigint, stats map<string,string>, "
        "bloom_cols array<string>",
    )


def txn_detail(spark: SparkSession, path: str) -> DataFrame:
    """One-row table summary (Delta's DESCRIBE DETAIL): head version,
    commit timestamp, file count, total rows and bytes, deletion-vector
    entry count, partition columns, and the property/constraint/
    generated-rule counts. Driver-side manifest walk — O(files) dict
    reads, no data touched."""
    version, manifest = txn_latest(path)
    if manifest is None:
        raise FileNotFoundError(f"no transactional table at {path}")
    total_rows = total_bytes = 0
    for f in manifest["files"]:
        r, b = _entry_size(path, f)
        total_rows += r
        total_bytes += b
    return spark.createDataFrame(
        [(
            version,
            float(manifest.get("ts") or 0.0),
            len(manifest["files"]),
            total_rows,
            total_bytes,
            len(manifest.get("dv", [])),
            _layout_order(manifest),
            len(manifest.get("properties", {})),
            len(manifest.get("constraints", {})),
            len(manifest.get("generated", {})),
        )],
        "version int, ts double, n_files int, rows bigint, bytes bigint, "
        "n_dv int, partition_by array<string>, n_properties int, "
        "n_constraints int, n_generated int",
    )


def txn_vacuum(
    path: str,
    keep_versions: int | None = None,
    min_age_s: float | None = None,
) -> list[str]:
    """Reclaim data files referenced by NO manifest in the retained
    window (the last ``keep_versions`` manifests; older manifests are
    dropped). Readers pinned to vacuumed versions will fail — run with
    a retention matching the longest reader. ``min_age_s`` protects
    IN-FLIGHT commits: a writer stages its data files BEFORE winning the
    manifest race, so an unreferenced-but-young commit dir may be about
    to be published — dirs younger than the threshold are left alone
    (the Delta retention-period rule). Returns removed paths.

    Retention DEFAULTS come from table properties when the caller
    passes None (Delta's ``delta.deletedFileRetentionDuration`` idea):
    ``vacuum.keep_versions`` and ``vacuum.min_age_s``, set via
    ``txn_set_properties`` — so an ops team pins a table's retention
    policy ON the table once, and every vacuum honors it. Built-in
    fallbacks: keep_versions=1, min_age_s=3600."""
    import shutil

    vs = _versions(path)
    if keep_versions is None or min_age_s is None:
        props = _load(path, vs[-1]).get("properties", {}) if vs else {}
        if keep_versions is None:
            keep_versions = int(props.get("vacuum.keep_versions", 1))
        if min_age_s is None:
            min_age_s = float(props.get("vacuum.min_age_s", 3600.0))
    if not vs:
        return []
    keep = vs[-keep_versions:]
    live = set()
    live_bloom = set()
    for v in keep:
        for f in _materialize(path, v)["files"]:
            live.add(os.path.normpath(f["path"]))
            b = f.get("bloom")
            if b and not f.get("base"):
                # foreign (cloned) refs live under the SOURCE table and
                # are that table's vacuum's concern, like its data files
                live_bloom.add(os.path.normpath(b["ref"]))
    # PASS 1 — decide what to reclaim, deleting NOTHING yet: the
    # manifests below the window are unlinked BEFORE the dirs only they
    # reference disappear, so no surviving manifest ever names a
    # reclaimed file, whatever instant a crash hits
    to_remove = []
    now = time.time()
    data_root = os.path.join(path, "data")
    for commit_id in os.listdir(data_root) if os.path.isdir(data_root) else []:
        cdir = os.path.join(data_root, commit_id)
        rel = os.path.relpath(cdir, path)
        if any(p.startswith(rel + os.sep) or p.startswith(rel + "/") for p in live):
            continue
        try:
            age = now - os.path.getmtime(cdir)
        except OSError:
            continue  # racing a concurrent removal
        if age < min_age_s:
            continue  # possibly a commit mid-publish — leave it
        to_remove.append(cdir)
    # deletion-vector dirs are reclaimed by the same rule: referenced by
    # no retained manifest + old enough (a txn_delete stages its DV
    # parquet before winning the manifest race, exactly like data files)
    live_dv = set()
    for v in keep:
        for p in _dv_paths(_materialize(path, v).get("dv")):
            live_dv.add(os.path.normpath(p))
    dv_root = os.path.join(path, "dv")
    for dv_id in os.listdir(dv_root) if os.path.isdir(dv_root) else []:
        ddir = os.path.join(dv_root, dv_id)
        rel = os.path.relpath(ddir, path)
        if any(p.startswith(rel + os.sep) or p.startswith(rel + "/") for p in live_dv):
            continue
        try:
            age = now - os.path.getmtime(ddir)
        except OSError:
            continue
        if age < min_age_s:
            continue
        to_remove.append(ddir)
    # bloom sidecars follow the same rule: one parquet FILE per commit,
    # reclaimed when no retained manifest's file entries reference it
    bloom_root = os.path.join(path, "bloom")
    for bname in os.listdir(bloom_root) if os.path.isdir(bloom_root) else []:
        bfile = os.path.join(bloom_root, bname)
        if os.path.normpath(os.path.join("bloom", bname)) in live_bloom:
            continue
        try:
            age = now - os.path.getmtime(bfile)
        except OSError:
            continue
        if age < min_age_s:
            continue
        to_remove.append(bfile)
    # recorded change-file dirs follow the same rule: referenced by no
    # retained commit (cdf entries are PER COMMIT — each retained raw
    # manifest names its own) + old enough. Change history below the
    # retention window dies with its manifests, as the feed documents.
    live_cdf = set()
    for v in keep:
        for p in _load(path, v).get("cdf", []):
            live_cdf.add(os.path.normpath(p))
    cdf_root = os.path.join(path, "cdf")
    for cdf_id in os.listdir(cdf_root) if os.path.isdir(cdf_root) else []:
        cdir = os.path.join(cdf_root, cdf_id)
        rel = os.path.relpath(cdir, path)
        if any(p.startswith(rel + os.sep) or p.startswith(rel + "/") for p in live_cdf):
            continue
        try:
            age = now - os.path.getmtime(cdir)
        except OSError:
            continue
        if age < min_age_s:
            continue
        to_remove.append(cdir)
    # the oldest retained manifest must be self-contained BEFORE any
    # older one is unlinked: with the incremental commit log it may be a
    # delta whose chain roots below the window — materialize it to a
    # full checkpoint in place (logical state unchanged; the same
    # externalization rule as _publish, so a 10^6-file delta does not
    # inline the list the parquet checkpoint exists to avoid)
    if vs[:-keep_versions]:
        raw0 = _load(path, keep[0])
        if "log" in raw0:
            full = _externalize_if_big(
                path, keep[0], _materialize(path, keep[0], raw=raw0)
            )
            tmp = os.path.join(path, _TXN, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(full, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, _manifest_path(path, keep[0]))
    for v in vs[:-keep_versions]:
        os.unlink(_manifest_path(path, v))
    # parquet-checkpoint sidecars referenced by NO surviving manifest
    # (their manifest was unlinked, or a racer lost the publish) are
    # reclaimed with the same age guard; decided here — after the
    # unlinks settled the surviving reference set — and deleted in
    # pass 2 with the rest
    txn_dir = os.path.join(path, _TXN)
    live_ckpt = set()
    for v in _versions(path):
        sp = _load(path, v).get("state_parquet")
        if sp:
            live_ckpt.add(sp)
    for name in os.listdir(txn_dir) if os.path.isdir(txn_dir) else []:
        is_ckpt = name.startswith("checkpoint-") and name.endswith(".parquet")
        # .tmp-* are in-flight staging files (manifest JSON, hint,
        # checkpoint parquet); one crashed mid-write can strand a
        # multi-MB parquet temp — the age guard protects live writers
        is_tmp = name.startswith((".tmp-", ".hint-"))
        if not (is_ckpt or is_tmp):
            continue
        if name in live_ckpt:
            continue
        cfile = os.path.join(txn_dir, name)
        try:
            age = now - os.path.getmtime(cfile)
        except OSError:
            continue
        if age < min_age_s:
            continue
        to_remove.append(cfile)
    # PASS 2 — every surviving manifest is now consistent with the
    # post-vacuum file set, so physical reclamation is safe: a crash
    # mid-loop leaves only unreferenced dirs on disk, and the next
    # vacuum picks them up. A concurrent vacuum may have beaten us to a
    # dir between the passes — the same race pass 1 tolerates
    removed = []
    for d in to_remove:
        try:
            if os.path.isdir(d):
                shutil.rmtree(d)
            else:
                os.unlink(d)  # bloom sidecars are single parquet files
        except OSError:
            continue  # racing a concurrent removal
        removed.append(d)
    return removed
