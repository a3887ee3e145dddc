"""The workloads.  Each is a closed loop with one client: an operation
starts only after the previous one has returned.

A workload exposes ``register()`` (input registration, part of set-up),
``run_pass(i)`` (one round in which every operation kind runs once;
returns a list of ``Op`` records) and ``check()`` (outputs against a
computation made apart from the program, see checks.py).  Every call into the package goes
through ``tracer.span(layer, name)``, which is free when tracing is off.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import checks

perf = time.perf_counter


@dataclass
class Op:
    kind: str
    wall: float
    parts: dict = field(default_factory=dict)
    error: str | None = None


class Workload:
    name = ""
    kinds: list[str] = []
    # operation kinds grouped as the README reports them
    groups: dict[str, list[str]] = {}
    warmup_passes = 1
    # timed passes a run makes at least, however short ``--seconds`` is
    min_passes = 1

    def __init__(self, spark, inputs: str, tmp: str, tracer, seed: int) -> None:
        self.spark = spark
        self.inputs = inputs
        self.tmp = tmp
        self.tracer = tracer
        self.seed = seed
        self.span = tracer.span
        self.last: dict = {}

    def op(self, kind: str, fn, *args) -> Op:
        t0 = perf()
        try:
            with self.span("bench", kind):
                parts = fn(*args) or {}
        except Exception as e:  # counted as a failed operation
            return Op(kind, perf() - t0, error=f"{kind}: {type(e).__name__}: {e}")
        return Op(kind, perf() - t0, parts)

    def details(self, samples: dict[str, list[float]]) -> dict:
        return {}

    def layer_extras(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# cutflow_scan


class CutflowScan(Workload):
    """The reference benchmark shape over seeded F2 events: define
    ``tracks_n``, two named cuts, then a fixed cut-flow (count, mean,
    fixed-range histogram of ``tracks_n``, report: one pass) interleaved
    with an auto cut-flow (the same plus an auto-range histogram of the
    flattened ``tracks_pts``: a multi-pass flush over a persisted frame)."""

    name = "cutflow_scan"
    kinds = ["cutflow_fixed", "cutflow_auto"]
    groups = {"cutflow_fixed_s": ["cutflow_fixed"], "cutflow_auto_s": ["cutflow_auto"]}
    # process CPU per pass falls for about three passes after the cold one
    # (JIT), then stays within ~10%; the medians come from after that
    warmup_passes = 3
    min_passes = 3

    def register(self) -> None:
        from tdataframe_spark.sources.parquet import read_parquet

        with self.span("sources.parquet", "read_parquet"):
            self.df = read_parquet(self.spark, os.path.join(self.inputs, "events")).df

    def cutflow(self, auto: bool) -> dict:
        from tdataframe_spark import Frame

        t0 = perf()
        with self.span("core", "declare"):
            fr = (
                Frame(self.df)
                .define("tracks_n", "size(tracks)")
                .filter("tracks_n > 2", name="tracks_n>2")
                .filter("b2 % 2 = 0", name="b2_even")
            )
            if auto:
                fr = fr.define(
                    "tracks_pts", "transform(tracks, t -> sqrt(t.x * t.x + t.y * t.y))"
                )
            cnt = fr.count()
            mean = fr.mean("tracks_n")
            h_n = fr.histo("tracks_n", nbins=40, lo=-0.5, hi=39.5)
            h_pt = fr.histo("tracks_pts", nbins=64) if auto else None
        t1 = perf()
        with self.span("core", "flush"):
            fr.engine.flush()
        t2 = perf()
        with self.span("core", "report"):
            rep = fr.report()
        t3 = perf()
        self.last["auto" if auto else "fixed"] = {
            "count": cnt.get(),
            "mean": mean.get(),
            "histo_n": h_n.get(),
            "histo_pts": h_pt.get() if auto else None,
            "report": rep,
        }
        return {"declare": t1 - t0, "flush": t2 - t1, "report": t3 - t2}

    def run_pass(self, i: int) -> list[Op]:
        return [
            self.op("cutflow_fixed", self.cutflow, False),
            self.op("cutflow_auto", self.cutflow, True),
        ]

    def check(self) -> list[str]:
        return checks.check_cutflow(os.path.join(self.inputs, "events"), self.last)


# ---------------------------------------------------------------------------
# query_mix

# one query per family: every further query adds 1-23 s of cold pass to
# each run, and the run budget has no room for it (see README)
# grouped_udaf (applyInPandas) is a cheap query with a Python stage
QUERY_FAMILIES = {
    "frame": ["histo_auto", "grouped_udaf"],
    "tpch": ["q3_topk_revenue"],
    "operators": ["asof_click_purchase"],
    "text_dedup": ["minhash_lsh"],
    "similarity": ["cosine_topk"],
}
QUERIES = [q for qs in QUERY_FAMILIES.values() for q in qs]


class QueryMix(Workload):
    """Six registry queries, each declared and then materialized with a
    noop write; the seed permutes the order within every pass.  The
    cold pass collects every result for the checks instead.  Part of
    ``QueryLakehouse``."""

    kinds = QUERIES
    groups = {f"{fam}_s": qs for fam, qs in QUERY_FAMILIES.items()}

    def register(self) -> None:
        import __spark_entry__ as entry

        with self.span("queries", "registry"):
            reg = entry.queries()
            self.oracles = entry.oracle_sql()
        self.fns = {q: reg[q] for q in QUERIES}
        self.results: dict = {}

    def query(self, name: str) -> dict:
        t0 = perf()
        with self.span("queries", f"{name}.declare"):
            df = self.fns[name](self.spark, self.inputs)
        t1 = perf()
        with self.span("queries", f"{name}.run"):
            if name not in self.results:  # the cold pass keeps the results
                self.results[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        return {"declare": t1 - t0, "run": perf() - t1}

    def run_pass(self, i: int) -> list[Op]:
        order = list(QUERIES)
        random.Random(self.seed * 1000 + i).shuffle(order)
        return [self.op(q, self.query, q) for q in order]

    def details(self, samples: dict[str, list[float]]) -> dict:
        import statistics

        return {
            "declare_s": sum(
                statistics.median(samples[f"{q}.declare"]) for q in QUERIES
            )
        }

    def check(self) -> list[str]:
        return checks.check_query_mix(self.inputs, self.results, self.oracles, QUERIES)


# ---------------------------------------------------------------------------
# lakehouse_commits

KEY = "o_orderkey"
COMMITS = ["append", "upsert_clustered", "upsert_uniform", "delete", "purge"]
READS = ["read_head", "read_range", "read_point", "read_time_travel"]
STREAMS = ["replay", "sink"]


class LakehouseCommits(Workload):
    """A fixed commit sequence on a fresh transactional table per pass:
    the seed commit, then an append, a key-clustered and a uniform-key
    ``txn_upsert``, a deletion-vector ``txn_delete``, one streaming write
    through the txn sink, four reads, an ``availableNow`` change-feed
    replay through ``txn_readstream`` and a ``txn_purge``.  Part of
    ``QueryLakehouse``."""

    kinds = COMMITS + READS + STREAMS
    groups = {
        "commit_s": COMMITS,
        "read_s": READS,
        "replay_s": ["replay", "sink"],
    }

    def register(self) -> None:
        from tdataframe_spark.sources import txn, txn_stream

        self.txn, self.txn_stream = txn, txn_stream
        rd = self.spark.read
        self.seed_df = rd.parquet(os.path.join(self.inputs, "seed"))
        self.batches = {
            k: rd.parquet(os.path.join(self.inputs, f"{k}.parquet"))
            for k in ("append", "upsert_clustered", "upsert_uniform")
        }
        self.sink_file = os.path.join(self.inputs, "sink", "part-00000.parquet")
        self.sink_schema = self.seed_df.schema
        self.model = checks.TxnModel(self.inputs)
        self.observed: list = []
        self.table_stats: dict = {}

    # -- operations -------------------------------------------------------
    def commit(self, kind: str) -> dict:
        t = self.txn
        with self.span("sources.txn", kind):
            if kind == "append":
                t.txn_write(self.batches["append"], self.path, stats_cols=[KEY])
            elif kind.startswith("upsert"):
                t.txn_upsert(self.batches[kind], self.path, keys=[KEY])
            elif kind == "delete":
                t.txn_delete(self.spark, self.path, checks.DELETE_PREDICATE)
            elif kind == "purge":
                t.txn_purge(self.spark, self.path, min_deleted_ratio=0.01)
        self.after_commit(kind)
        return {}

    def read(self, kind: str) -> dict:
        from pyspark.sql import functions as F

        t = self.txn
        version = self.versions[-2] if kind == "read_time_travel" else None
        with self.span("sources.txn", kind):
            if kind == "read_head":
                df = t.txn_read(self.spark, self.path)
            elif kind == "read_range":
                lo, hi = checks.RANGE
                df = t.txn_read(
                    self.spark, self.path, range_filter={KEY: (lo, hi)}
                ).filter(F.col(KEY).between(lo, hi))
            elif kind == "read_point":
                df = t.txn_read(self.spark, self.path, value_filter={KEY: checks.POINT_KEYS})
            else:
                df = t.txn_read(self.spark, self.path, version=version)
            if kind == "read_point":
                out = sorted(tuple(r) for r in df.collect())
            else:
                out = checks.checksum_spark(df)
        self.observed.append((kind, version, out))
        return {}

    def replay(self) -> dict:
        # a replay across the purge commit fails on every run (see
        # CHANGES.md), so the sequence replays before the purge only
        n = len(self.changes)
        ck = os.path.join(self.base, f"replay_ck{n}")
        name = f"fb_replay_{os.getpid()}_{self.pass_no}_{n}"
        with self.span("sources.txn_stream", "replay"):
            q = (
                self.txn_stream.txn_readstream(
                    self.spark, self.path, start_version=self.replayed, cdc=True
                )
                .writeStream.format("memory")
                .queryName(name)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            except Exception:
                q.stop()
                self.spark.catalog.dropTempView(name)
                raise
        self.stream_batches.append(sum(1 for p in q.recentProgress if p["numInputRows"]))
        rows = self.spark.table(name).collect()
        self.spark.catalog.dropTempView(name)
        self.stream_rows.append(len(rows))
        self.changes.append((self.replayed, self.versions[-1], rows))
        self.replayed = self.versions[-1]
        return {}

    def sink(self) -> dict:
        # one sink write per table through one checkpoint: the sink fences
        # on the table's last batch id, not per checkpoint (see CHANGES.md)
        ck = os.path.join(self.base, "sink_ck")
        src = os.path.join(self.base, "sink_src")
        os.makedirs(src, exist_ok=True)
        shutil.copy(self.sink_file, os.path.join(src, "batch.parquet"))
        with self.span("sources.txn_stream", "sink"):
            self.txn_stream.register_txn_stream(self.spark)
            q = (
                self.spark.readStream.schema(self.sink_schema)
                .parquet(src)
                .writeStream.format("txn_table")
                .option("path", self.path)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        self.after_commit("sink")
        return {}

    def after_commit(self, kind: str) -> None:
        v, manifest = self.txn.txn_latest(self.path)
        files = {f["path"] for f in (manifest or {}).get("files", [])}
        self.files_added += len(files - self.live_files)
        self.files_removed += len(self.live_files - files)
        self.live_files = files
        self.versions.append(v)
        self.commit_kinds.append(kind)

    # -- one fixed sequence -------------------------------------------------
    def run_pass(self, i: int) -> list[Op]:
        self.pass_no = i
        self.base = os.path.join(self.tmp, "lake", f"p{i}")
        shutil.rmtree(self.base, ignore_errors=True)
        self.path = os.path.join(self.base, "t")
        self.versions, self.commit_kinds, self.observed = [], [], []
        self.changes, self.stream_batches, self.stream_rows = [], [], []
        self.live_files, self.files_added, self.files_removed = set(), 0, 0
        t = self.txn
        with self.span("bench", "create"):
            with self.span("sources.txn", "create"):
                t.txn_write(self.seed_df, self.path, mode="overwrite", stats_cols=[KEY])
                t.txn_set_properties(self.path, {"cdf.enabled": "true"})
            self.after_commit("create")
        self.replayed = self.versions[-1]
        ops = [self.op(k, self.commit, k) for k in COMMITS[:-1]]
        ops.append(self.op("sink", self.sink))
        ops += [self.op(r, self.read, r) for r in READS]
        ops.append(self.op("replay", self.replay))
        ops.append(self.op("purge", self.commit, "purge"))
        self.table_stats = checks.table_bytes(self.path, self.live_files)
        return ops

    def layer_extras(self) -> dict:
        return {
            "files_added": self.files_added,
            "files_removed": self.files_removed,
            "batches": list(self.stream_batches),
            "rows": list(self.stream_rows),
            "bytes": dict(self.table_stats),
        }

    def details(self, samples: dict[str, list[float]]) -> dict:
        s = self.table_stats
        live = self.model.live_rows()
        return {
            "stored_bytes_per_row": (s["live_data"] + s["log"] + s["dv"]) / live,
            "written_bytes_per_row": s["written"] / self.model.input_rows(),
        }

    def check(self) -> list[str]:
        return checks.check_lakehouse(self)

# ---------------------------------------------------------------------------
# query_lakehouse


class QueryLakehouse(Workload):
    """query_mix and lakehouse_commits in one session: each pass runs the
    registry queries, then the commit sequence.  One JVM and one cold
    pass serve both, which is what lets the benchmark fit its time budget
    (see README)."""

    name = "query_lakehouse"
    kinds = QueryMix.kinds + LakehouseCommits.kinds
    groups = QueryMix.groups | LakehouseCommits.groups
    warmup_passes = 0

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.parts = [QueryMix(*args), LakehouseCommits(*args)]
        self.qm, self.lake = self.parts
        self.qm.inputs = os.path.join(self.inputs, "query_mix")
        self.lake.inputs = os.path.join(self.inputs, "lakehouse_commits")

    def register(self) -> None:
        for p in self.parts:
            p.register()

    def run_pass(self, i: int) -> list[Op]:
        return self.qm.run_pass(i) + self.lake.run_pass(i)

    def details(self, samples: dict[str, list[float]]) -> dict:
        return self.qm.details(samples) | self.lake.details(samples)

    def layer_extras(self) -> dict:
        return self.lake.layer_extras()

    def check(self) -> list[str]:
        return self.qm.check() + self.lake.check()
