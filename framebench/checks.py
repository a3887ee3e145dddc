"""Correctness checks computed apart from the program.

* cutflow_scan: numpy/pyarrow recompute counts, cut-flow report, mean and
  both histograms from the generated parquet files.
* query_mix: DuckDB runs each query's ``oracle_sql()`` over the same files
  (row count + schema + order-insensitive value comparison).
* lakehouse_commits: a pure-Python model table applies the same batches,
  upserts and deletes; every read, every time-travel read and the
  replayed change feed (each change exactly once) must equal it.

Each checker returns a list of failures.  Each is also handed a
deliberately altered result and reports itself when it does not flag it,
so that no check is vacuous.
"""

from __future__ import annotations

import copy
import os

import numpy as np
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# cutflow_scan


def _bins(v: np.ndarray, nbins: int, lo: float, hi: float, clamp_max: bool):
    """The documented binning rule (core/histogram.py): width =
    (hi - lo) / nbins, bin = floor((x - lo) / width) capped at nbins - 1;
    fixed range drops x outside [lo, hi), auto range keeps every x."""
    width = (hi - lo) / nbins
    if not clamp_max:
        v = v[(v >= lo) & (v < hi)]
    b = np.minimum(np.floor((v - lo) / width).astype(np.int64), nbins - 1)
    cnt = np.bincount(b, minlength=nbins)
    k = np.arange(nbins, dtype=np.float64)
    return [(int(i), lo + k[i] * width, lo + (k[i] + 1) * width, int(cnt[i])) for i in range(nbins)]


def cutflow_expected(events_dir: str) -> dict:
    t = pq.read_table(events_dir)
    b2 = t.column("b2").to_numpy()
    tracks = t.column("tracks").combine_chunks()
    n = np.diff(tracks.offsets.to_numpy())
    cut1 = n > 2
    cut2 = cut1 & (b2 % 2 == 0)
    flat = tracks.flatten()
    x = flat.field("x").to_numpy()
    y = flat.field("y").to_numpy()
    keep = np.repeat(cut2, n)
    pts = np.sqrt(x[keep] * x[keep] + y[keep] * y[keep])
    sel = n[cut2].astype(np.float64)
    return {
        "count": int(cut2.sum()),
        "mean": float(sel.mean()),
        "report": [("tracks_n>2", int(cut1.sum())), ("b2_even", int(cut2.sum()))],
        "histo_n": _bins(sel, 40, -0.5, 39.5, clamp_max=False),
        "histo_pts": _bins(pts, 64, float(pts.min()), float(pts.max()), clamp_max=True),
    }


def compare_cutflow(exp: dict, got: dict) -> list[str]:
    bad = []
    for flow, res in sorted(got.items()):
        if res["count"] != exp["count"]:
            bad.append(f"{flow}: count {res['count']} != {exp['count']}")
        if abs(res["mean"] - exp["mean"]) > 1e-12 * abs(exp["mean"]):
            bad.append(f"{flow}: mean {res['mean']!r} != {exp['mean']!r}")
        if [tuple(r) for r in res["report"]] != exp["report"]:
            bad.append(f"{flow}: report {res['report']} != {exp['report']}")
        if [tuple(r) for r in res["histo_n"]] != exp["histo_n"]:
            bad.append(f"{flow}: fixed-range histogram differs")
        if res["histo_pts"] is not None and [
            tuple(r) for r in res["histo_pts"]
        ] != exp["histo_pts"]:
            bad.append(f"{flow}: auto-range histogram differs")
    if set(got) != {"fixed", "auto"}:
        bad.append(f"cut-flows checked: {sorted(got)}")
    return bad


def check_cutflow(events_dir: str, got: dict) -> list[str]:
    exp = cutflow_expected(events_dir)
    bad = compare_cutflow(exp, got)
    for what, alter in [
        ("count", lambda g: g["fixed"].__setitem__("count", g["fixed"]["count"] + 1)),
        ("bin", lambda g: g["auto"]["histo_pts"].__setitem__(
            5, (*g["auto"]["histo_pts"][5][:3], g["auto"]["histo_pts"][5][3] + 1))),
        ("report", lambda g: g["auto"]["report"].reverse()),
    ]:
        altered = copy.deepcopy(got)
        alter(altered)
        if not compare_cutflow(exp, altered):
            bad.append(f"self-test: cut-flow checker accepted an altered {what}")
    return bad


# ---------------------------------------------------------------------------
# query_mix

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _canon(df):
    """Columns by name, list cells as tuples, rows sorted: the
    order-insensitive comparison the repository's oracle gate uses."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda x: tuple(x.tolist() if hasattr(x, "tolist") else x)
                if isinstance(x, (list, tuple, np.ndarray))
                else x
            )
        if df[c].dtype.kind == "u":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def compare_oracle(got, want) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        kinds = {got[c].dtype.kind, want[c].dtype.kind}
        if len(kinds) > 1 and not kinds <= {"i", "u"} and "O" not in kinds:
            return f"column {c}: dtype {got[c].dtype} != {want[c].dtype}"
    if not _canon(got).equals(_canon(want)):
        return "values differ"
    return None


def check_query_mix(sf: str, results: dict, oracles: dict, names: list[str]) -> list[str]:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = [f"{q}: no result" for q in names if q not in results]
    for name, got in sorted(results.items()):
        want = con.sql(oracles[name]).df()
        err = compare_oracle(got, want) or (None if len(got) else "empty result")
        if err:
            bad.append(f"{name}: {err}")
            continue
        altered = got.copy()
        num = [c for c in got.columns if got[c].dtype.kind in "if" and got[c].notna().all()]
        if num:
            altered.loc[altered.index[0], num[-1]] += 1
        else:
            altered = altered.iloc[1:]
        if compare_oracle(altered, want) is None:
            bad.append(f"self-test: oracle comparison accepted an altered {name}")
    con.close()
    return bad


# ---------------------------------------------------------------------------
# lakehouse_commits

KEY = "o_orderkey"


# the delete commit's predicate, the range read's key bounds and the
# point lookup's keys
DELETE_PREDICATE = "o_orderkey % 53 = 0"
RANGE = (5_000, 8_999)
POINT_KEYS = [53 * j for j in range(5)] + [7 + 4_001 * j for j in range(15)]


def _cents(price: float) -> int:
    return int(np.round(price * 100))


def checksum_rows(rows) -> tuple:
    """(count, sum key, sum customer, sum cents, sum of a key/value mix,
    rows with status O) over (key, cust, price, status) tuples."""
    n = sk = sc = sp = mix = so = 0
    for k, cust, price, status in rows:
        cents = _cents(price)
        n += 1
        sk += k
        sc += cust
        sp += cents
        mix += (k * 31 + cents) % 1_000_003
        so += status == "O"
    return (n, sk, sc, sp, mix, so)


def checksum_spark(df) -> tuple:
    from pyspark.sql import functions as F

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    r = df.agg(
        F.count(F.lit(1)),
        F.sum(KEY),
        F.sum("o_custkey"),
        F.sum(cents),
        F.sum((F.col(KEY) * 31 + cents) % 1_000_003),
        F.sum((F.col("o_status") == "O").cast("long")),
    ).first()
    return tuple(int(x or 0) for x in r)


class TxnModel:
    """The lakehouse sequence applied to a dict keyed by order key."""

    def __init__(self, inputs: str) -> None:
        def rows(path):
            t = pq.read_table(path)
            return [
                tuple(r.values())
                for r in t.select([KEY, "o_custkey", "o_totalprice", "o_status"]).to_pylist()
            ]

        self.seed = rows(os.path.join(inputs, "seed"))
        self.batches = {
            k: rows(os.path.join(inputs, f"{k}.parquet"))
            for k in ("append", "upsert_clustered", "upsert_uniform")
        } | {"sink": rows(os.path.join(inputs, "sink"))}
        self.states: list[dict] = []

    def apply(self, kinds: list[str]) -> list[dict]:
        """State after each commit of ``kinds`` (the kinds as committed,
        starting with ``create``)."""
        state: dict = {}
        out = []
        for kind in kinds:
            if kind == "create":
                state = {r[0]: r for r in self.seed}
            elif kind in self.batches:
                state = dict(state)
                for r in self.batches[kind]:
                    state[r[0]] = r
            elif kind == "delete":
                state = {k: r for k, r in state.items() if k % 53 != 0}
            out.append(state)
        self.states = out
        return out

    def live_rows(self) -> int:
        return len(self.states[-1])

    def input_rows(self) -> int:
        return len(self.seed) + sum(len(v) for v in self.batches.values())


def replay_errors(start: dict, changes: list, end_states: list[dict]) -> list[str]:
    """Apply each replayed change once to a replica of ``start``; after each
    replay the replica must equal the model at the replay's end version."""
    bad = []
    replica = dict(start)
    for (frm, to, rows), want in zip(changes, end_states):
        for r in sorted(rows, key=lambda r: (r["_commit_version"], r["_change_type"] != "delete")):
            k = r[KEY]
            row = (k, r["o_custkey"], r["o_totalprice"], r["o_status"])
            ct = r["_change_type"]
            if ct == "insert":
                if k in replica:
                    bad.append(f"replay ({frm},{to}]: insert of live key {k}")
                replica[k] = row
            elif ct == "update_postimage":
                if k not in replica:
                    bad.append(f"replay ({frm},{to}]: update of missing key {k}")
                replica[k] = row
            elif ct == "delete":
                if replica.pop(k, None) is None:
                    bad.append(f"replay ({frm},{to}]: delete of missing key {k}")
            elif ct != "update_preimage":
                bad.append(f"replay: change type {ct}")
        if replica != want:
            bad.append(f"replay ({frm},{to}]: replica differs from the model")
    return bad[:10]


def lakehouse_errors(wl, observed, changes) -> list[str]:
    states = wl.model.apply(wl.commit_kinds)
    by_version = {v: s for v, s in zip(wl.versions, states)}
    # the reads run right after the sink commit
    after_sink = states[wl.commit_kinds.index("sink")]
    bad = []
    for (kind, version, out) in observed:
        state = after_sink if version is None else by_version[version]
        rows = state.values()
        if kind == "read_range":
            lo, hi = RANGE
            rows = [r for r in rows if lo <= r[0] <= hi]
        if kind == "read_point":
            keys = set(POINT_KEYS)
            want = sorted(r for r in rows if r[0] in keys)
            if out != want:
                bad.append(f"read_point: {len(out)} rows != {len(want)}")
        elif out != checksum_rows(rows):
            bad.append(f"{kind}: checksum {out} != {checksum_rows(rows)}")
    ends = [by_version[to] for _, to, _ in changes]
    bad += replay_errors(states[0], changes, ends)
    return bad


def check_lakehouse(wl) -> list[str]:
    bad = lakehouse_errors(wl, wl.observed, wl.changes)
    obs = copy.deepcopy(wl.observed)
    kind, v, out = obs[0]
    obs[0] = (kind, v, (out[0] + 1, *out[1:]) if kind != "read_point" else out[1:])
    if not lakehouse_errors(wl, obs, wl.changes):
        bad.append("self-test: read check accepted an altered checksum")
    ch = [(f, t, rows + rows[:1]) for f, t, rows in wl.changes]
    if not lakehouse_errors(wl, wl.observed, ch):
        bad.append("self-test: replay check accepted a duplicated change")
    return bad


def table_bytes(path: str, live_files: set) -> dict:
    """Bytes on disk under the table: everything ever written (nothing is
    vacuumed), the live data files, the commit log and deletion vectors."""
    out = {"written": 0, "live_data": 0, "log": 0, "dv": 0}
    live = {os.path.normpath(os.path.join(path, f)) for f in live_files}
    for root, _, files in os.walk(path):
        rel = os.path.relpath(root, path).split(os.sep)[0]
        for f in files:
            p = os.path.join(root, f)
            size = os.path.getsize(p)
            out["written"] += size
            if rel == "_txn":
                out["log"] += size
            elif rel == "dv":
                out["dv"] += size
            elif os.path.normpath(p) in live:
                out["live_data"] += size
    return out
