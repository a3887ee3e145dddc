"""Seeded input generation for the benchmark workloads.

Run as its own process before the clock starts:

    python3 framebench/gen.py --workload cutflow_scan --seed 1 --out DIR

Every table is a pure function of ``--seed`` (numpy ``default_rng``), so
the same seed gives byte-identical parquet files.  A ``DONE`` marker is
written last; an existing marker means the inputs are reused as they are.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cutflow_scan: the FIXTURES.md F2 schema (``misc_tree``) at benchmark
# scale.  1M events x Poisson(5) tracks is ~187 MB of parquet, more than
# ten times the 17 MB sf0.1 test tables.
CUTFLOW_EVENTS = 1_000_000
CUTFLOW_FILES = 8
PION_MASS = 0.13957

# query_mix: the testdata table shapes at sf0.01 row counts
QM_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

# lakehouse_commits: orders-shaped rows, a seed table plus one batch of
# each kind
LH_SEED_ROWS = 40_000
LH_SEED_FILES = 8
LH_APPEND_ROWS = 4_000
LH_UPSERT_ROWS = 2_000
LH_SINK_ROWS = 2_000


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    if files == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(
            part, os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy"
        )


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return lo_d + rng.integers(0, int((hi_d - lo_d).astype(np.int64)), n).astype("timedelta64[D]")


# ---------------------------------------------------------------------------
# cutflow_scan


def gen_cutflow(rng, out: str) -> None:
    """F2 events: b1 = i, b2 = i*i (int64: i*i leaves int32 above 46340),
    ``tracks`` = Poisson(5) structs built from px, py ~ N(0, 10),
    eta ~ U(-3, 3) and the pion mass, as in the reference's test tree."""
    n = CUTFLOW_EVENTS
    i = np.arange(n, dtype=np.int64)
    ntr = rng.poisson(5.0, n).astype(np.int32)
    m = int(ntr.sum())
    px = rng.normal(0.0, 10.0, m)
    py = rng.normal(0.0, 10.0, m)
    eta = rng.uniform(-3.0, 3.0, m)
    pt = np.sqrt(px * px + py * py)
    pz = pt * np.sinh(eta)
    e = np.sqrt(pt * pt + pz * pz + PION_MASS * PION_MASS)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(ntr, out=offsets[1:])
    tracks = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.StructArray.from_arrays(
            [pa.array(px), pa.array(py), pa.array(pz), pa.array(e)],
            names=["x", "y", "z", "E"],
        ),
    )
    table = pa.table(
        {"b1": pa.array(i.astype(np.float64)), "b2": pa.array(i * i), "tracks": tracks}
    )
    _write(table, os.path.join(out, "events"), files=CUTFLOW_FILES)


# ---------------------------------------------------------------------------
# query_mix


def _doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words))


def gen_query_mix(rng, out: str) -> None:
    """The repository's test tables' eight-table shape (TPC-H-ish star schema plus
    events, documents and embeddings) at sf0.01 row counts."""
    R = QM_ROWS
    ts = lambda d: pa.array(d.astype("datetime64[us]"))  # noqa: E731
    region = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    nc = R["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, nc)],
        }
    )
    ns = R["supplier"]
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
        }
    )
    npart = R["part"]
    adjectives = ["blue", "hot", "large", "small", "red", "cold"]
    nouns = ["ring", "bolt", "gear", "pipe", "nut"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 6, npart), rng.integers(0, 5, npart))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": [
                ["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"][k]
                for k in rng.integers(0, 5, npart)
            ],
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(npart) * 0.1, 2)),
        }
    )
    no = R["orders"]
    odate = _days(rng, "1995-01-01", "2001-08-01", no)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": [["F", "O", "P"][k] for k in rng.integers(0, 3, no)],
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
            "o_orderdate": ts(odate),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, no)],
        }
    )
    nl = R["lineitem"]
    lok = rng.integers(0, no, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(lok),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": [["A", "N", "R"][k] for k in rng.integers(0, 3, nl)],
            "l_linestatus": [["F", "O"][k] for k in rng.integers(0, 2, nl)],
            "l_shipdate": ts(
                odate[lok] + rng.integers(1, 122, nl).astype("timedelta64[D]")
            ),
        }
    )
    ne = R["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, ne).astype(np.int64)),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, ne)],
            "value": pa.array(np.round(rng.exponential(60.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = R["documents"]
    texts = [_doc_text(rng, int(k)) for k in rng.integers(8, 100, nd)]
    # planted duplicates: exact copies (dedup_exact) and one-word edits
    # (ngram_jaccard / minhash_lsh pairs above the 0.5 threshold)
    src = rng.choice(nd // 2, 24, replace=False)
    for j, s in enumerate(src):
        dst = nd // 2 + j
        words = texts[s].split()
        if j % 2:
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[dst] = " ".join(words)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, 5, nd)],
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    nv = R["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    for name, t in [
        ("region", region),
        ("nation", nation),
        ("customer", customer),
        ("supplier", supplier),
        ("part", part),
        ("orders", orders),
        ("lineitem", lineitem),
        ("events", events),
        ("documents", documents),
        ("embeddings", embeddings),
    ]:
        _write(t, os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# lakehouse_commits


def orders_batch(rng, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys.astype(np.int64)),
            "o_custkey": pa.array(rng.integers(0, 5000, n).astype(np.int64)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
            "o_status": [["F", "O", "P"][k] for k in rng.integers(0, 3, n)],
        }
    )


def gen_lakehouse(rng, out: str) -> None:
    """The seed table (keys 0..LH_SEED_ROWS-1, written key-clustered in
    LH_SEED_FILES files), an append of fresh keys, a key-clustered upsert
    (a contiguous key run plus fresh keys), a uniform-key upsert (random
    live keys) and a streamed sink batch of fresh keys.  The delete is a
    predicate, fixed in checks.py."""
    _write(
        orders_batch(rng, np.arange(LH_SEED_ROWS)), os.path.join(out, "seed"),
        files=LH_SEED_FILES,
    )
    next_key = LH_SEED_ROWS
    app = np.arange(next_key, next_key + LH_APPEND_ROWS)
    next_key += LH_APPEND_ROWS
    _write(orders_batch(rng, app), os.path.join(out, "append.parquet"))
    lo = int(rng.integers(0, LH_SEED_ROWS - LH_UPSERT_ROWS))
    clustered = np.concatenate(
        [
            np.arange(lo, lo + LH_UPSERT_ROWS * 3 // 4),
            np.arange(next_key, next_key + LH_UPSERT_ROWS // 4),
        ]
    )
    next_key += LH_UPSERT_ROWS // 4
    _write(orders_batch(rng, clustered), os.path.join(out, "upsert_clustered.parquet"))
    uniform = rng.choice(next_key, LH_UPSERT_ROWS, replace=False)
    _write(orders_batch(rng, np.sort(uniform)), os.path.join(out, "upsert_uniform.parquet"))
    sink = np.arange(next_key, next_key + LH_SINK_ROWS)
    os.makedirs(os.path.join(out, "sink"))
    _write(orders_batch(rng, sink), os.path.join(out, "sink", "part-00000.parquet"))


def gen_query_lakehouse(rng, out: str) -> None:
    for name, gen in (("query_mix", gen_query_mix), ("lakehouse_commits", gen_lakehouse)):
        os.makedirs(os.path.join(out, name))
        gen(rng, os.path.join(out, name))


GENERATORS = {
    "cutflow_scan": gen_cutflow,
    "query_lakehouse": gen_query_lakehouse,
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if os.path.exists(os.path.join(a.out, "DONE")):
        return 0
    shutil.rmtree(a.out, ignore_errors=True)
    os.makedirs(a.out)
    # one stream per (workload, seed): inputs differ by seed, never by run
    rng = np.random.default_rng([a.seed, sorted(GENERATORS).index(a.workload)])
    GENERATORS[a.workload](rng, a.out)
    with open(os.path.join(a.out, "DONE"), "w") as f:
        f.write("ok\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
