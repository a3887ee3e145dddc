"""Core Frame semantics, pinned to the reference's golden test values.

Fixtures F1/F2 from FIXTURES.md (sources: /root/reference/tests/
tdf001_introduction.cxx, test_misc.cxx); golden numbers quoted inline.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tdataframe_spark import DuplicateColumnError, Frame, UnknownColumnError
from tdataframe_spark.core.errors import ArityError


@pytest.fixture(scope="module")
def f1(spark):
    """F1 simple_tree: b1=i (double), b2=i*i (int), 10 rows."""
    rows = [Row(b1=float(i), b2=i * i) for i in range(10)]
    return Frame(spark.createDataFrame(rows))


@pytest.fixture(scope="module")
def f2(spark):
    """F2 misc_tree: b1, b2 + cumulative array column dv (5+i elems)."""
    rows = [
        Row(b1=float(i), b2=i * i, dv=[-1.0, 2.0, 3.0, 4.0] + [float(j) for j in range(i + 1)])
        for i in range(20)
    ]
    return Frame(spark.createDataFrame(rows))


# -- F1 golden expectations (tdf001_introduction.out) ---------------------


def test_chained_filter_count(f1):
    c = f1.filter("b1 < 5").filter("b2 % 2 != 0 AND b1 < 4").count()
    assert c.get() == 2


def test_filtered_aggregates(f1):
    fd = f1.filter("b1 < 5").filter("b2 % 2 != 0 AND b1 < 4")
    mn, mean_b2, mx = fd.min("b1"), fd.mean("b2"), fd.max("b1")
    assert mn.get() == 1.0
    assert mean_b2.get() == 5.0
    assert mx.get() == 3.0


def test_take(f1):
    vals = f1.filter("b1 < 5").take("b1")
    assert sorted(vals.get()) == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_define_filter_count(f1):
    c = f1.define("s", F.col("b1") + F.col("b2")).filter("s > 4.2").count()
    assert c.get() == 8


# -- F2 golden expectations (test_misc.cxx) -------------------------------


def test_forked_graph_counts(f2):
    base = f2.filter(F.lit(True))
    c_all = base.count()
    c_even = base.define("iseven", F.expr("b2 % 2 == 0")).filter("iseven").count()
    assert c_all.get() == 20
    assert c_even.get() == 10


def test_scalar_aggregates(f2):
    assert f2.min("b2").get() == 0
    assert f2.max("b2").get() == 361
    assert f2.mean("b2").get() == pytest.approx(123.5)


def test_array_flatten_aggregates(f2):
    """SURVEY.md §1.3 load-bearing check: aggregates over array columns
    operate on flattened elements; golden mean over 290 elements."""
    assert f2.min("dv").get() == -1.0
    assert f2.max("dv").get() == 19.0
    assert f2.mean("dv").get() == pytest.approx(5.1379310344827588963, abs=1e-12)


def test_single_pass_fusion(f2):
    """All scalar actions booked on one frame flush as one agg() job and all
    become ready after the first get() (reference X1 contract)."""
    mn, mx, me, ct = f2.min("b1"), f2.max("b1"), f2.mean("b1"), f2.count()
    assert not mx.ready
    assert mn.get() == 0.0
    assert mx.ready and me.ready and ct.ready
    assert mx.get() == 19.0 and ct.get() == 20


# -- error surface --------------------------------------------------------


def test_duplicate_define_raises(f1):
    with pytest.raises(DuplicateColumnError):
        f1.define("b1", F.lit(1.0))


def test_unknown_column_raises(f1):
    with pytest.raises(UnknownColumnError):
        f1.min("nope")


def test_udf_arity_mismatch_raises(f1):
    with pytest.raises(ArityError):
        f1.filter(lambda x, y: x > y, cols=["b1"])


# -- UDF path -------------------------------------------------------------


def test_callable_filter_and_define(f1):
    fr = f1.filter(lambda b1: b1 < 5.0, cols=["b1"]).define(
        "sq", lambda b1: b1 * b1, cols=["b1"], vectorized=True
    )
    assert fr.count().get() == 5
    assert fr.max("sq").get() == 16.0


def test_default_columns(f1):
    fr = f1.with_defaults("b1")
    assert fr.min().get() == 0.0
    assert fr.filter(lambda b1: b1 > 7.0).count().get() == 2


# -- empty input (F4): SQL NULL, documented divergence from sentinels ------


def test_empty_input_null_semantics(f1):
    empty = f1.filter(F.lit(False))
    assert empty.count().get() == 0
    assert empty.min("b1").get() is None
    assert empty.max("b1").get() is None
    assert empty.mean("b1").get() is None
    assert empty.take("b1").get() == []


# -- named filters + report (reference's planned cutflow feature) ----------


def test_named_filter_report(f1):
    chain = (
        f1.filter("b1 >= 2", name="ge2")
        .define("s", F.col("b1") + F.col("b2"))
        .filter("s < 60", name="slt60")
    )
    # b1=i, b2=i*i: ge2 passes i=2..9 (8 rows); s=i+i*i<60 passes i=2..7 (6)
    assert chain.report() == [("ge2", 8), ("slt60", 6)]
    assert chain.count().get() == 6


def test_report_empty_when_unnamed(f1):
    assert f1.filter("b1 > 3").report() == []


# -- foreach / foreach_slot ------------------------------------------------


def test_foreach_slot_accumulates(spark, f1):
    acc = spark.sparkContext.accumulator(0)

    def add(slot, b2):
        acc.add(b2)

    f1.foreach_slot(add, cols=["b2"])
    assert acc.value == sum(i * i for i in range(10))


def test_foreach_flushes_pending(f1):
    c = f1.count()
    assert not c.ready
    f1.foreach(lambda b1: None, cols=["b1"])
    assert c.ready and c.get() == 10


# -- snapshot -------------------------------------------------------------


def test_snapshot_roundtrip(tmp_path, f1):
    out = str(tmp_path / "snap")
    fr = f1.filter("b1 >= 5").snapshot(out)
    assert fr.count().get() == 5
    assert sorted(fr.take("b1").get()) == [5.0, 6.0, 7.0, 8.0, 9.0]


def test_snapshot_partitioned(tmp_path, f1):
    """Hive-partitioned snapshot: partition values become directories and
    partition pruning applies on read-back."""
    import os

    out = str(tmp_path / "snap_part")
    f2 = f1.define("even", F.expr("b2 % 2 = 0"))
    fr = f2.snapshot(out, partition_by=["even"])
    assert fr.count().get() == 10
    assert any(d.startswith("even=") for d in os.listdir(out))
    from tdataframe_spark.plans import explain_str

    pruned = fr.filter("even = true")
    assert "PartitionFilters: [isnotnull(even" in explain_str(pruned.df, "simple")
    assert pruned.count().get() == 5


def _njobs(spark, group, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_auto_histo_fuses_prepass(spark):
    """The auto-range histo's min/max prepass fuses into the frame's shared
    scalar-agg pass: booking count + mean alongside the histo adds ZERO
    Spark jobs over a bare auto-histo (the assert is comparative; absolute
    counts are pinned by test_flush_job_counts), and all scalars resolve
    from that one flush."""
    rows = [Row(b1=float(i)) for i in range(100)]
    df = spark.createDataFrame(rows)

    bare = Frame(df).filter("b1 >= 0")
    n_bare = _njobs(spark, "histo_bare", lambda: bare.histo("b1", nbins=10).get())

    fr = Frame(df).filter("b1 >= 0")
    h = fr.histo("b1", nbins=10)
    ct, me = fr.count(), fr.mean("b1")
    got = {}
    n_fused = _njobs(spark, "histo_fused", lambda: got.setdefault("h", h.get()))
    assert ct.ready and me.ready
    assert ct.get() == 100 and me.get() == pytest.approx(49.5)
    hist = got["h"]
    assert sum(b[3] for b in hist) == 100
    assert hist[0][1] == 0.0 and hist[-1][2] == 99.0
    assert n_fused == n_bare, (n_fused, n_bare)


def test_flush_job_counts(spark):
    """Jobs per flush under AQE (the session default), counted by job
    group. The fixed cut-flow shape (count + mean + fixed-range histo) is
    one grouped count carrying the scalars: 2 jobs, its shuffle-map stage
    and its result stage. The auto shape adds an auto-range histo of an
    array column: 2 jobs per grouped count plus 1 that builds the
    persisted projection (core/proxy.py)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    rows = [
        Row(b1=float(i), n=i % 40, dv=[float(j) for j in range(i % 7)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    for auto, want in ((False, 2), (True, 5)):
        fr = Frame(df).filter("b1 >= 0", name="cut")
        res = [fr.count(), fr.mean("n"), fr.histo("n", nbins=40, lo=-0.5, hi=39.5)]
        if auto:
            res.append(fr.histo("dv", nbins=16))
        assert _njobs(spark, f"flush_jobs_auto_{auto}", fr.engine.flush) == want
        assert all(r.ready for r in res)
        assert res[0].get() == 200
        assert _njobs(spark, f"report_auto_{auto}", fr.report) == 0


def test_multipass_flush_persists_only_booked_columns(spark):
    """A multi-pass flush persists df.select(<booked columns, in frame
    order>): a defined column no booking reads, which raises if it is
    ever evaluated, never runs, and no RDD stays persisted afterwards."""
    from pyspark.storagelevel import StorageLevel

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame([Row(n=i % 5, b1=float(i)) for i in range(50)])
    boom = F.raise_error(F.lit("unbooked column evaluated"))
    fr = Frame(df).define("boom", F.when(F.col("b1") >= 0, boom))
    me, ct = fr.mean("b1"), fr.count()
    h = fr.histo("n", nbins=5)  # auto range: a second pass, so a persist
    seen = {}

    def probe(d):
        seen["cols"] = d.columns
        seen["persisted"] = d.storageLevel != StorageLevel.NONE
        seen["rdds"] = not sc._jsc.getPersistentRDDs().isEmpty()

    fr.engine.book_job(fr.df, (), probe)
    assert ct.get() == 50 and me.get() == pytest.approx(24.5)
    assert [b[3] for b in h.get()] == [10] * 5
    assert seen == {"cols": ["n", "b1"], "persisted": True, "rdds": True}
    # other modules of the session may hold caches of their own: compare
    # against the set before the flush rather than asserting isEmpty()
    assert set(sc._jsc.getPersistentRDDs().keySet().toArray()) == before
    with pytest.raises(Exception, match="unbooked column evaluated"):
        fr.select("boom").df.collect()  # the guard column does raise
    with pytest.raises(UnknownColumnError):
        fr.engine.book_job(fr.df, ("nope",), probe)


def _bits(rows):
    """Rows with every float replaced by its IEEE bit pattern."""
    import struct

    return [
        tuple(struct.pack(">d", v) if isinstance(v, float) else v for v in r)
        for r in rows
    ]


@pytest.fixture(scope="module")
def parity_df(spark):
    import random

    rnd = random.Random(7)
    xs = [rnd.uniform(-0.2, 1.2) for _ in range(300)]
    xs += [0.1, 0.3, 0.5, 0.7, 0.6999999999999999, 1.0, 0.0, None]
    ys = [rnd.uniform(-1.2, 1.2) for _ in xs]
    arr = [[x, x / 2] if x is not None else [] for x in xs]
    return spark.createDataFrame(
        list(zip(xs, ys, arr)), "x double, y double, a array<double>"
    )


@pytest.mark.parametrize(
    "case",
    [
        dict(col="x", nbins=10, lo=0.0, hi=1.0),
        dict(col="x", nbins=7, lo=0.0, hi=0.7, flow=True),
        dict(col="x", nbins=3, lo=0.1, hi=0.7),  # the width rounds
        # lo + 5 * width == 0.29999999999999993: the last edge rounds,
        # and flow mode pins it to hi
        dict(col="x", nbins=5, lo=0.1, hi=0.3),
        dict(col="x", nbins=5, lo=0.1, hi=0.3, flow=True),
        dict(col="x", nbins=13),  # auto range
        dict(col="a", nbins=9),  # auto range over flattened arrays
        dict(col="x", nbins=4, where="x = 0.5"),  # auto, min == max
        dict(col="x", nbins=4, where="x > 99"),  # auto, empty frame
        dict(col="x", edges=[-0.1, 0.1, 0.35, 0.7, 1.0]),
    ],
    ids=["fixed", "flow", "round", "round_edge", "round_edge_flow", "auto",
         "auto_array", "auto_degenerate", "auto_empty", "edges"],
)
def test_histo_matches_histo_frame_bit_for_bit(parity_df, case):
    """Frame.histo (grouped count zero-filled on the driver) returns
    exactly the rows of the DataFrame builder, edges bit for bit."""
    case = dict(case)
    df = parity_df.filter(case.pop("where")) if "where" in case else parity_df
    lazy = Frame(df).histo(**case).get()
    frame = [tuple(r) for r in Frame(df).histo_frame(**case).collect()]
    assert _bits(lazy) == _bits(frame)
    assert all(type(r[3]) is int for r in lazy)


def test_histo2d_matches_histo2d_frame_bit_for_bit(parity_df):
    from tdataframe_spark.core.histogram import histo2d_frame

    args = ("x", "y", 3, 0.1, 0.7, 4, -1.0, 1.0)
    lazy = Frame(parity_df).histo2d(*args).get()
    frame = [tuple(r) for r in histo2d_frame(parity_df, *args).collect()]
    assert len(lazy) == 12 and sum(r[-1] for r in lazy) > 0
    assert _bits(lazy) == _bits(frame)


def test_histo_variable_edges(spark):
    """Non-uniform edges: [0,2), [2,5), [5,10); 7.5 and 100 out of range."""
    rows = [Row(b1=x) for x in [0.0, 1.9, 2.0, 4.99, 5.0, 9.99, 10.0, -1.0]]
    fr = Frame(spark.createDataFrame(rows))
    hist = fr.histo("b1", edges=[0.0, 2.0, 5.0, 10.0]).get()
    assert hist == [(0, 0.0, 2.0, 2), (1, 2.0, 5.0, 2), (2, 5.0, 10.0, 2)]
    with pytest.raises(ValueError):
        fr.histo("b1", edges=[1.0, 1.0, 2.0]).get()


def test_min_max_sentinel_compat(f1):
    """Reference empty-input compatibility mode: sentinels instead of NULL
    (regression_zeroentries.cxx:35-37; the reference Max's seed bug is
    documented, not copied — max of nothing here is -DBL_MAX)."""
    from tdataframe_spark.core.aggregates import DBL_MAX

    empty = f1.filter(F.lit(False))
    assert empty.min("b1", empty="sentinel").get() == DBL_MAX
    assert empty.max("b1", empty="sentinel").get() == -DBL_MAX
    assert empty.mean("b1", empty="sentinel").get() == 0.0
    assert empty.sum("b1", empty="sentinel").get() == 0.0
    # non-empty input: sentinel mode is a no-op
    assert f1.min("b1", empty="sentinel").get() == 0.0
    with pytest.raises(ValueError):
        f1.min("b1", empty="bogus")


def test_report_free_after_action(spark, f1):
    """An action resolves the observe() nodes; report() right after must
    trigger ZERO further Spark jobs."""
    sc = spark.sparkContext
    chain = f1.filter("b1 >= 2", name="ge2").filter("b1 < 8", name="lt8")
    assert chain.count().get() == 6
    sc.setJobGroup("report_free", "")
    try:
        rep = chain.report()
    finally:
        sc.setJobGroup(None, None)
    assert rep == [("ge2", 8), ("lt8", 6)]
    assert sc.statusTracker().getJobIdsForGroup("report_free") == []


def test_take_iter_streams_values(f1):
    """Streaming take: iterator yields all post-filter values and flushes
    pending lazy actions first (instant-action contract)."""
    fr = f1.filter("b1 < 5")
    ct = fr.count()
    it = fr.take_iter("b1")
    first = next(it)
    assert ct.ready  # flushed before iteration began
    assert sorted([first] + list(it)) == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_upsert_replaces_and_appends(spark):
    from pyspark.sql import Row

    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    upd = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    out = {r["k"]: r["v"] for r in Frame(base).upsert(upd, on=["k"]).df.collect()}
    assert out == {1: "a", 2: "B", 3: "c"}


def test_upsert_duplicate_update_keys_raise(spark):
    """r9-VERDICT: two update rows sharing a key used to BOTH append
    (anti-join + union has no within-batch dedup) — SQL MERGE errors on
    multiple matches, and so does upsert now, at execution, from a
    guard folded into the key-distinct it already computes.
    check_duplicates=False keeps the multiset-append escape hatch."""
    import pytest
    from pyspark.sql import Row

    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    dup = spark.createDataFrame([Row(k=2, v="B"), Row(k=2, v="B2")])
    with pytest.raises(Exception, match="multiple update rows share key"):
        Frame(base).upsert(dup, on=["k"]).df.collect()
    rows = (
        Frame(base)
        .upsert(dup, on=["k"], check_duplicates=False)
        .df.collect()
    )
    assert sorted(r["v"] for r in rows) == ["B", "B2", "a"]


def test_head_tail_flush_pending(f1):
    """Head/Tail (reference planned pretty-printers): instant actions that
    flush pending lazies first; deterministic on a stable scan order."""
    fr = f1.filter("b1 >= 0")
    c = fr.count()
    h = fr.head(3)
    assert c.ready  # instant action flushed the pending count
    assert [r["b1"] for r in h] == [0.0, 1.0, 2.0]
    t = fr.tail(2)
    assert [r["b1"] for r in t] == [8.0, 9.0]


def test_entry_range_ordered_and_scan(f1):
    """entry_range: ordered mode is a deterministic global slice; scan mode
    is offset/limit and returns exactly end-begin rows."""
    got = sorted(
        r["b1"] for r in f1.entry_range(2, 5, order_by=["b1"]).df.collect()
    )
    assert got == [2.0, 3.0, 4.0]
    # scan mode: right cardinality, DISTINCT rows genuinely drawn from
    # the frame (any 4 rows would otherwise pass)
    rows = f1.entry_range(3, 7).df.collect()
    assert len(rows) == 4
    vals = [r["b1"] for r in rows]
    assert len(set(vals)) == 4
    assert set(vals) <= {float(i) for i in range(10)}
    with pytest.raises(ValueError):
        f1.entry_range(5, 2)


def test_frame_explain_modes(f1):
    text = f1.filter("b1 < 5").explain()
    assert "Physical Plan" in text and "Filter" in text
    assert "Filter" in f1.filter("b1 < 5").explain("simple")


def test_flush_failure_errors_siblings_not_silent_none(spark):
    """If one booked action fails mid-flush, sibling pending results must
    raise on .get(), never silently return None."""
    import pytest

    from tdataframe_spark import Frame

    good = Frame(spark.range(10).selectExpr("id as x"))
    bad = Frame(
        spark.range(10).selectExpr("id as x"),
        engine=good.engine,
    ).filter(lambda x: (_ for _ in ()).throw(RuntimeError("udf boom")), ["x"])
    r_bad = bad.count()   # booked FIRST: its group runs and fails before
    r_good = good.count()  # the sibling group ever publishes
    with pytest.raises(Exception):
        r_bad.get()
    # the sibling was voided by the failed flush: it must ERROR, not None
    with pytest.raises(Exception):
        r_good.get()


def test_array_sum_all_empty_is_null(spark):
    from tdataframe_spark import Frame

    df = spark.createDataFrame(
        [([],), ([],)], "arr array<double>"
    )
    fr = Frame(df)
    assert fr.sum("arr").get() is None       # matches min/max/mean semantics
    assert fr.mean("arr").get() is None
    df2 = spark.createDataFrame([([1.0, 2.0],), ([],)], "arr array<double>")
    assert Frame(df2).sum("arr").get() == 3.0


def test_profile_numeric_raises_outside_exact_domain(spark):
    import pytest

    from tdataframe_spark.core.aggregates import profile_numeric

    ok = spark.createDataFrame([(1.0e6,), (2.0e6,)], "x double")
    assert profile_numeric(ok, ["x"]).count() == 1
    # past |x| ~ 3e9 the int64 x² split overflows: ANSI mode raises
    # loudly (ARITHMETIC_OVERFLOW) instead of silently corrupting std
    too_big = spark.createDataFrame([(1.0e10,), (2.0e10,)], "x double")
    with pytest.raises(Exception) as ei:
        profile_numeric(too_big, ["x"]).collect()
    assert "OVERFLOW" in str(ei.value).upper()


def test_with_defaults_preserves_named_filter_report(spark):
    from tdataframe_spark import Frame

    fr = (
        Frame(spark.range(100).selectExpr("id as x", "id as y"))
        .filter("x > 49", name="cut")
        .with_defaults("y")
    )
    assert fr.count().get() == 50
    assert fr.report() == [("cut", 50)]


def test_fixed_histo_keeps_inrange_value_on_rounded_width(spark):
    """(hi-lo)/nbins rounding down must not drop in-range values whose
    computed bin lands at nbins."""
    from tdataframe_spark import Frame

    v = 0.6999999999999999  # < 0.7, but floor(v / (0.7/7)) == 7
    df = spark.createDataFrame([(v,), (0.05,)], "x double")
    hist = Frame(df).histo("x", nbins=7, lo=0.0, hi=0.7).get()
    assert sum(b[3] for b in hist) == 2
    assert hist[6][3] == 1  # clamped into the last bin


def test_fixed_histo_flow_bins_count_out_of_range(spark):
    """flow=True matches TH1F accounting: under/overflow values land in
    visible bins -1 and nbins instead of being dropped
    (/root/reference/TDataFrame.hxx:483-517)."""
    df = spark.createDataFrame(
        [(-5.0,), (-0.1,), (0.0,), (1.5,), (3.9,), (4.0,), (99.0,)], "x double"
    )
    hist = Frame(df).histo("x", nbins=4, lo=0.0, hi=4.0, flow=True).get()
    assert [b[0] for b in hist] == [-1, 0, 1, 2, 3, 4]
    by_bin = {b[0]: b[3] for b in hist}
    assert by_bin[-1] == 2       # -5.0, -0.1
    assert by_bin[0] == 1        # 0.0
    assert by_bin[1] == 1        # 1.5
    assert by_bin[3] == 1        # 3.9
    assert by_bin[4] == 2        # 4.0 (x == hi is overflow), 99.0
    assert sum(by_bin.values()) == 7  # nothing dropped
    under, over = hist[0], hist[-1]
    assert under[1] == float("-inf") and under[2] == 0.0
    assert over[1] == 4.0 and over[2] == float("inf")
    # flow demands a fixed range
    with pytest.raises(ValueError):
        Frame(df).histo("x", nbins=4, flow=True)
    with pytest.raises(ValueError):
        Frame(df).histo("x", edges=[0.0, 1.0, 2.0], flow=True)
    with pytest.raises(ValueError):  # eager entry point must agree
        Frame(df).histo_frame("x", edges=[0.0, 1.0, 2.0], flow=True)


def test_udf_arity_accepts_defaults_and_rejects_mismatch(spark):
    import pytest

    from tdataframe_spark import Frame
    from tdataframe_spark.core.errors import ArityError

    fr = Frame(spark.range(10).selectExpr("cast(id as double) x"))
    out = fr.filter(lambda x, scale=5.0: x > scale, ["x"])
    assert out.count().get() == 4
    with pytest.raises(ArityError):
        fr.filter(lambda a, b: a > b, ["x"])  # 2 required, 1 column


def test_filter_requires_condition(spark):
    import pytest

    from tdataframe_spark import Frame

    with pytest.raises(ValueError):
        Frame(spark.range(3)).filter()


def test_histo2d_grid_and_edges(spark):
    """2-D histogram: dense zero-filled grid, exact counts per cell,
    out-of-range and NULL pairs dropped, hi-edge value clamped out,
    degenerate args rejected."""
    import pytest
    from pyspark.sql import Row

    from tdataframe_spark.core.histogram import histo2d_frame

    rows = [Row(x=0.5, y=0.5)] * 3 + [Row(x=1.5, y=0.5)] * 2
    rows += [Row(x=5.0, y=0.5), Row(x=0.5, y=-1.0), Row(x=None, y=0.5)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = {(r["xbin"], r["ybin"]): r for r in histo2d_frame(
        df, "x", "y", 2, 0.0, 2.0, 2, 0.0, 1.0
    ).collect()}
    assert len(out) == 4  # dense 2x2 grid
    # y=0.5 with bin width 0.5 lands in ybin 1
    assert out[(0, 1)]["cnt"] == 3 and out[(1, 1)]["cnt"] == 2
    assert out[(0, 0)]["cnt"] == 0 and out[(1, 0)]["cnt"] == 0
    assert out[(1, 0)]["x_lo"] == 1.0 and out[(1, 0)]["x_hi"] == 2.0
    with pytest.raises(ValueError, match="fixed ranges"):
        histo2d_frame(df, "x", "y", 2, 1.0, 1.0, 2, 0.0, 1.0)
    with pytest.raises(ValueError, match="nx and ny"):
        histo2d_frame(df, "x", "y", 0, 0.0, 1.0, 2, 0.0, 1.0)


def test_frame_histo2d_lazy_action(spark):
    """Frame.histo2d books a lazy 2-D histogram; values match the eager
    histo2d_frame and other booked scalars resolve in the same flush."""
    from pyspark.sql import Row

    from tdataframe_spark import Frame
    from tdataframe_spark.core.histogram import histo2d_frame

    df = spark.createDataFrame(
        [Row(x=float(i % 4), y=float(i % 2)) for i in range(40)]
    )
    fr = Frame(df)
    h = fr.histo2d("x", "y", nx=4, xlo=0.0, xhi=4.0, ny=2, ylo=0.0, yhi=2.0)
    c = fr.count()
    rows = h.get()
    assert c.ready  # fused flush resolved the scalar too
    want = [tuple(r) for r in histo2d_frame(
        df, "x", "y", 4, 0.0, 4.0, 2, 0.0, 2.0
    ).collect()]
    assert sorted(rows) == sorted(want)
    assert sum(r[-1] for r in rows) == 40


def test_upsert_duplicate_keys_raise_even_on_empty_target(spark):
    """r10 review pin: the duplicate-key guard rides the UPDATES side
    of the plan — an empty target used to optimize the anti-join (and
    the guard with it) away via empty-relation propagation, silently
    appending both duplicates."""
    import pytest
    from pyspark.sql.types import StructType

    empty = spark.createDataFrame(
        [], "k long, v string"
    )
    dup = spark.createDataFrame([(2, "B"), (2, "B2")], "k long, v string")
    with pytest.raises(Exception, match="multiple update rows share key"):
        Frame(empty).upsert(dup, on=["k"]).df.collect()


# -- reduce / accumulate (reference-planned: TDFGuide.md:379-380) ----------


def test_reduce_associative_fold(f1):
    assert f1.reduce(lambda a, b: a + b, "b2") == sum(i * i for i in range(10))
    # associative + commutative max
    assert f1.reduce(max, "b1") == 9.0


def test_reduce_flushes_pending_and_empty(spark, f1):
    c = f1.count()
    assert not c.ready
    assert f1.reduce(lambda a, b: a + b, "b2") == 285
    assert c.ready and c.get() == 10  # instant-action flush (X1 contract)
    empty = Frame(spark.createDataFrame([], "x long"))
    assert empty.reduce(lambda a, b: a + b, "x") is None
    assert empty.accumulate(lambda a, b: a + b, 42, "x") == 42


def test_reduce_non_commutative_partition_order(spark):
    """Partials merge in ascending partition order — a non-commutative
    but associative fold (string concat) equals the sequential fold in
    scan order, regardless of which executor finishes first."""
    from pyspark.sql import Row

    rows = [Row(s=chr(ord("a") + i)) for i in range(12)]
    fr = Frame(spark.createDataFrame(rows).repartitionByRange(4, "s"))
    got = fr.reduce(lambda a, b: a + b, "s")
    assert got == "abcdefghijkl"


def test_accumulate_seed_applied_once(spark):
    from pyspark.sql import Row

    rows = [Row(v=i) for i in range(1, 7)]
    # many partitions: a per-partition seed would add 100 several times
    fr = Frame(spark.createDataFrame(rows).repartition(8))
    assert fr.accumulate(lambda a, b: a + b, 100, "v") == 121


def test_reduce_arity_and_type_guards(f1):
    import pytest

    from tdataframe_spark.core.errors import ArityError

    with pytest.raises(ArityError):
        f1.reduce(lambda a: a, "b1")
    with pytest.raises(TypeError):
        f1.reduce("not callable", "b1")
