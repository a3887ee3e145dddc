"""Histogram action: fixed-range and auto-range 1-D histograms as bin tables.

Reference parity (SURVEY.md §2.1 A5):
- ``.Histo(col, nBins, min, max)`` /root/reference/TDataFrame.hxx:923-934;
  fixed-range per-slot fill + merge ``FillTOOperation`` :483-517; auto-range
  (min==max) buffered fill with global min/max tracking ``FillOperation``
  :410-480. Collection columns are flattened before filling (§1.3).

Spark re-expression: a histogram is a bucketize + hash aggregate —
``floor((x-lo)/width)`` then ``groupBy(bin).count()`` — which Spark executes
as partial+final aggregation over at most ``nbins`` distinct keys (tiny
shuffle regardless of input size; survives 100 TB trivially). Auto-range mode
needs the true min/max, so it is planned as a cheap min/max pre-pass followed
by the same bucketize — no 16 MB driver-side buffering like the reference
(:412), because at scale buffering rows is not an option.

Result shape: a zero-filled, bin-ordered table (bin, bin_lo, bin_hi, cnt) —
deterministic and order-insensitively hashable for oracle comparison. Two
builders share each bucketize expression:
- ``histo_frame`` / ``histo_edges_frame`` / ``histo2d_frame`` return the
  table as a DataFrame (a broadcast join of the counts to a bin spine,
  then a sort) for registry queries and pipelines;
- ``bin_rows`` / ``histo_edges_rows`` / ``histo2d_rows``, which the lazy
  ``Frame`` actions run, collect the grouped count alone (≤ one row per
  bin) and zero-fill it on the driver: one shuffle's worth of jobs instead
  of the spine join's and the sort's. ``_uniform_edges`` evaluates the
  edge columns' exact IEEE operations, so both shapes agree bit for bit.

Semantics notes (documented divergences / choices):
- fixed-range mode by default DROPS out-of-range values; with
  ``flow=True`` it instead matches TH1F under/overflow accounting
  (/root/reference/TDataFrame.hxx:483-517 fills a TH1F, whose Fill routes
  x < lo to bin 0 and x >= hi to bin nbins+1; exercised by
  tests/tdf001_introduction.cxx) by emitting two extra visible rows:
  bin -1 covering (-inf, lo) and bin nbins covering [hi, +inf).
- auto-range mode includes every value; x == max lands in the last bin
  (TH1F-compatible clamp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from tdataframe_spark.core.aggregates import column_type


def _values(df: DataFrame, col: str) -> DataFrame:
    dtype = column_type(df, col)
    c = F.col(col)
    if isinstance(dtype, ArrayType):
        return df.select(F.explode(c).alias("__v")).select(
            F.col("__v").cast("double").alias("__v")
        )
    return df.select(c.cast("double").alias("__v"))


def _uniform_bins(
    vals: DataFrame,
    nbins: int,
    lo: float,
    hi: float,
    clamp_max: bool,
    flow: bool = False,
) -> DataFrame:
    """The bucketize step: one int ``bin`` column per counted value."""
    width = (hi - lo) / nbins
    v = F.col("__v")
    b = F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")
    if clamp_max:
        return vals.filter(v.isNotNull()).select(
            F.least(b, F.lit(nbins - 1)).alias("bin")
        )
    if flow:
        # TH1F flow accounting: out-of-range values are COUNTED, in the
        # visible rows bin -1 (underflow) and bin nbins (overflow) — still
        # the same single bucketize + tiny hash aggregate
        return vals.filter(v.isNotNull()).select(
            F.when(v < lo, F.lit(-1))
            .when(v >= hi, F.lit(nbins))
            .otherwise(F.least(b, F.lit(nbins - 1)))
            .cast("int")
            .alias("bin")
        )
    # clamp here too: when (hi-lo)/nbins rounds DOWN, a value just
    # below hi (in range, passes the filter) can compute bin == nbins
    # and would otherwise vanish from the bin table
    return vals.filter(v.isNotNull() & (v >= lo) & (v < hi)).select(
        F.least(b, F.lit(nbins - 1)).alias("bin")
    )


def _counts(binned: DataFrame, *keys: str) -> DataFrame:
    """Per-bin counts: at most one row per bin, whatever the input size."""
    return binned.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def _bin_table(
    vals: DataFrame,
    nbins: int,
    lo: float,
    hi: float,
    clamp_max: bool,
    flow: bool = False,
) -> DataFrame:
    width = (hi - lo) / nbins
    counts = _counts(_uniform_bins(vals, nbins, lo, hi, clamp_max, flow), "bin")
    spine_lo, spine_n = (-1, nbins + 2) if flow else (0, nbins)
    bins = vals.sparkSession.range(spine_lo, spine_lo + spine_n).select(
        F.col("id").cast("int").alias("bin")
    )
    bin_lo = F.lit(lo) + F.col("bin").cast("double") * F.lit(width)
    bin_hi = F.lit(lo) + (F.col("bin") + 1).cast("double") * F.lit(width)
    if flow:
        inf = float("inf")
        bin_lo = F.when(F.col("bin") == -1, F.lit(-inf)).otherwise(bin_lo)
        bin_hi = F.when(F.col("bin") == nbins, F.lit(inf)).otherwise(
            # the last real bin's upper edge is exactly hi, not lo+n*width
            # (those differ by float rounding); flow mode makes the edge
            # semantically load-bearing so pin it
            F.when(F.col("bin") == nbins - 1, F.lit(hi)).otherwise(bin_hi)
        )
        bin_lo = F.when(F.col("bin") == nbins, F.lit(hi)).otherwise(bin_lo)
    return (
        bins.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin",
            bin_lo.alias("bin_lo"),
            bin_hi.alias("bin_hi"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        )
        .orderBy("bin")
    )


def _uniform_edges(
    nbins: int, lo: float, hi: float, flow: bool
) -> list[tuple[int, float, float]]:
    """``(bin, bin_lo, bin_hi)`` of every bin, the same IEEE operations as
    ``_bin_table``'s edge columns, so both shapes agree bit for bit."""
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / nbins
    inf = float("inf")
    out = []
    for k in range(-1 if flow else 0, nbins + 1 if flow else nbins):
        b_lo, b_hi = lo + float(k) * width, lo + float(k + 1) * width
        if flow:
            if k == -1:
                b_lo = -inf
            elif k == nbins:
                b_lo, b_hi = hi, inf
            elif k == nbins - 1:
                b_hi = hi
        out.append((k, b_lo, b_hi))
    return out


def _fill(counts: DataFrame, edges: list[tuple]) -> list[tuple]:
    """Collect a per-bin count table (≤ one row per bin) and zero-fill it
    on the driver, in ``edges`` order: the rows ``_bin_table`` and its
    siblings produce, without their spine join and sort jobs. Each edge
    tuple starts with its bin key (one int, or a pair for 2-D)."""
    nkeys = len(counts.columns) - 1
    got = {tuple(r[:nkeys]): r[nkeys] for r in counts.collect()}
    return [(*e, got.get(e[:nkeys], 0)) for e in edges]


def resolve_auto_range(mn, mx) -> tuple[float, float]:
    """Auto-range edge cases: empty input → unit range; degenerate
    min==max → widen by 1 so the single value lands in bin 0."""
    if mn is None:
        return 0.0, 1.0
    lo, hi = float(mn), float(mx)
    if lo == hi:
        hi = lo + 1.0
    return lo, hi


def bin_rows(
    df: DataFrame,
    col: str,
    nbins: int,
    lo: float,
    hi: float,
    clamp_max: bool,
    flow: bool = False,
) -> list[tuple[int, float, float, int]]:
    """Materialized bin table for an already-resolved range: the rows of
    ``_bin_table``, from one grouped count collected and zero-filled on
    the driver. No min/max prepass, so callers that obtained the range
    elsewhere (fused into a shared scalar-agg pass) don't pay for one."""
    binned = _uniform_bins(_values(df, col), nbins, lo, hi, clamp_max, flow)
    return _fill(_counts(binned, "bin"), _uniform_edges(nbins, lo, hi, flow))


def histo_frame(
    df: DataFrame,
    col: str,
    nbins: int = 128,
    lo: float = 0.0,
    hi: float = 0.0,
    flow: bool = False,
) -> DataFrame:
    """Histogram as a DataFrame bin table. ``hi <= lo`` selects auto-range
    (reference convention: min==max==0 means "derive the range from data",
    /root/reference/TDataFrame.hxx:930-932). ``flow=True`` (fixed range
    only) adds TH1F-style under/overflow rows as bin -1 / bin nbins.

    Not lazy in auto-range mode: the min/max job runs HERE, at
    declaration, because the returned plan's bin edges are literals. A
    fixed range or ``Frame.histo`` (which fuses min/max into the flush)
    runs no job before the caller's action."""
    vals = _values(df, col)
    auto = not (hi > lo)
    if auto:
        if flow:
            raise ValueError(
                "flow=True needs a fixed range: auto-range covers every "
                "value, so its flow bins are zero by construction"
            )
        row = vals.agg(F.min("__v").alias("lo"), F.max("__v").alias("hi")).first()
        lo, hi = resolve_auto_range(row["lo"], row["hi"])
    return _bin_table(vals, nbins, lo, hi, clamp_max=auto, flow=flow)


def check_edges(edges: list[float]) -> list[float]:
    """Variable bin edges as floats; raises unless >= 2 strictly ascending."""
    if len(edges) < 2 or any(a >= b for a, b in zip(edges, edges[1:])):
        raise ValueError(f"edges must be >= 2 strictly ascending values: {edges}")
    return [float(e) for e in edges]


def _edges_bins(df: DataFrame, col: str, edges: list[float]) -> DataFrame:
    """Variable-edge bucketize: bin id = (#edges <= x) - 1, a JVM-side
    higher-order filter over a small edge-array literal."""
    v = F.col("__v")
    arr = F.array(*[F.lit(e) for e in edges])
    return _values(df, col).filter(
        v.isNotNull() & (v >= edges[0]) & (v < edges[-1])
    ).select((F.size(F.filter(arr, lambda e: e <= v)) - 1).cast("int").alias("bin"))


def histo_edges_frame(
    df: DataFrame, col: str, edges: list[float]
) -> DataFrame:
    """Variable-bin-edge histogram (reference ``Histo(col, model)`` with a
    non-uniform-edge TH1F model, /root/reference/TDataFrame.hxx:897-904 —
    the physics norm for e.g. log-scale pT bins).

    ``edges`` is an ascending list of k+1 boundaries defining k bins; bin i
    covers [edges[i], edges[i+1]). Values outside [edges[0], edges[-1]) are
    dropped (fixed-range semantics — the reference routes them to invisible
    under/overflow bins).

    Plan: the ``_edges_bins`` bucketize, then the same tiny groupBy as the
    uniform case — one scan, one ~k-key shuffle, scale-indifferent.
    """
    edges = check_edges(edges)
    counts = _counts(_edges_bins(df, col, edges), "bin")
    bins = df.sparkSession.createDataFrame(
        [(i, edges[i], edges[i + 1]) for i in range(len(edges) - 1)],
        "bin int, bin_lo double, bin_hi double",
    )
    return (
        bins.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin", "bin_lo", "bin_hi",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        )
        .orderBy("bin")
    )


def histo_edges_rows(
    df: DataFrame, col: str, edges: list[float]
) -> list[tuple[int, float, float, int]]:
    """The rows of ``histo_edges_frame``, from one grouped count collected
    and zero-filled on the driver."""
    edges = check_edges(edges)
    counts = _counts(_edges_bins(df, col, edges), "bin")
    return _fill(counts, [(i, edges[i], edges[i + 1]) for i in range(len(edges) - 1)])


def _grid_bins(
    df: DataFrame,
    xcol: str,
    ycol: str,
    nx: int,
    xlo: float,
    xhi: float,
    ny: int,
    ylo: float,
    yhi: float,
) -> DataFrame:
    """2-D bucketize: one (xbin, ybin) row per in-range, non-NULL pair."""
    if nx < 1 or ny < 1:
        raise ValueError("nx and ny must be >= 1")
    if not (xhi > xlo and yhi > ylo):
        raise ValueError("histo2d needs fixed ranges: hi must exceed lo")
    wx = (xhi - xlo) / nx
    wy = (yhi - ylo) / ny
    x = F.col(xcol).cast("double")
    y = F.col(ycol).cast("double")
    bx = F.least(F.floor((x - F.lit(xlo)) / F.lit(wx)).cast("int"), F.lit(nx - 1))
    by = F.least(F.floor((y - F.lit(ylo)) / F.lit(wy)).cast("int"), F.lit(ny - 1))
    return df.filter(
        x.isNotNull() & y.isNotNull()
        & (x >= xlo) & (x < xhi) & (y >= ylo) & (y < yhi)
    ).select(bx.alias("xbin"), by.alias("ybin"))


def histo2d_frame(
    df: DataFrame,
    xcol: str,
    ycol: str,
    nx: int,
    xlo: float,
    xhi: float,
    ny: int,
    ylo: float,
    yhi: float,
) -> DataFrame:
    """Fixed-range 2-D histogram as a dense (xbin, ybin) grid table — the
    Histo2D the reference's successor API grew (the shipped header is
    1-D-only, /root/reference/TDataFrame.hxx:686 kHisto1D); same bucketize
    + tiny hash aggregate shape as 1-D: the shuffle is ≤ nx·ny keys no
    matter the input size. Out-of-range / NULL pairs are dropped (1-D
    fixed-range default); rows with either coordinate NULL never fill.

    Returns (xbin, ybin, x_lo, x_hi, y_lo, y_hi, cnt), zero-filled and
    grid-ordered.
    """
    binned = _grid_bins(df, xcol, ycol, nx, xlo, xhi, ny, ylo, yhi)
    wx = (xhi - xlo) / nx
    wy = (yhi - ylo) / ny
    counts = _counts(binned, "xbin", "ybin")
    spark = df.sparkSession
    grid = (
        spark.range(nx).select(F.col("id").cast("int").alias("xbin"))
        .crossJoin(spark.range(ny).select(F.col("id").cast("int").alias("ybin")))
    )
    return (
        grid.join(F.broadcast(counts), ["xbin", "ybin"], "left")
        .select(
            "xbin",
            "ybin",
            (F.lit(xlo) + F.col("xbin").cast("double") * F.lit(wx)).alias("x_lo"),
            (F.lit(xlo) + (F.col("xbin") + 1).cast("double") * F.lit(wx)).alias("x_hi"),
            (F.lit(ylo) + F.col("ybin").cast("double") * F.lit(wy)).alias("y_lo"),
            (F.lit(ylo) + (F.col("ybin") + 1).cast("double") * F.lit(wy)).alias("y_hi"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        )
        .orderBy("xbin", "ybin")
    )


def histo2d_rows(
    df: DataFrame,
    xcol: str,
    ycol: str,
    nx: int,
    xlo: float,
    xhi: float,
    ny: int,
    ylo: float,
    yhi: float,
) -> list[tuple]:
    """The rows of ``histo2d_frame``, from one grouped count collected and
    zero-filled on the driver."""
    binned = _grid_bins(df, xcol, ycol, nx, xlo, xhi, ny, ylo, yhi)
    xs = _uniform_edges(nx, xlo, xhi, flow=False)
    ys = _uniform_edges(ny, ylo, yhi, flow=False)
    return _fill(
        _counts(binned, "xbin", "ybin"),
        [(i, j, x_lo, x_hi, y_lo, y_hi) for i, x_lo, x_hi in xs for j, y_lo, y_hi in ys],
    )
