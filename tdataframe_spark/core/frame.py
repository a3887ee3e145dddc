"""The Frame: a thin, lazily-evaluated wrapper over a Spark DataFrame with
the reference's functional-chain API plus the relational surface the
reference lacks.

Reference parity map (SURVEY.md §2.1):
- ``filter``  → T1 ``.Filter``  /root/reference/TDataFrame.hxx:744-757
- ``define``  → T2 ``.AddBranch`` /root/reference/TDataFrame.hxx:779-793
  (duplicate name raises, :290-297)
- ``count/min/max/mean/sum`` → A1-A4 (+ planned ``Sum``,
  /root/reference/TDFGuide.md:282) via the fused scalar-agg engine
- ``histo``   → A5 /root/reference/TDataFrame.hxx:897-934
- ``take``    → A6 /root/reference/TDataFrame.hxx:869-884
- ``foreach/foreach_slot`` → A7/A8 /root/reference/TDataFrame.hxx:805-839
  (instant actions: they flush every pending lazy result first, matching
  ``df->Run()`` at :838)
- ``snapshot`` → the reference's planned-but-missing sink
  (/root/reference/TDFGuide.md:283)
- default column list → ctor default-branches
  (/root/reference/TDataFrame.hxx:716, ``PickBranchNames`` :300-314)

Everything relational (join/group_by/order_by/...) is a typed passthrough to
Spark — Catalyst owns optimization; the engine adds no scheduling of its own
beyond multi-action fusion (core/proxy.py).
"""

from __future__ import annotations

import inspect
from typing import Any, Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tdataframe_spark.core.aggregates import scalar_agg_plan
from tdataframe_spark.core.errors import (
    ArityError,
    DuplicateColumnError,
    UnknownColumnError,
)
from tdataframe_spark.core.histogram import histo_frame
from tdataframe_spark.core.proxy import Engine, Result

def _fn_arity(fn: Callable) -> "tuple[int, int] | None":
    """(required, total) positional-arg counts, or None for variadic /
    unsignatured callables. Parameters with defaults count toward total
    but not required — a lambda (x, scale=2.0) accepts one column."""
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):
        return None
    required = total = 0
    for p in sig.parameters.values():
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD):
            total += 1
            if p.default is p.empty:
                required += 1
        elif p.kind == p.VAR_POSITIONAL:
            return None  # variadic: accepts anything
    return required, total


# Module-level fold sentinel: closures capture it BY REFERENCE, so the
# executor-side identity check resolves to the same object after
# unpickling (an inline object() would break that).
_NO_VALUE = object()


class Frame:
    """A lazily-evaluated analytics frame over a Spark DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        engine: Engine | None = None,
        default_columns: Sequence[str] = (),
        observations: "tuple[tuple[str, Any], ...]" = (),
    ) -> None:
        self._df = df
        self._engine = engine if engine is not None else Engine()
        self._defaults = tuple(default_columns)
        # (name, Observation) per named filter, in chain order — the
        # reference's planned named-filter/Report feature
        # (/root/reference/TDFGuide.md:285-295)
        self._observations = observations

    # -- plumbing --------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """The underlying Spark DataFrame (escape hatch)."""
        return self._df

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    @property
    def engine(self) -> Engine:
        return self._engine

    def _derive(self, df: DataFrame, observations=None) -> "Frame":
        return Frame(
            df,
            self._engine,
            self._defaults,
            self._observations if observations is None else observations,
        )

    def _resolve_cols(
        self, cols: Sequence[str] | None, fn: Callable | None = None, extra: int = 0
    ) -> list[str]:
        """Resolve an input-column list, falling back to the frame's default
        columns (reference ``PickBranchNames``
        /root/reference/TDataFrame.hxx:300-314) and checking UDF arity."""
        resolved = list(cols) if cols else list(self._defaults)
        if fn is not None:
            arity = _fn_arity(fn)
            if not resolved and arity and arity[0]:
                raise UnknownColumnError(
                    "no input columns given and the frame has no default columns"
                )
            implied = len(resolved) + extra
            if arity is not None and not (arity[0] <= implied <= arity[1]):
                want = (
                    str(arity[0])
                    if arity[0] == arity[1]
                    else f"{arity[0]}..{arity[1]}"
                )
                raise ArityError(
                    f"callable takes {want} positional args but "
                    f"{implied} were implied by columns {resolved}"
                )
        for c in resolved:
            if c not in self._df.columns:
                raise UnknownColumnError(
                    f"unknown column {c!r}; available: {self._df.columns}"
                )
        return resolved

    def _vector_udf(
        self, fn: Callable, cols: Sequence[str], return_type: str, vectorized: bool
    ) -> Column:
        if vectorized:
            pudf = F.pandas_udf(fn, return_type)
        else:
            import pandas as pd

            # fixed-arity, annotation-free wrapper: PySpark 4 infers the
            # pandas eval type from the signature, and variadic/annotated
            # wrappers are rejected
            ns: dict[str, Any] = {"pd": pd, "fn": fn}
            params = ", ".join(f"s{i}" for i in range(len(cols)))
            exec(
                f"def _wrapped({params}):\n"
                f"    return pd.Series([fn(*vals) for vals in zip({params})])\n",
                ns,
            )
            pudf = F.pandas_udf(ns["_wrapped"], return_type)
        return pudf(*[F.col(c) for c in cols])

    # -- transformations (reference T1/T2) -------------------------------
    def filter(
        self,
        condition: "Column | str | Callable" = None,
        cols: Sequence[str] | None = None,
        *,
        name: str | None = None,
        return_type: str = "boolean",
        vectorized: bool = False,
    ) -> "Frame":
        """Row predicate. ``condition`` may be a Column expression, a SQL
        string (fast path, stays in codegen), or a Python callable over
        ``cols`` (compiled to an Arrow-batched pandas UDF — the slow path,
        mirroring the reference's lambda filters,
        /root/reference/TDataFrame.hxx:744-757).

        ``name`` registers the filter for ``report()`` (the reference's
        planned named-filter cutflow, /root/reference/TDFGuide.md:285-295):
        an observe() node counts rows passing this stage, evaluated for free
        by whatever action eventually runs — no extra pass."""
        if condition is None:
            raise ValueError(
                "filter() needs a condition (Column, SQL string, or "
                "callable); for an observe-only count use filter('true', "
                "name=...)"
            )
        if callable(condition) and not isinstance(condition, Column):
            use = self._resolve_cols(cols, condition)
            pred = self._vector_udf(condition, use, return_type, vectorized)
        elif isinstance(condition, str):
            pred = F.expr(condition)
        else:
            pred = condition
        filtered = self._df.filter(pred)
        obs = self._observations
        if name is not None:
            from pyspark.sql import Observation

            ob = Observation()
            filtered = filtered.observe(ob, F.count(F.lit(1)).alias("n"))
            obs = obs + ((name, ob),)
        return self._derive(filtered, observations=obs)

    def report(self) -> list[tuple[str, int]]:
        """Cutflow: rows passing each named upstream filter, in chain order.

        All counts come from the observe() nodes already embedded in the
        plan, so if ANY prior action already materialized the plan, report()
        is free — the Observations are probed optimistically (JVM
        ``getOrEmpty``) and a counting pass runs only when some are still
        unresolved (no action has run yet)."""
        if not self._observations:
            return []

        def resolved(ob) -> bool:
            try:
                return not ob._jo.getOrEmpty().isEmpty()
            except Exception:
                return False  # probe unavailable: fall back to the count

        if not all(resolved(ob) for _, ob in self._observations):
            # drive one pass with a DataFrame action so every observe node
            # reports (rdd-path actions like foreachPartition bypass the SQL
            # listener that resolves Observations)
            self._df.count()
        return [(nm, int(ob.get["n"])) for nm, ob in self._observations]

    def define(
        self,
        name: str,
        expr: "Column | str | Callable",
        cols: Sequence[str] | None = None,
        *,
        return_type: str = "double",
        vectorized: bool = False,
    ) -> "Frame":
        """Computed column (reference ``AddBranch``). Raises
        DuplicateColumnError if ``name`` exists — Spark's ``withColumn``
        silently replaces, the reference throws
        (/root/reference/TDataFrame.hxx:290-297); we keep the reference
        contract."""
        if name in self._df.columns:
            raise DuplicateColumnError(
                f"column {name!r} already exists (reference AddBranch semantics "
                "forbid redefinition; use a new name)"
            )
        if callable(expr) and not isinstance(expr, Column):
            use = self._resolve_cols(cols, expr)
            col = self._vector_udf(expr, use, return_type, vectorized)
        elif isinstance(expr, str):
            col = F.expr(expr)
        else:
            col = expr
        return self._derive(self._df.withColumn(name, col))

    # -- lazy scalar actions (A1-A4 + Sum) --------------------------------
    def _scalar(self, col: str | None, kind: str, empty: str = "null") -> Result:
        exprs, finish = scalar_agg_plan(self._df, col, kind, empty)
        cols = () if col is None else (col,)
        return self._engine.book_scalar(self._df, cols, exprs, finish)

    def count(self) -> Result:
        return self._scalar(None, "count")

    def min(self, col: str | None = None, empty: str = "null") -> Result:
        """``empty="sentinel"`` opts into reference empty-input semantics
        (+DBL_MAX instead of NULL) for ported code; see
        core/aggregates.py."""
        return self._scalar(self._one_default(col), "min", empty)

    def max(self, col: str | None = None, empty: str = "null") -> Result:
        return self._scalar(self._one_default(col), "max", empty)

    def mean(self, col: str | None = None, empty: str = "null") -> Result:
        return self._scalar(self._one_default(col), "mean", empty)

    def sum(self, col: str | None = None, empty: str = "null") -> Result:
        return self._scalar(self._one_default(col), "sum", empty)

    def _one_default(self, col: str | None) -> str:
        if col:
            return col
        if len(self._defaults) != 1:
            raise UnknownColumnError(
                "no column given and the frame does not have exactly one "
                f"default column (defaults={list(self._defaults)})"
            )
        return self._defaults[0]

    # -- histogram (A5) ---------------------------------------------------
    def histo(
        self,
        col: str | None = None,
        nbins: int = 128,
        lo: float = 0.0,
        hi: float = 0.0,
        edges: list[float] | None = None,
        flow: bool = False,
    ) -> Result:
        """Lazy 1-D histogram; resolves to a list of (bin, lo, hi, cnt).
        ``edges`` selects variable-bin mode (reference ``Histo(col, model)``
        with non-uniform TH1F edges) and overrides nbins/lo/hi. ``flow=True``
        (fixed range only) adds TH1F under/overflow rows as bin -1/nbins
        (/root/reference/TDataFrame.hxx:483-517 fills a TH1F whose Fill
        routes out-of-range values to the flow bins)."""
        from tdataframe_spark.core.histogram import (
            bin_rows,
            check_edges,
            histo_edges_rows,
            resolve_auto_range,
        )

        c = self._one_default(col)

        if flow and (edges is not None or not (hi > lo)):
            raise ValueError(
                "flow=True needs a fixed uniform range (auto-range covers "
                "every value; variable edges carry their own bounds)"
            )

        # every histogram here is ONE grouped count (<= one row per bin)
        # collected and zero-filled on the driver (histogram.py)
        if edges is not None:
            edges = check_edges(edges)

            def run_edges(df: DataFrame) -> list[tuple[int, float, float, int]]:
                return histo_edges_rows(df, c, edges)

            return self._engine.book_job(self._df, (c,), run_edges, full_scan=True)

        if hi > lo:  # fixed range: the bucketize pass is the only pass
            def run(df: DataFrame) -> list[tuple[int, float, float, int]]:
                return bin_rows(df, c, nbins, lo, hi, clamp_max=False, flow=flow)

            # a histogram consumes every frame row → it can carry piggybacked
            # observe() metrics for scalar actions booked on the same frame
            return self._engine.book_job(self._df, (c,), run, full_scan=True)

        # auto-range: book the min/max prepass as FUSABLE scalar actions so
        # it shares the frame's single agg()/observe pass with every other
        # booked scalar (count/mean/...); the bucketize job then reads the
        # published bounds (job counts per flush: core/proxy.py)
        res_min = self._scalar(c, "min")
        res_max = self._scalar(c, "max")

        def run_auto(df: DataFrame) -> list[tuple[int, float, float, int]]:
            # ready by construction: the engine publishes a frame's scalars
            # before running its jobs within one flush
            b_lo, b_hi = resolve_auto_range(res_min.get(), res_max.get())
            return bin_rows(df, c, nbins, b_lo, b_hi, clamp_max=True)

        # NOT full_scan: this job must never be the observe carrier — its
        # input range depends on the scalar pass having already run
        return self._engine.book_job(self._df, (c,), run_auto, full_scan=False)

    def histo_frame(
        self,
        col: str | None = None,
        nbins: int = 128,
        lo: float = 0.0,
        hi: float = 0.0,
        edges: list[float] | None = None,
        flow: bool = False,
    ) -> DataFrame:
        """Eager-planned histogram bin table as a DataFrame (for pipelines /
        oracle queries)."""
        if flow and edges is not None:
            # keep the two public histogram entry points in agreement:
            # Frame.histo raises for this combination too
            raise ValueError(
                "flow=True needs a fixed uniform range (variable edges "
                "carry their own bounds)"
            )
        if edges is not None:
            from tdataframe_spark.core.histogram import histo_edges_frame

            return histo_edges_frame(self._df, self._one_default(col), edges)
        return histo_frame(
            self._df, self._one_default(col), nbins, lo, hi, flow=flow
        )

    def histo2d(
        self,
        xcol: str,
        ycol: str,
        nx: int = 64,
        xlo: float = 0.0,
        xhi: float = 1.0,
        ny: int = 64,
        ylo: float = 0.0,
        yhi: float = 1.0,
    ) -> Result:
        """Lazy fixed-range 2-D histogram; resolves to a list of
        (xbin, ybin, x_lo, x_hi, y_lo, y_hi, cnt) rows — the Histo2D the
        reference's 1-D-only surface grew in its successor API. Same
        bucketize + ≤nx·ny-key hash-aggregate shape as ``histo``; a
        full-scan action, so it can carry piggybacked observe() metrics
        like the 1-D fixed path."""
        from tdataframe_spark.core.histogram import histo2d_rows

        def run(df: DataFrame) -> list[tuple]:
            return histo2d_rows(df, xcol, ycol, nx, xlo, xhi, ny, ylo, yhi)

        return self._engine.book_job(self._df, (xcol, ycol), run, full_scan=True)

    # -- take (A6) --------------------------------------------------------
    def take(self, col: str | None = None, limit: int | None = None) -> Result:
        """Collect one column's (post-filter) values driver-side. At scale
        prefer ``snapshot`` or ``take_iter``; ``limit`` caps driver memory
        (the reference's Take is unbounded driver-local by design,
        /root/reference/TDataFrame.hxx:869-884)."""
        c = self._one_default(col)

        def run(df: DataFrame) -> list[Any]:
            d = df.select(c)
            if limit is not None:
                d = d.limit(limit)
            return [r[0] for r in d.collect()]

        # an unbounded take consumes every row (can carry observe metrics);
        # a limited take short-circuits, so it must not
        return self._engine.book_job(self._df, (c,), run, full_scan=limit is None)

    def take_iter(self, col: str | None = None, prefetch: bool = False):
        """Streaming Take for results too big to hold driver-side at once:
        yields one value at a time via ``toLocalIterator``, holding at most
        one partition in driver memory (SURVEY.md §2.1 A6's scale path).

        Instant action (flushes pending lazy results first, like foreach):
        the iterator owns the job, so it can't be fused. ``prefetch``
        pipelines the next partition's fetch behind consumption."""
        c = self._one_default(col)
        self._engine.flush()
        for row in self._df.select(c).toLocalIterator(prefetchPartitions=prefetch):
            yield row[0]

    # -- head / tail / entry ranges (planned in reference:
    # TDFGuide.md:378-384 Head/Tail pretty-printers, entry Ranges) --------
    def head(self, n: int = 5) -> list:
        """First ``n`` rows in scan order (instant action). The reference
        planned Head as a pretty-printer; here it returns Rows — print-
        friendly and testable. Scan-order determinism matches the
        reference's entry order for a single-file dataset."""
        self._engine.flush()
        return self._df.take(n)

    def tail(self, n: int = 5) -> list:
        """Last ``n`` rows in scan order (instant action) — Spark computes
        this from the trailing partitions without a full collect."""
        self._engine.flush()
        return self._df.tail(n)

    def entry_range(
        self,
        begin: int,
        end: int,
        order_by: Sequence[str] | None = None,
    ) -> "Frame":
        """Entries [begin, end) — the reference's planned Range restriction.

        With ``order_by``, rows are numbered by a window over those columns
        — deterministic on any cluster, at the cost of one global sort
        shuffle (row_number over an unpartitioned window; use only when a
        true global slice is needed, it funnels through one task at the
        numbering step — for dataset-scale numbering use
        ``operators.windows.global_row_number``, the range-partitioned
        shape that never single-tasks). Without it, Spark's offset/limit
        follow scan order — deterministic for a stable file layout, like
        the reference's TTree entry order, and shuffle-free."""
        if begin < 0 or end < begin:
            raise ValueError(f"need 0 <= begin <= end, got [{begin}, {end})")
        if order_by:
            from pyspark.sql import Window

            w = Window.orderBy(*[F.col(c) for c in order_by])
            df = (
                self._df.withColumn("__entry", F.row_number().over(w))
                .filter(
                    (F.col("__entry") > begin) & (F.col("__entry") <= end)
                )
                .drop("__entry")
            )
        else:
            df = self._df.offset(begin).limit(end - begin)
        return self._derive(df)

    # -- instant UDF sinks (A7/A8) ---------------------------------------
    def foreach(self, fn: Callable, cols: Sequence[str] | None = None) -> None:
        """Run ``fn(*col_values)`` per passing row, NOW. Flushes all pending
        lazy actions first (reference instant-action contract, §3.2)."""
        use = self._resolve_cols(cols, fn)
        self._engine.flush()

        def run_partition(rows: Iterable) -> None:
            for row in rows:
                fn(*[row[c] for c in use])

        self._df.select(*use).foreachPartition(run_partition)

    def foreach_slot(self, fn: Callable, cols: Sequence[str] | None = None) -> None:
        """Like ``foreach`` but ``fn(slot, *col_values)`` where ``slot`` is
        the partition id — the Spark analogue of the reference's slot index
        (/root/reference/TDataFrame.hxx:830-839)."""
        use = self._resolve_cols(cols, fn, extra=1)
        self._engine.flush()

        def run_partition(rows: Iterable) -> None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            slot = ctx.partitionId() if ctx is not None else 0
            for row in rows:
                fn(slot, *[row[c] for c in use])

        self._df.select(*use).foreachPartition(run_partition)

    # -- generic folds (planned in reference: TDFGuide.md:379-380
    # Reduce/Accumulate — the last commented-out TODO of the prototype) --
    def reduce(self, fn: Callable, col: str | None = None) -> Any:
        """Fold ``fn`` (an ASSOCIATIVE binary callable) over one column's
        post-filter values; returns the folded value, or None on an empty
        frame. Instant action — flushes pending lazy results first, like
        ``foreach`` (the reference's instant-action contract).

        Distributed shape: one ``mapPartitions`` pass folds each
        partition locally (the honest per-partition-imperative case RDDs
        exist for), then the O(#partitions) partials merge driver-side
        in ASCENDING PARTITION ORDER — for a stable file layout that is
        scan order, so a non-commutative-but-associative ``fn`` (string
        concatenation, matrix multiply) folds exactly as a sequential
        pass would. Commutativity is never required; associativity is
        (same contract as ROOT's planned ``Reduce``)."""
        folded = self._reduce_impl(fn, col)
        return None if folded is _NO_VALUE else folded

    def _reduce_impl(self, fn: Callable, col: str | None) -> Any:
        """reduce's engine; returns the ``_NO_VALUE`` sentinel on an
        empty frame so ``accumulate`` can distinguish emptiness from a
        fold that legitimately produced None."""
        c = self._one_default(col)
        if not callable(fn):
            raise TypeError(f"reduce needs a binary callable, got {fn!r}")
        ar = _fn_arity(fn)
        if ar is not None and not (ar[0] <= 2 <= ar[1]):
            raise ArityError(
                f"reduce fn must accept 2 positional args, takes {ar[1]}"
            )
        self._engine.flush()

        def part(idx: int, rows: Iterable):
            acc = _NO_VALUE
            for row in rows:
                v = row[0]
                acc = v if acc is _NO_VALUE else fn(acc, v)
            if acc is not _NO_VALUE:
                yield idx, acc

        partials = self._df.select(c).rdd.mapPartitionsWithIndex(
            part, preservesPartitioning=True
        ).collect()
        acc = _NO_VALUE
        for _, p in sorted(partials, key=lambda t: t[0]):
            acc = p if acc is _NO_VALUE else fn(acc, p)
        return acc

    def accumulate(
        self, fn: Callable, init: Any, col: str | None = None
    ) -> Any:
        """``reduce`` with a seed: fold ``fn`` over the column starting
        from ``init`` (returned unchanged ONLY on an empty frame — a
        fold legitimately producing None still gets the seed applied).
        Exact sequential-fold semantics for an associative ``fn``: the
        seed is applied ONCE, driver-side, as the leftmost operand —
        ``fn(init, reduce(values))`` — never re-applied per partition
        (a non-identity seed must not be counted #partitions times)."""
        folded = self._reduce_impl(fn, col)
        return init if folded is _NO_VALUE else fn(init, folded)

    # -- sink (planned in reference: Snapshot) ----------------------------
    def snapshot(
        self,
        path: str,
        cols: Sequence[str] | None = None,
        mode: str = "overwrite",
        partition_by: Sequence[str] | None = None,
        sort_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        hilbert_by: Sequence[str] | None = None,
        n_files: int = 16,
    ) -> "Frame":
        """Write the (post-filter/define) frame to Parquet and return a new
        frame reading it back — the scalable replacement for Take.

        Layout options (mutually exclusive; see ``sources/layout.py`` for
        why they matter at scale): ``sort_by`` range-partitions + sorts so
        per-file min/max are near-disjoint on the sort column (row-group
        skipping); ``zorder_by`` interleaves quantile-bucket bits of
        several columns so filters on ANY of them skip; ``hilbert_by``
        does the same through the Hilbert curve (tighter average per-file
        bounding boxes — no Morton seams)."""
        if sum(map(bool, (sort_by, zorder_by, hilbert_by))) > 1:
            raise ValueError(
                "sort_by, zorder_by and hilbert_by are mutually exclusive"
            )
        d = self._df.select(*cols) if cols else self._df
        if sort_by:
            from tdataframe_spark.sources.layout import write_sorted

            write_sorted(d, path, list(sort_by), n_files, mode)
        elif zorder_by:
            from tdataframe_spark.sources.layout import write_zordered

            write_zordered(d, path, list(zorder_by), n_files, mode=mode)
        elif hilbert_by:
            from tdataframe_spark.sources.layout import write_hilbert

            write_hilbert(d, path, list(hilbert_by), n_files, mode=mode)
        else:
            w = d.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
        return Frame(
            self._df.sparkSession.read.parquet(path),
            self._engine,
            # defaults describe the data, which survives the round-trip;
            # observations belong to the WRITTEN plan and do not
            self._defaults if not cols else (),
        )

    # -- relational surface (absent in reference; SURVEY.md §2.2) ---------
    def select(self, *cols: "Column | str") -> "Frame":
        return self._derive(self._df.select(*cols))

    _JOIN_STRATEGIES = {"broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl"}

    def join(
        self,
        other: "Frame | DataFrame",
        on: "str | list[str] | Column",
        how: str = "inner",
        *,
        broadcast: bool = False,
        strategy: str | None = None,
    ) -> "Frame":
        """Join; ``strategy`` pins the physical join algorithm via a plan
        hint on the right side — ``broadcast`` (map-side, no shuffle of the
        left), ``merge`` (sort-merge: stable for huge ~equal sides),
        ``shuffle_hash`` (hash instead of sort — faster when one side fits
        a partition's memory and sorting is the cost). Catalyst/AQE picks
        well on statistics it has; the hint is for what it can't see
        (e.g. a filter that will collapse the right side at runtime)."""
        right = other.df if isinstance(other, Frame) else other
        if broadcast and strategy is None:
            strategy = "broadcast"
        if strategy is not None:
            if strategy not in self._JOIN_STRATEGIES:
                raise ValueError(
                    f"unknown join strategy {strategy!r}; "
                    f"choose from {sorted(self._JOIN_STRATEGIES)}"
                )
            right = (
                F.broadcast(right)
                if strategy == "broadcast"
                else right.hint(strategy)
            )
        return self._derive(self._df.join(right, on, how))

    def group_by(self, *cols: "Column | str") -> "GroupedFrame":
        return GroupedFrame(self, self._df.groupBy(*cols))

    def rollup(self, *cols: "Column | str") -> "GroupedFrame":
        return GroupedFrame(self, self._df.rollup(*cols))

    def cube(self, *cols: "Column | str") -> "GroupedFrame":
        return GroupedFrame(self, self._df.cube(*cols))

    def order_by(self, *cols: "Column | str") -> "Frame":
        return self._derive(self._df.orderBy(*cols))

    def limit(self, n: int) -> "Frame":
        return self._derive(self._df.limit(n))

    def top_k(self, k: int, by: "Column | str", ascending: bool = False) -> "Frame":
        """Top-k — Spark plans TakeOrderedAndProject (no full sort at scale)."""
        c = F.col(by) if isinstance(by, str) else by
        return self._derive(self._df.orderBy(c.asc() if ascending else c.desc()).limit(k))

    def distinct(self) -> "Frame":
        return self._derive(self._df.distinct())

    def drop_duplicates(self, subset: Sequence[str] | None = None) -> "Frame":
        return self._derive(self._df.dropDuplicates(subset))

    def union(self, other: "Frame | DataFrame") -> "Frame":
        right = other.df if isinstance(other, Frame) else other
        return self._derive(self._df.unionByName(right))

    def intersect(self, other: "Frame | DataFrame") -> "Frame":
        right = other.df if isinstance(other, Frame) else other
        return self._derive(self._df.intersect(right))

    def intersect_all(self, other: "Frame | DataFrame") -> "Frame":
        """Multiset intersection (keeps duplicate multiplicity: per key,
        min(count_left, count_right) copies) — SQL INTERSECT ALL."""
        right = other.df if isinstance(other, Frame) else other
        return self._derive(self._df.intersectAll(right))

    def upsert(
        self,
        updates: "Frame | DataFrame",
        on: Sequence[str],
        check_duplicates: bool = True,
    ) -> "Frame":
        """CDC-style merge: rows from ``updates`` replace rows with the same
        key; new keys append (SQL MERGE's update+insert arms). Planned as
        anti-join + union — ONE shuffle on the key, no per-column coalesce
        over a full outer join, and the anti side broadcasts when updates
        are small. Schemas must match by name.

        Two update rows sharing a key raise at execution (SQL MERGE's
        "multiple source rows matched" error — both appending silently
        was the pre-r10 behavior). The guard rides the UPDATES side of
        the plan (a per-key window count feeding ``raise_error``), so it
        fires whenever any update row is produced — including against
        an empty target, where an anti-join-side guard would be
        optimized away with the join by empty-relation propagation.
        Cost: the updates side shuffles whole rows by key instead of a
        keys-only distinct (updates are the small delta by
        construction). ``check_duplicates=False`` restores the blind
        zero-overhead append-both path for callers that WANT multiset
        updates."""
        from pyspark.sql import Window

        right = updates.df if isinstance(updates, Frame) else updates
        if check_duplicates:
            first = on[0]
            err = F.raise_error(
                F.concat(
                    F.lit("upsert: multiple update rows share key ("),
                    F.concat_ws(
                        ",", *[F.col(k).cast("string") for k in on]
                    ),
                    F.lit(
                        ") — SQL MERGE raises on multiple matches; "
                        "deduplicate updates first or pass "
                        "check_duplicates=False"
                    ),
                )
            )
            w = Window.partitionBy(*on)
            right = (
                right.withColumn("__upsert_n", F.count(F.lit(1)).over(w))
                .withColumn(
                    first,
                    F.when(F.col("__upsert_n") > 1, err).otherwise(
                        F.col(first)
                    ),
                )
                .drop("__upsert_n")
            )
        keys = right.select(*on).distinct()
        kept = self._df.join(keys, list(on), "left_anti")
        return self._derive(kept.unionByName(right))

    def except_all(self, other: "Frame | DataFrame") -> "Frame":
        right = other.df if isinstance(other, Frame) else other
        return self._derive(self._df.exceptAll(right))

    def drop(self, *cols: str) -> "Frame":
        return self._derive(self._df.drop(*cols))

    def rename(self, mapping: dict[str, str]) -> "Frame":
        return self._derive(self._df.withColumnsRenamed(mapping))

    def fill_na(self, value, subset: Sequence[str] | None = None) -> "Frame":
        return self._derive(self._df.fillna(value, subset=subset))

    def drop_na(self, subset: Sequence[str] | None = None, how: str = "any") -> "Frame":
        return self._derive(self._df.dropna(how=how, subset=subset))

    def sample(self, fraction: float, seed: int = 0) -> "Frame":
        """Deterministic-seeded row sample (corpus subsampling)."""
        return self._derive(self._df.sample(fraction=fraction, seed=seed))

    def repartition(self, num: int, *cols: "Column | str") -> "Frame":
        return self._derive(self._df.repartition(num, *cols) if cols else self._df.repartition(num))

    def cache(self) -> "Frame":
        """Persist across multiple downstream jobs (the cross-job analogue
        of the reference's per-entry memoization, SURVEY.md §2.1 X2)."""
        self._df.persist()
        return self

    def unpersist(self) -> "Frame":
        self._df.unpersist()
        return self

    def approx_count_distinct(self, col: str, rsd: float = 0.05) -> Result:
        """HyperLogLog distinct-count estimate (scale path where exact
        count-distinct would shuffle every value)."""
        exprs = {"v": F.approx_count_distinct(col, rsd=rsd)}
        return self._engine.book_scalar(
            self._df, (col,), exprs, lambda r: int(r["v"])
        )

    def with_defaults(self, *cols: str) -> "Frame":
        """Return a frame with a new default-column list (reference ctor's
        default branch list). Named-filter observations carry over."""
        for c in cols:
            if c not in self._df.columns:
                raise UnknownColumnError(f"unknown column {c!r}")
        return Frame(self._df, self._engine, cols, self._observations)

    def explain(self, mode: str = "formatted") -> str:
        """Return the physical plan as a string (``formatted``/``simple``/
        ``extended``/``cost``/``codegen``) — the plan-inspection surface the
        100 TB design rules are checked against (``plans/inspect`` holds the
        structured predicates the tests use)."""
        from tdataframe_spark.plans.inspect import explain_str

        return explain_str(self._df, mode)


class GroupedFrame:
    """Thin wrapper over Spark's GroupedData returning Frames."""

    def __init__(self, parent: Frame, grouped) -> None:
        self._parent = parent
        self._grouped = grouped

    def agg(self, *exprs: Column, **named: Column) -> Frame:
        cols = list(exprs) + [e.alias(n) for n, e in named.items()]
        return self._parent._derive(self._grouped.agg(*cols))

    def count(self) -> Frame:
        return self._parent._derive(
            self._grouped.agg(F.count(F.lit(1)).alias("cnt"))
        )

    def apply_in_pandas(self, fn: Callable, schema: str) -> Frame:
        return self._parent._derive(self._grouped.applyInPandas(fn, schema))
