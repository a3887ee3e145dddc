"""Lazy action results and the single-pass multi-action scheduler.

Reference parity (SURVEY.md §2.1 X1, §3.1-3.3):
- ``TActionResultProxy`` /root/reference/TDataFrame.hxx:170-236 — a lazy
  handle whose first dereference triggers ONE event loop producing ALL booked
  results; later-booked actions trigger a fresh loop that does not re-run old
  ones (/root/reference/tests/regression_multipletriggerrun.cxx:25-34).
- ``TDataFrameImpl::Run`` /root/reference/TDataFrame.hxx:1362-1421 executes
  every booked action per entry, then clears bookings and flips readiness.

Spark re-expression: booked whole-frame scalar aggregates on the same frame
are fused into ONE ``df.agg(...)`` job (Spark's partial+final hash aggregate
is the per-slot-partials + merge of the reference's kernels), or ride a
full-scan job's ``observe()`` when the frame has one. Non-fusable actions
(histograms, takes) run as their own jobs.

Every booking names the columns it reads (``cols``). When a flush needs
more than one pass over a frame, the engine persists the projection
``df.select(<booked columns, in frame order>)`` for the duration of the
flush, so the shared upstream filter/define prefix is evaluated once and
only what the bookings read is stored — the Spark analogue of the
reference's per-entry memoization across a forked graph
(/root/reference/TDataFrame.hxx:1293-1306, :1220-1229). Columns no booking
reads are never computed by such a flush; there is no whole-frame persist.

Job counts per flush, counted by job group on ``local[4]`` with AQE on
(the session default; ``tests/test_frame_core.py`` pins them):
- count + mean + fixed-range histo (one pass: the scalars ride the
  histogram's ``observe()``): 2 jobs — the grouped count's shuffle-map
  stage and its result stage, each a job under AQE.
- the same + an auto-range histo (two passes over the persisted
  projection): 5 jobs — 2 per grouped count (the fixed one carries
  count/mean/min/max), plus 1 that builds the cache. Under AQE a cached
  relation is materialized as its own query stage, hence its own job:
  a grouped count over a persisted frame runs 3 jobs while the cache is
  cold and 2 once it is built (with AQE off, 1 and 1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.storagelevel import StorageLevel

from tdataframe_spark.core.errors import UnknownColumnError


class Result:
    """Lazy result handle. ``get()`` triggers the engine's flush-all.

    Mirrors ``TActionResultProxy::Get`` (/root/reference/TDataFrame.hxx:201-205):
    first access runs all booked actions; re-access returns the cached value
    without re-running anything.
    """

    __slots__ = ("_engine", "_ready", "_value", "_error")

    def __init__(self, engine: "Engine") -> None:
        self._engine = engine
        self._ready = False
        self._value: Any = None
        self._error: BaseException | None = None

    @property
    def ready(self) -> bool:
        return self._ready

    def _publish(self, value: Any) -> None:
        self._value = value
        self._ready = True

    def get(self) -> Any:
        if not self._ready and self._error is None:
            self._engine.flush()
        if self._error is not None:
            # a sibling action's failure voided this flush — surface it
            # instead of silently returning None (reference: a failing
            # event loop aborts every booked result)
            raise self._error
        return self._value

    # convenience dunders so proxies feel like the value (reference deref `*r`)
    def __float__(self) -> float:
        return float(self.get())

    def __int__(self) -> int:
        return int(self.get())

    def __iter__(self):
        return iter(self.get())

    def __repr__(self) -> str:
        return f"Result(ready={self._ready}, value={self._value if self._ready else '<pending>'})"


@dataclass
class _ScalarAction:
    """A fusable whole-frame aggregate: named expressions + a finisher."""

    df: DataFrame
    cols: tuple[str, ...]
    exprs: dict[str, Column]
    finish: Callable[[dict[str, Any]], Any]
    result: Result = field(repr=False, default=None)  # type: ignore[assignment]


@dataclass
class _JobAction:
    """A non-fusable action executed as its own Spark job.

    ``full_scan=True`` promises the job consumes every row of ``df`` exactly
    once (e.g. a histogram); such jobs can carry piggybacked ``observe()``
    metrics for the scalar actions booked on the same frame — N results,
    literally one scan, the reference's X1 contract
    (/root/reference/TDataFrame.hxx:1391-1393).
    """

    df: DataFrame
    cols: tuple[str, ...]
    run: Callable[[DataFrame], Any]
    full_scan: bool = False
    result: Result = field(repr=False, default=None)  # type: ignore[assignment]


def _known(df: DataFrame, cols: Sequence[str]) -> tuple[str, ...]:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise UnknownColumnError(
            f"unknown column(s) {missing}; available: {df.columns}"
        )
    return tuple(cols)


class Engine:
    """Books lazy actions and flushes them all in a minimal number of jobs."""

    def __init__(self) -> None:
        self._scalars: list[_ScalarAction] = []
        self._jobs: list[_JobAction] = []

    # -- booking ---------------------------------------------------------
    # ``cols``: the columns of ``df`` the action reads, and the only ones a
    # multi-pass flush persists for it (``()`` for a bare row count)
    def book_scalar(
        self,
        df: DataFrame,
        cols: Sequence[str],
        exprs: dict[str, Column],
        finish: Callable[[dict[str, Any]], Any],
    ) -> Result:
        res = Result(self)
        self._scalars.append(_ScalarAction(df, _known(df, cols), exprs, finish, res))
        return res

    def book_job(
        self,
        df: DataFrame,
        cols: Sequence[str],
        run: Callable[[DataFrame], Any],
        full_scan: bool = False,
    ) -> Result:
        res = Result(self)
        self._jobs.append(_JobAction(df, _known(df, cols), run, full_scan, res))
        return res

    @property
    def n_pending(self) -> int:
        return len(self._scalars) + len(self._jobs)

    # -- execution -------------------------------------------------------
    def flush(self) -> None:
        """Run every booked action; fuse scalar aggregates per frame.

        Booked actions are cleared before publishing (matching
        ``fBookedActions.clear()`` /root/reference/TDataFrame.hxx:1416), so a
        later ``get()`` on a new action never re-runs these.
        """
        scalars, self._scalars = self._scalars, []
        jobs, self._jobs = self._jobs, []
        if not scalars and not jobs:
            return
        popped = [a.result for a in (*scalars, *jobs)]

        # group by the underlying DataFrame object so one agg() serves all
        # scalar actions booked on the same (filtered/defined) frame
        by_frame: dict[int, dict[str, Any]] = {}
        for s in scalars:
            g = by_frame.setdefault(id(s.df), {"df": s.df, "scalars": [], "jobs": []})
            g["scalars"].append(s)
        for j in jobs:
            g = by_frame.setdefault(id(j.df), {"df": j.df, "scalars": [], "jobs": []})
            g["jobs"].append(j)

        try:
            self._run_groups(by_frame)
        except BaseException as e:
            # one action's failure aborts the flush; every still-pending
            # sibling must ERROR on .get(), never silently return None
            for r in popped:
                if not r._ready and r._error is None:
                    r._error = e
            raise

    def _run_groups(self, by_frame: dict[int, dict[str, Any]]) -> None:
        for g in by_frame.values():
            df: DataFrame = g["df"]
            scalars: list[_ScalarAction] = g["scalars"]
            jobs: list[_JobAction] = g["jobs"]

            aliased: list[Column] = []
            slots: list[tuple[_ScalarAction, list[str]]] = []
            for i, s in enumerate(scalars):
                names = []
                for key, expr in s.exprs.items():
                    alias = f"__a{i}_{key}"
                    aliased.append(expr.alias(alias))
                    names.append((key, alias))
                slots.append((s, names))

            def publish_scalars(row: dict) -> None:
                for s, names in slots:
                    s.result._publish(s.finish({k: row[a] for k, a in names}))

            # piggyback scalar aggregates on a full-scan job via observe():
            # N results from literally one pass over the data (reference X1)
            carrier = next((j for j in jobs if j.full_scan), None) if scalars else None

            n_passes = (1 if scalars and carrier is None else 0) + len(jobs)
            persisted = n_passes > 1
            if persisted:
                read = {c for a in (*scalars, *jobs) for c in a.cols}
                df = df.select(*[c for c in df.columns if c in read])
                df.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                if carrier is not None:
                    from pyspark.sql import Observation

                    obs = Observation()
                    carrier.result._publish(carrier.run(df.observe(obs, *aliased)))
                    publish_scalars(obs.get)
                elif scalars:
                    publish_scalars(df.agg(*aliased).first().asDict())
                for j in jobs:
                    if j is not carrier:
                        j.result._publish(j.run(df))
            finally:
                if persisted:
                    df.unpersist()
