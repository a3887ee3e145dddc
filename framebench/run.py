"""Benchmark driver: one workload, one seed, one run.

    python3 framebench/run.py --workload cutflow_scan --seed 1 --seconds 8 --trace 0

Run it from the repository root (the Python workers of the Arrow-path
queries import ``tdataframe_spark`` from the working directory).  The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with no
tracing at all; with ``--trace 1`` they are the per-layer ones, taken
from spans around every call into the package and the Spark event log.
The line before the result, prefixed ``conditions:``, records the run's
conditions and the per-workload breakdown; they are not metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [HERE, ROOT]
# local[N], N at most nproc
CPUS = min(4, os.cpu_count() or 4)

import layers as tr  # noqa: E402
from layers import ProcessMeter, Tracer, host_cpu  # noqa: E402

E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
}


def per_layer_names() -> dict[str, str]:
    from workloads import COMMITS, QUERIES, READS

    names = {
        "session.start_s": "s",
        "session.cold_pass_s": "s",
        "session.peak_rss_mb": "MB",
        "core.declare_s": "s",
        "core.flush_s": "s",
        "core.report_s": "s",
        "core.flush_jobs": "count",
        "core.flush_stages": "count",
        "core.flush_tasks": "count",
        "core.persist_bytes": "B",
        "sources.parquet.input_bytes": "B",
    }
    for q in QUERIES:
        names[f"queries.{q}.declare_s"] = "s"
        names[f"queries.{q}.run_s"] = "s"
        names[f"queries.{q}.jobs"] = "count"
    names["ops.python_stage_s"] = "s"
    names["ops.python_stages"] = "count"
    for k in COMMITS + READS:
        names[f"sources.txn.{k}_s"] = "s"
    names.update(
        {
            "sources.txn.commit_jobs": "count",
            "sources.txn.files_added": "count",
            "sources.txn.files_removed": "count",
            "sources.txn.data_bytes": "B",
            "sources.txn.log_bytes": "B",
            "sources.txn.dv_bytes": "B",
            "sources.txn.read_input_bytes": "B",
            "sources.txn_stream.replay_s": "s",
            "sources.txn_stream.sink_s": "s",
            "sources.txn_stream.batches": "count",
            "sources.txn_stream.rows": "count",
            "spark.jobs": "count",
            "spark.stages": "count",
            "spark.tasks": "count",
            "spark.task_s": "s",
            "spark.gc_s": "s",
            "spark.shuffle_write_bytes": "B",
            "spark.input_bytes": "B",
            "spark.driver_gap_s": "s",
            "trace.bench_self_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return names


def fail(msg: str) -> None:
    print(f"framebench: {msg}", file=sys.stderr)
    sys.exit(2)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (
        os.path.isdir(os.path.join(ROOT, "tdataframe_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        fail(f"no tdataframe_spark package next to {HERE}; run from a checkout")
    if os.path.abspath(os.getcwd()) != ROOT:
        fail(f"run from the repository root {ROOT}")
    from workloads import CutflowScan, QueryLakehouse

    classes = {w.name: w for w in (CutflowScan, QueryLakehouse)}
    if a.workload not in classes:
        fail(f"unknown workload {a.workload!r}; one of {sorted(classes)}")
    cls = classes[a.workload]

    # inputs: generated apart, before the clock, reused per seed
    inputs = os.path.join(WORK, "inputs", a.workload, str(a.seed))
    for old in glob.glob(os.path.join(WORK, "inputs", a.workload, "*")):
        if old != inputs:  # keep one seed per workload on disk
            shutil.rmtree(old, ignore_errors=True)
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
         "--seed", str(a.seed), "--out", inputs],
        check=True,
    )
    gen_s = time.perf_counter() - t0
    host_start = host_cpu()

    # every temporary, warehouse, checkpoint and event-log file of the run
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = None
    eventlog = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
        # get_spark's code-cache flags, plus every JVM scratch file in the
        # run directory (-UsePerfData: no /tmp/hsperfdata file)
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if a.trace:
        os.makedirs(eventlog, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )

    meter = ProcessMeter()
    load_start = os.getloadavg()
    t_sess = time.perf_counter()
    from tdataframe_spark.session import get_spark

    spark = get_spark("framebench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_sess
    tracer = Tracer(spark.sparkContext)
    wl = cls(spark, inputs, tmp, tracer, a.seed)

    attempted = failed = 0
    samples: dict[str, list[float]] = {}
    pass_walls = {True: [], False: []}
    pass_cpu: list[float] = []
    pass_steal: list[float] = []
    errors: list[str] = []

    def one_pass(i: int, timed: bool, traced: bool):
        nonlocal attempted, failed
        tracer.enabled = traced
        c0, w0, h0 = meter.cpu(), time.perf_counter(), host_cpu()
        root = len(tracer.spans)
        try:
            ops = wl.run_pass(i)
        except Exception:
            # a pass aborts at its first failing operation; every kind runs
            # once per pass, so a timed pass counts len(kinds) attempts
            print(traceback.format_exc(limit=4), file=sys.stderr)
            if timed:
                attempted += len(wl.kinds)
                failed += 1
            tracer.enabled = False
            return None
        wall, cpu, h1 = time.perf_counter() - w0, meter.cpu() - c0, host_cpu()
        tracer.enabled = False
        for op in ops:
            if op.error:
                print(f"framebench: failed {op.error.splitlines()[0][:300]}", file=sys.stderr)
        if timed:
            attempted += len(ops)
            failed += sum(1 for op in ops if op.error)
            pass_walls[traced].append(wall)
            steal = _share(h0, h1)
            pass_steal.append(steal)
            if not traced:
                pass_cpu.append(cpu)
                for op in ops:
                    if op.error:
                        continue
                    # net of the share of CPU time the hypervisor stole
                    # from this host during the pass (see README)
                    samples.setdefault(op.kind, []).append(op.wall * (1 - steal))
                    for part, v in op.parts.items():
                        samples.setdefault(f"{op.kind}.{part}", []).append(v * (1 - steal))
        if traced:
            wl_spans.append((root, len(tracer.spans), wl.layer_extras()))
        return ops

    wl_spans: list = []

    try:
        with tracer.span("session", "register"):
            wl.register()
        t_cold = time.perf_counter()
        cold_ops = one_pass(0, timed=False, traced=False) or []
        cold_pass_s = time.perf_counter() - t_cold
        setup_wall_s = time.perf_counter() - T_START - gen_s
        setup_steal = _share(host_start, host_cpu())
        for w in range(wl.warmup_passes):
            one_pass(1 + w, timed=False, traced=False)

        steal0, tot0 = host_cpu()
        t_win = time.perf_counter()
        i = 1 + wl.warmup_passes
        while True:
            traced = bool(a.trace) and (i % 2 == 0)
            one_pass(i, timed=True, traced=traced)
            i += 1
            enough = (
                time.perf_counter() - t_win >= a.seconds
                and len(pass_walls[False]) >= wl.min_passes
            )
            if a.trace:
                enough = enough and all(len(v) for v in pass_walls.values())
            if enough:
                break
        window_s = time.perf_counter() - t_win
        steal1, tot1 = host_cpu()
        meter.cpu()
        t_check = time.perf_counter()
        errors.extend(wl.check())
        check_s = time.perf_counter() - t_check
    finally:
        # stop Spark and wait for the JVM and every Python worker
        t_stop = time.perf_counter()
        kids = meter.pids()
        peak_rss_mb = meter.peak_rss_mb()
        _stop(spark)
        _wait_gone(kids)
        stop_s = time.perf_counter() - t_stop

    # keep the event log and spans of a traced run; drop the rest
    shutil.rmtree(tmp, ignore_errors=True)
    correct = not errors
    for e in errors[:20]:
        print(f"framebench: {e}", file=sys.stderr)

    kinds_median = {k: statistics.median(samples[k]) for k in wl.kinds if k in samples}
    breakdown = {
        name: sum(kinds_median[k] for k in ks if k in kinds_median)
        for name, ks in wl.groups.items()
    }
    breakdown.update(wl.details(samples) if samples else {})
    conditions = {
        "workload": a.workload,
        "seed": a.seed,
        "nproc": os.cpu_count(),
        "master": f"local[{CPUS}]",
        "load_avg_start": load_start,
        "load_avg_end": os.getloadavg(),
        "steal_share": _share((steal0, tot0), (steal1, tot1)),
        "setup_steal_share": setup_steal,
        "setup_wall_s": setup_wall_s,
        "pass_steal_shares": pass_steal,
        "pass_walls_s": pass_walls[False],
        "pass_cpus_s": pass_cpu,
        "warmup_passes": wl.warmup_passes,
        "timed_passes": len(pass_walls[False]),
        "traced_passes": len(pass_walls[True]),
        "window_s": window_s,
        "input_gen_s": gen_s,
        "check_s": check_s,
        "stop_s": stop_s,
        "peak_rss_mb": peak_rss_mb,
        "session_start_s": session_start_s,
        "cold_pass_s": cold_pass_s,
        "cold_ops": {op.kind: round(op.wall, 3) for op in cold_ops},
        "breakdown": breakdown,
        # too few samples in a run for a percentile (see README)
        "timings": {
            k: {"median": statistics.median(v), "n": len(v)} for k, v in sorted(samples.items())
        },
    }
    print("conditions: " + json.dumps(conditions, sort_keys=True))

    if a.trace:
        values = layer_metrics(
            tracer, eventlog, wl_spans, session_start_s, cold_pass_s, pass_walls
        )
        values["session.peak_rss_mb"] = peak_rss_mb
        names = per_layer_names()
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
    else:
        names = E2E
        values = {
            "setup_s": setup_wall_s * (1 - setup_steal),
            "pass_s": sum(kinds_median.values()),
            "pass_cpu_s": statistics.median(pass_cpu),
        }
    metrics = {n: {"value": values.get(n, 0), "unit": u} for n, u in names.items()}
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def _share(h0: tuple[int, int], h1: tuple[int, int]) -> float:
    """Share of the host's busy CPU time stolen by the hypervisor between
    two ``host_cpu`` readings."""
    return (h1[0] - h0[0]) / max(1, h1[1] - h0[1])


def _stop(spark) -> None:
    """Stop Spark, then the JVM behind the Py4J gateway (it exits when its
    stdin closes), and reap it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    """Wait until every process of the run's tree has exited."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and _not_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def layer_metrics(tracer, eventlog, passes, start_s, cold_s, walls) -> dict:
    """Per-layer figures from the traced passes: span self times per layer
    and Spark job/stage/task totals attributed to spans, medians over the
    traced passes (or over the calls, for per-call figures)."""
    log = tr.read_event_log(eventlog)
    jobs, stages = log["jobs"], log["stages"]
    spans = tracer.spans
    own = tr.assign_jobs(spans, jobs)
    selft = tr.self_times(spans)
    med = lambda xs: statistics.median(xs) if xs else 0  # noqa: E731

    def jobs_in(sids) -> list[int]:
        return [j for s in sids for j in own.get(s, [])]

    def stage_sum(jids, key) -> float:
        return sum(stages.get(st, {}).get(key, 0) for j in jids for st in jobs[j]["stages"])

    out = {"session.start_s": start_s, "session.cold_pass_s": cold_s}
    per_pass: dict[str, list[float]] = {}
    per_call: dict[str, list[float]] = {}

    def add(d, k, v):
        d.setdefault(k, []).append(v)

    block_by_job: dict = {}
    for j, b in log["blocks"]:
        block_by_job[j] = block_by_job.get(j, 0) + b

    for lo, hi, extra in passes:
        ps = [s for s in spans[lo:hi]]
        sids = [s["id"] for s in ps]
        pj = jobs_in(sids)
        add(per_pass, "spark.jobs", len(pj))
        add(per_pass, "spark.stages", sum(len(jobs[j]["stages"]) for j in pj))
        add(per_pass, "spark.tasks", stage_sum(pj, "tasks"))
        add(per_pass, "spark.task_s", stage_sum(pj, "task_s"))
        add(per_pass, "spark.gc_s", stage_sum(pj, "gc_s"))
        add(per_pass, "spark.shuffle_write_bytes", stage_sum(pj, "shuffle_write"))
        add(per_pass, "spark.input_bytes", stage_sum(pj, "input_bytes"))
        py = {st for j in pj for st in jobs[j]["stages"] if stages.get(st, {}).get("python")}
        add(per_pass, "ops.python_stages", len(py))
        add(per_pass, "ops.python_stage_s", sum(stages[st]["task_s"] for st in py))
        gap = bench = 0.0
        for s in ps:
            if s["layer"] == "bench":
                sub = tr.subtree(spans, s["id"])
                gap += tr.job_gap(s, [jobs[j] for j in jobs_in([x["id"] for x in sub])])
                bench += selft[s["id"]]
        add(per_pass, "spark.driver_gap_s", gap)
        add(per_pass, "trace.bench_self_s", bench)
        fj = [j for s in ps if s["layer"] == "core" and s["name"] == "flush"
              for j in jobs_in([x["id"] for x in tr.subtree(spans, s["id"])])]
        if fj:
            add(per_pass, "sources.parquet.input_bytes", stage_sum(fj, "input_bytes"))
        if extra:
            add(per_pass, "sources.txn.files_added", extra["files_added"])
            add(per_pass, "sources.txn.files_removed", extra["files_removed"])
            add(per_pass, "sources.txn.data_bytes", extra["bytes"]["live_data"])
            add(per_pass, "sources.txn.log_bytes", extra["bytes"]["log"])
            add(per_pass, "sources.txn.dv_bytes", extra["bytes"]["dv"])
            rj = [j for s in ps if s["layer"] == "sources.txn" and s["name"].startswith("read")
                  for j in jobs_in([x["id"] for x in tr.subtree(spans, s["id"])])]
            add(per_pass, "sources.txn.read_input_bytes", stage_sum(rj, "input_bytes"))
            for b in extra["batches"]:
                add(per_call, "sources.txn_stream.batches", b)
            for r in extra["rows"]:
                add(per_call, "sources.txn_stream.rows", r)
        core: dict[str, float] = {}  # summed over the pass's cut-flows
        for s in ps:
            sub = [x["id"] for x in tr.subtree(spans, s["id"])]
            dur = s["end"] - s["start"]
            layer, name = s["layer"], s["name"]
            if layer == "core":
                core[f"core.{name}_s"] = core.get(f"core.{name}_s", 0) + selft[s["id"]]
                if name == "flush":
                    fj = jobs_in(sub)
                    for k, v in (
                        ("core.flush_jobs", len(fj)),
                        ("core.flush_stages", sum(len(jobs[j]["stages"]) for j in fj)),
                        ("core.flush_tasks", stage_sum(fj, "tasks")),
                        ("core.persist_bytes", sum(block_by_job.get(j, 0) for j in fj)),
                    ):
                        core[k] = core.get(k, 0) + v
            elif layer == "queries" and "." in name:
                q, part = name.rsplit(".", 1)
                add(per_call, f"queries.{q}.{part}_s", dur)
                add(per_call, f"queries.{q}.jobs.{part}", len(jobs_in(sub)))
            elif layer == "sources.txn":
                add(per_call, f"sources.txn.{name}_s", dur)
                if name not in ("create",) and not name.startswith("read"):
                    add(per_call, "sources.txn.commit_jobs", len(jobs_in(sub)))
            elif layer == "sources.txn_stream":
                add(per_call, f"sources.txn_stream.{name}_s", dur)
        for k, v in core.items():
            add(per_pass, k, v)
    for k, v in per_pass.items():
        out[k] = med(v)
    for k, v in per_call.items():
        out[k] = med(v)
    from workloads import QUERIES

    for q in QUERIES:
        d, r = per_call.get(f"queries.{q}.jobs.declare"), per_call.get(f"queries.{q}.jobs.run")
        out[f"queries.{q}.jobs"] = med(d) + med(r) if d else 0
    out["trace.overhead_s"] = med(walls[True]) - med(walls[False])
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
