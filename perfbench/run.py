"""Benchmark entry point.

    python3 perfbench/run.py --workload conflate_hot --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds the seeded inputs under
``.perfbench_work/``, starts Spark on ``local[4]`` once (``setup_s`` is the
time from process start until the session is up and the package is shipped),
runs one cold rep in the fresh JVM (``first_run_s`` in the report), the
workload's untimed warm-up reps, then fresh-plan reps for ``--seconds`` and
at least four reps (``wall_s`` is their median). Every
rep's output is checked. With ``--trace 1`` the run instead reports the
per-layer numbers of one traced run plus Spark's event-log task metrics.

The last line of standard output is the result object; the line before it is
a report with the host block, every sample and the check summaries.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MASTER = "local[4]"
CORES = 4
TRACE_WARM_REPS = 2  # warm untraced reps in the traced run: the overhead baseline
DEADLINE_S = 150.0  # start no new rep after this much process time
# the timed window runs at least this many reps, so one slow rep cannot move
# the median; four conflate_hot reps already fill more than --seconds
MIN_REPS = 4


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the 'end_to_end' or 'per_layer' metrics BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat (user nice system idle iowait irq softirq steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def host_block() -> dict:
    import numpy
    import pyarrow
    import pyspark

    aff = sorted(os.sched_getaffinity(0))
    return {
        "nproc": len(aff), "cpu_count": os.cpu_count(),
        "taskset_mask": hex(sum(1 << c for c in aff)),
        "loadavg_before": os.getloadavg(), "cpu_ticks_before": cpu_ticks(),
        "python": platform.python_version(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "machine": platform.machine(),
    }


def spark_conf(run_dir: str, trace: bool) -> dict:
    """Keep every file Spark writes inside the checkout; the event log only
    when tracing."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict):
    """Start Spark (JVM launch included) and return it with the seconds from
    process start until get_spark has shipped the package."""
    from osm_merge_spark.session import get_spark

    spark = get_spark("perfbench", master=MASTER, extra_conf=conf)
    setup_s = time.perf_counter() - T_START
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def percentile_note(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    out = {"n": len(s), "median": statistics.median(s) if s else None}
    if len(s) >= 20:
        p = int(100 * (1 - 10 / len(s)))
        out[f"p{p}"] = s[min(len(s) - 1, int(len(s) * p / 100))]
    return out


class Reps:
    """Counts attempted and failed reps; a failed rep is logged and skipped."""

    def __init__(self):
        self.attempted, self.failed, self.errors, self.checks = 0, 0, [], []

    def run(self, fn, *a, **kw):
        self.attempted += 1
        try:
            wall, summary = fn(*a, **kw)
        except Exception as e:  # a failed rep counts against error_rate, the run goes on
            self.failed += 1
            self.errors.append("".join(traceback.format_exception_only(type(e), e)).strip())
            return None
        self.checks.append(summary)
        return wall


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "osm_merge_spark")):
        print(f"osm_merge_spark not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # python-side temp files (the shipped package zip) stay in the checkout too
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's launcher JVM would otherwise write an hsperfdata file to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)

    from perfbench import trace as tracing
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    host = host_block()
    spark, setup_s = start_session(spark_conf(run_dir, bool(args.trace)))
    report = {"workload": wl.name, "why": wl.why, "seed": args.seed, "trace": args.trace,
              "n_images": wl.n_images, "host": host, "setup_s": setup_s}
    reps = Reps()
    guard_ok = True
    metrics: dict[str, float] = {}
    phases = report["phases_s"] = {"setup": time.perf_counter() - T_START}
    try:
        wl.prepare(spark, os.path.join(run_dir, "inputs"), args.seed)
        os.sync()  # the inputs' writeback must not overlap the cold rep
        phases["prepare"] = time.perf_counter() - T_START
        tr = tracing.Tracer(spark.sparkContext, f"{wl.name}-{args.seed}")
        with tr.span("rep.cold"):
            first = reps.run(workloads.timed_rep, wl, guard=True)
        guard_ok = not any("plan lacks" in e for e in reps.errors)
        report["first_run_s"] = first
        phases["cold_rep"] = time.perf_counter() - T_START
        if args.trace:
            metrics, report["trace_report"] = traced(spark, wl, tr, reps, setup_s, first)
        else:
            for _ in range(wl.warmup_reps):
                reps.run(workloads.timed_rep, wl)
            phases["warmup"] = time.perf_counter() - T_START
            walls, t0 = [], time.perf_counter()
            while time.perf_counter() - T_START < DEADLINE_S:
                w = reps.run(workloads.timed_rep, wl)
                if w is not None:
                    walls.append(w)
                if time.perf_counter() - t0 >= args.seconds and len(walls) >= MIN_REPS:
                    break
            report["walls_s"] = walls
            report["wall"] = percentile_note(walls)
            if walls and first is not None:
                wall = statistics.median(walls)
                metrics = {"setup_s": setup_s, "wall_s": wall,
                           "rows_per_s": wl.n_images / wall}
        phases["measured"] = time.perf_counter() - T_START
    finally:
        stop_spark(spark)
    phases["stopped"] = time.perf_counter() - T_START
    names = metric_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        metrics.update(fold_event_log(run_dir, tr, report["trace_report"]))
        for name in names:  # a layer this workload does not run did no work
            metrics.setdefault(name, 0.0)
        tr.write_jsonl(os.path.join(WORK, f"trace-{wl.name}-s{args.seed}.jsonl"))
    host["loadavg_after"] = os.getloadavg()
    ticks = [b - a for a, b in zip(host.pop("cpu_ticks_before"), cpu_ticks())]
    host["steal_share"] = ticks[7] / max(sum(ticks), 1)  # CPU time the hypervisor took
    report.update({"checks": reps.checks[-3:], "errors": reps.errors,
                   "error_rate": reps.failed / max(reps.attempted, 1), "plan_guard_ok": guard_ok})
    correct = guard_ok and reps.failed == 0 and all(k in metrics for k in names)
    result = {
        "correct": correct, "attempted": reps.attempted, "failed": reps.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in names.items() if k in metrics},
    }
    with open(os.path.join(WORK, f"report-{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


def traced(spark, wl, tr, reps, session_start_s, first_run_s):
    """The workload's warm-up reps, warm untraced reps (the overhead
    baseline, as warm as the reps wall_s takes), then the traced layer run."""
    from perfbench import workloads

    for _ in range(wl.warmup_reps):
        reps.run(workloads.timed_rep, wl)
    walls = []
    for k in range(TRACE_WARM_REPS):
        with tr.span("rep", k=k):
            w = reps.run(workloads.timed_rep, wl)
        if w is not None:
            walls.append(w)
    ev_spans: dict[str, set] = {}
    reps.attempted += 1
    try:
        layer, root = wl.trace(tr, ev_spans)
    except Exception:
        reps.failed += 1
        reps.errors.append(traceback.format_exc(limit=3))
        return {}, {}
    wall = statistics.median(walls) if walls else 0.0  # failed reps already mark the run
    # The layer spans' self times, the root's own excluded, must add up to
    # the untraced wall within the tracing overhead. Fails when the overhead
    # is negative or the root's unattributed time exceeds twice the overhead.
    layers = [s for s in tr.spans if s is not root and _under(tr, s, root)]
    attributed = sum(tr.self_s(s) for s in layers)
    overhead = root["dur_s"] - wall
    layer.update({"session.start_s": session_start_s, "spark.first_run_s": first_run_s or 0.0,
                  "trace.overhead_s": overhead, "trace.unattributed_s": tr.self_s(root)})
    rep_report = {
        "untraced_wall_s": wall, "traced_root_s": root["dur_s"],
        "layer_self_sum_s": attributed,
        "layer_self_sum_within_overhead": abs(attributed - wall) <= overhead,
        "self_s": {s["name"]: round(tr.self_s(s), 4) for s in [root] + layers},
        "ev_spans": {k: sorted(v) for k, v in ev_spans.items()},
    }
    return layer, rep_report


def _under(tr, span, root) -> bool:
    while span is not None:
        if span["id"] == root["id"]:
            return True
        span = tr.spans[span["parent"]] if span["parent"] is not None else None
    return False


def fold_event_log(run_dir: str, tr, trace_report: dict) -> dict:
    """Per-layer numbers that come from Spark's event log."""
    from perfbench.trace import EventLog

    ev = EventLog(os.path.join(run_dir, "eventlog"))

    def ids(*names):
        return {str(s["id"]) for s in tr.spans if s["name"] in names}

    rep_ids = ids("rep")
    rep_walls = sum(s["dur_s"] for s in tr.spans if s["name"] == "rep")
    n_reps = max(len(rep_ids), 1)
    top5 = ev.top_operators(rep_ids)
    fams = trace_report.get("ev_spans", {})
    cj = ids(*fams.get("cell_join", []))
    out = {
        "spark.task_busy_share": ev.task_sum(rep_ids, "run_ms") / 1e3 / max(rep_walls * CORES, 1e-9),
        "spark.gc_s": ev.task_sum(rep_ids, "gc_ms") / 1e3 / n_reps,
        "spark.spill_bytes": ev.task_sum(rep_ids, "spill") / n_reps,
        "spark.shuffle_write_bytes": ev.task_sum(rep_ids, "shuffle_write") / n_reps,
        "spark.tasks": ev.n_tasks(rep_ids) / n_reps,
        "spark.top5_operators_s": sum(v for _, v in top5) / n_reps,
        "sources.scan_bytes": ev.driver_metric_sum(ids(*fams.get("scan", [])), "Scan parquet",
                                                   "size of files read"),
        "cell_join.shuffle_bytes": ev.task_sum(cj, "shuffle_write"),
        "cell_join.broadcast_joins": float(sum(
            n == "BroadcastHashJoin" for n in ev.plan_nodes(cj))),
        "cell_join.task_skew": ev.task_skew(cj) if cj else 0.0,
        "fuzzy.arrow_bytes": sum(
            ev.metric_sum(ids(*fams.get("fuzzy", [])), "ArrowEvalPython", m)
            for m in ("data sent to Python workers", "data returned from Python workers")),
    }
    trace_report["top5_operators_per_rep"] = [(n, v / n_reps) for n, v in top5]
    trace_report["per_stage_top5"] = ev.per_stage_top(rep_ids)
    return out


if __name__ == "__main__":
    sys.exit(main())
