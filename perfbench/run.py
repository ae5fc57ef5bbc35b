"""h3ronpy_spark benchmark: three seeded, closed-loop workloads.

Run from the repository root:

    python3 perfbench/run.py --workload tile_join_jpeg --seed 1 \\
        --seconds 20 --trace 0

Workloads (see perfbench/workloads.py, and BENCHMARK.json for why each
was chosen): tile_join_jpeg and fresh_polygons.  One client runs one op
at a time on local[N], N = the CPUs this process may use.

--trace 0 prints the end-to-end metrics (items_per_s, op_p50_s,
setup_s, peak_rss_mb).  --trace 1 alternates untraced and traced ops
(spans kept in memory, Spark event log on), then runs the layer probes,
and prints the per-layer metrics; the spans and executed plans go to
.perfbench/trace-<workload>-<seed>.json.  Every op's output is checked,
after the measured ops, against a reference computed by an independent
path; peak_rss_mb covers set-up and the measured ops only.  The last
line of standard output is one JSON object.

The environment sets the Spark driver memory (H3SPARK_DRIVER_MEM,
default 3g) and the scratch directories (SPARK_LOCAL_DIRS, TMPDIR
and the JVM's java.io.tmpdir), all under .perfbench/ in the root.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
# metric names and units are declared once, in BENCHMARK.json
_SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}
SETUP_ROUNDS = 3
WARMUP_OPS = 3
DRIVER_MEM = "3g"
# stop starting ops once a run has used this much wall time, so the
# verification and shutdown that follow end well inside 180 s
RUN_BUDGET_S = 120.0
# a traced run is accepted when the span self-times account for the op
# wall time within this share
RESIDUAL_LIMIT = 0.05
# op_tail_s needs ten ops beyond it; below this many ops that point is
# under p75 and not a tail, so it is omitted
TAIL_MIN_OPS = 40


_BASE_SUBMIT_OPTS = os.environ.get("SPARK_SUBMIT_OPTS", "")
_BASE_PYTHONPATH = os.environ.get("PYTHONPATH", "")


class PackageMissing(RuntimeError):
    pass


def prepare_environment(run_dir: Path, trace: bool) -> None:
    """Point every scratch directory into the checkout and make sure the
    package under test is the one in this checkout.  Runs before pyspark
    or numpy are imported."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    spec = None
    if (ROOT / "h3ronpy_spark" / "__init__.py").is_file():
        spec = importlib.util.find_spec("h3ronpy_spark")
    if spec is None or not str(spec.origin).startswith(str(ROOT)):
        raise PackageMissing(f"h3ronpy_spark not found under {ROOT}")
    tmp = run_dir / "tmp"
    for d in (run_dir / "local", run_dir / "events", tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("H3SPARK_DRIVER_MEM", DRIVER_MEM)
    # spark.* JVM system properties reach the SparkConf of the context
    opts = [_BASE_SUBMIT_OPTS, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.showConsoleProgress=false"]
    if trace:
        opts += ["-Dspark.eventLog.enabled=true",
                 "-Dspark.eventLog.compress=false",
                 f"-Dspark.eventLog.dir={(run_dir / 'events').as_uri()}"]
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(o for o in opts if o)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), _BASE_PYTHONPATH) if p
    )
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")


class Session:
    """The Spark session under test: one context for the whole run."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self):
        from h3ronpy_spark.session import get_spark

        self.spark = get_spark(
            f"local[{self.cores}]", app_name="perfbench",
            shuffle_partitions=self.cores,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def setup_round(wl, tracer) -> float:
    """Prepare the workload's inputs, coverage and index in the running
    session; returns the wall seconds.  A later round first releases
    what the previous one persisted, so every round pays the full cost."""
    t0 = time.perf_counter()
    wl.release()
    with tracer.span("setup.inputs"):
        wl.inputs()
    with tracer.span("setup.coverage"):
        wl.coverage()
    with tracer.span("setup.index"):
        wl.index()
    return time.perf_counter() - t0


def warm_up(wl, tracer) -> float:
    """Untimed ops (on inputs no measured op uses, where ops differ);
    the first few ops after set-up run measurably slower than later
    ones (JIT and Python worker warm-up), so there are three."""
    from perfbench.workloads import result_hash

    with tracer.span("setup.warmup") as sp:
        for i in range(-WARMUP_OPS, 0):
            result_hash(wl.op(i)).collect()
    return sp["dur"]


def start_session(wl, session, tracer) -> float:
    with tracer.span("setup.session") as sp:
        wl.spark = session.start()
    return sp["dur"]


def measure(wl, seconds, tracer, t_start, groups=False,
            start=0) -> list:
    """Closed loop: run ops one after another until their summed wall
    time reaches `seconds` (at least one op), numbering them from
    `start`.  Each op keeps its (rows, hash) row for `verify`."""
    from perfbench.sparklog import final_plan, plan_counts
    from perfbench.workloads import result_hash

    sc = wl.spark.sparkContext
    ops: list[dict] = []
    spent = 0.0
    i = start
    while not ops or (
        spent < seconds and time.monotonic() - t_start < RUN_BUDGET_S
    ):
        group = f"op-{i}"
        if groups:
            sc.setJobGroup(group, f"{wl.name} op {i}")
        row = None
        with tracer.span("op", op=i, group=group) as sp:
            try:
                hdf = result_hash(wl.op(i))
                row = hdf.collect()[0]
            except Exception:
                traceback.print_exc(file=sys.stderr)
        if groups:
            # untraced ops that follow run outside any op's group
            sc.setLocalProperty("spark.jobGroup.id", None)
        if groups and row is not None:
            sp["plan_text"] = final_plan(hdf)
            sp["plan"] = plan_counts(sp["plan_text"])
        sp["row"] = row
        ops.append(sp)
        spent += sp["dur"]
        i += 1
    return ops


def verify(wl, ops, checker, tracer, groups=False) -> None:
    """Check every measured op's (rows, hash) against its reference.
    Runs after the measured loop, so neither the references' time nor
    their memory falls inside the measured window."""
    sc = wl.spark.sparkContext
    for sp in ops:
        i = sp["op"]
        if groups:
            sc.setJobGroup(f"verify-{i}", f"{wl.name} verify {i}")
        with tracer.span("op.verify", parent="op", op=i):
            row = sp.pop("row")
            sp["ok"] = row is not None and checker.check(wl, i, row)


def end_to_end(wl, ops, session_s, rounds, warm_s, rss_mb) -> dict:
    """setup_s is the session start, plus the median of the preparation
    rounds (inputs, coverage, index) run in that session, plus the
    warm-up ops.  items_per_s is one op's items over the median op."""
    p50 = statistics.median(o["dur"] for o in ops)
    return {
        "items_per_s": wl.items / p50,
        "op_p50_s": p50,
        "setup_s": session_s + statistics.median(rounds) + warm_s,
        "peak_rss_mb": rss_mb,
    }


def op_tail(lat) -> tuple[float, float] | None:
    """(percentile, seconds) of the highest percentile with at least ten
    ops beyond it, or None when there are too few ops for a tail."""
    n = len(lat)
    if n < TAIL_MIN_OPS:
        return None
    return 100.0 * (n - 10) / n, sorted(lat)[n - 11]


def spark_layer(ops, groups, cores) -> dict:
    """Per-op Spark metrics from the event log, plus the op's wall time
    split by deepest active span."""
    from perfbench.tracing import op_self_times

    rows = []
    for o in ops:
        g = groups.get(o["group"], {"jobs": [], "stages": [], "tasks": []})

        def iv(xs):
            return [(x["start"], x["end"]) for x in xs]

        split = op_self_times(
            o["start"], o["end"], iv(g["jobs"]), iv(g["stages"]),
            iv(g["tasks"]),
        )
        busy = sum(t["end"] - t["start"] for t in g["tasks"])
        rows.append({
            "jobs": len(g["jobs"]),
            "stages": len(g["stages"]),
            "tasks": len(g["tasks"]),
            "busy": busy,
            "util": busy / (split["wall"] * cores),
            "gap": split["wall"] - split["task_wall"],
            "shuffle": sum(t["shuffle_write"] for t in g["tasks"]) / 1e6,
            "peak_mem": max(
                (t["peak_mem"] for t in g["tasks"]), default=0) / 1e6,
            **split,
        })

    def med(k):
        return statistics.median(r[k] for r in rows)

    def mean(k):
        return statistics.fmean(r[k] for r in rows)

    wall = sum(r["wall"] for r in rows)
    plan = ops[0].get("plan") or {"nodes": 0, "exchanges": 0, "python": 0}
    return {
        "spark.jobs_per_op": med("jobs"),
        "spark.stages_per_op": med("stages"),
        "spark.tasks_per_op": med("tasks"),
        "spark.task_busy_s": med("busy"),
        "spark.core_utilization": med("util"),
        "spark.driver_gap_s": med("gap"),
        "spark.shuffle_write_mb": med("shuffle"),
        "spark.peak_task_mem_mb": max(r["peak_mem"] for r in rows),
        "spark.plan_nodes": plan["nodes"],
        "spark.exchanges": plan["exchanges"],
        "spark.python_stages": plan["python"],
        "op.wall_s": mean("wall"),
        "op.driver_self_s": mean("driver_self"),
        "spark.job_self_s": mean("job_self"),
        "spark.stage_self_s": mean("stage_self"),
        "spark.task_wall_s": mean("task_wall"),
        "trace.residual_ratio": sum(r["residual"] for r in rows) / wall,
    }


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, checker=None, emit=print) -> dict:
    """One benchmark run; returns the result object the CLI prints."""
    run_dir = WORK / f"run-{os.getpid()}-{time.time_ns()}"
    prepare_environment(run_dir, trace)
    from perfbench.tracing import PeakRss, Tracer
    from perfbench.workloads import WORKLOADS, Checker

    t_start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[workload](seed, scale)
    checker = checker or Checker()
    session = Session(cores)
    tracer = Tracer(enabled=trace)
    try:
        if trace:
            metrics, ops = _traced(wl, session, tracer, checker,
                                   seconds, cores, run_dir, t_start)
        else:
            with PeakRss() as rss:
                session_s = start_session(wl, session, tracer)
                rounds = [setup_round(wl, tracer)
                          for _ in range(SETUP_ROUNDS)]
                warm_s = warm_up(wl, tracer)
                ops = measure(wl, seconds, tracer, t_start)
            verify(wl, ops, checker, tracer)
            metrics = end_to_end(wl, ops, session_s, rounds, warm_s,
                                 rss.peak_mb)
            emit(f"# set-up: session {session_s:.3f} s; rounds "
                 + " ".join(f"{r:.3f}" for r in rounds)
                 + f" s; warm-up {warm_s:.3f} s; "
                 f"references {checker.seconds:.3f} s")
    finally:
        session.shutdown()
    failed = sum(not o["ok"] for o in ops)
    _report(wl, ops, metrics, trace, emit, cores)
    if trace:
        out = WORK / f"trace-{workload}-{seed}.json"
        tracer.write(str(out))
        emit(f"spans written to {out.relative_to(ROOT)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in metrics.items()},
    }


def _traced(wl, session, tracer, checker, seconds, cores, run_dir, t_start):
    from perfbench import probes
    from perfbench.sparklog import read_event_log
    from perfbench.tracing import Tracer

    start_session(wl, session, tracer)
    # the first set-up round in a fresh session is the cold one (Python
    # workers start, modules load); setup_s takes the median round
    first = setup_round(wl, tracer) + warm_up(wl, tracer)
    # untraced and traced ops alternate, so drift while the session warms
    # up falls on both; untraced ops keep no spans and set no job group
    # (the event log is on for the whole JVM, so the overhead ratio
    # covers the benchmark's own tracing)
    base, ops = [], []
    untraced = Tracer(enabled=False)
    while not ops or (
        sum(o["dur"] for o in base + ops) < seconds
        and time.monotonic() - t_start < RUN_BUDGET_S
    ):
        n = len(base) + len(ops)
        base += measure(wl, 0, untraced, t_start, start=n)
        ops += measure(wl, 0, tracer, t_start, groups=True,
                       start=n + 1)
    verify(wl, base, checker, untraced)
    verify(wl, ops, checker, tracer, groups=True)
    sc = wl.spark.sparkContext

    def set_group(name):
        sc.setJobGroup(name, name)

    with tracer.span("probe.stages"):
        stage, cov_cells, wkbs = probes.stage_probes(wl, set_group)
    with tracer.span("probe.kernels"):
        kernels = probes.kernel_probes(wl, cov_cells, wkbs)
    session.shutdown()
    groups = read_event_log(str(run_dir / "events"))
    boundary = groups.get("probe.boundary", {"tasks": []})["tasks"]
    # Spark job/stage/task spans join the trace, parented to their op
    for name, g in groups.items():
        for kind in ("jobs", "stages", "tasks"):
            for x in g[kind]:
                tracer.add({"name": f"spark.{kind[:-1]}", "parent": name,
                            "start": x["start"], "end": x["end"]})
    metrics = {
        "setup.first_round_s": first,
        **kernels,
        **stage,
        "functions.boundary_ms_per_task": statistics.fmean(
            t["end"] - t["start"] for t in boundary) * 1e3,
        **spark_layer(ops, groups, cores),
        "trace_overhead_ratio": statistics.median(o["dur"] for o in ops)
        / statistics.median(o["dur"] for o in base),
    }
    return metrics, base + ops


def _report(wl, ops, metrics, trace, emit, cores) -> None:
    lat = [o["dur"] for o in ops]
    failed = sum(not o["ok"] for o in ops)
    emit(f"# {wl.name} seed={wl.seed} local[{cores}] trace={int(trace)} "
         f"ops={len(ops)} reference={wl.reference_path}")
    emit("# op seconds: " + " ".join(f"{x:.3f}" for x in lat))
    for k, v in metrics.items():
        unit = f"{wl.unit}/s" if k == "items_per_s" else UNITS[k]
        emit(f"{wl.name:16s} {k:34s} {v:14.6g} {unit}")
    if not trace:
        tail = op_tail(lat)
        emit(f"{wl.name:16s} {'op_tail_s':34s} " + (
            f"{tail[1]:14.6g} s (p{tail[0]:.0f})" if tail else
            f"{'omitted':>14s} (needs {TAIL_MIN_OPS} ops, ran {len(ops)})"))
    emit(f"{wl.name:16s} {'fail_ratio':34s} {failed / len(ops):14.6g} "
         f"({failed}/{len(ops)} ops)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tile_join_jpeg", "fresh_polygons"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except PackageMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
