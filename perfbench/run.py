"""Benchmark entry point.  Run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

One run is one fresh process with one Spark session.  It starts the
session, repeats the workload's set-up three times, runs the warm-up
operations, then runs the closed loop for ``--seconds`` and to the end
of the pass it is in.  Every operation is checked against golden values
(``perfbench/golden.json``, made by ``perfbench/golden.py``) and runs
under a time limit enforced by cancelling its Spark job tag.

The second-to-last stdout line is a report with the workload's own
metric names and, with ``--trace 1``, its per-layer metrics.  The last
line is ``{"correct", "attempted", "failed", "metrics"}`` with the
``BENCHMARK.json`` end-to-end metrics (``--trace 0``) or per-layer
metrics (``--trace 1``).  ``--workload all`` runs every workload
untraced and traced in turn, plus one pass over every registered query,
and prints every metric with its unit and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "meta_morph_etl_databricks_spark"
TIMED = ("analyst_battery", "daily_etl", "dedup_serve")
SETUP_REPEATS = 3
RUN_DEADLINE_S = 165  # no operation starts that could end after this; a run ends within 180 s
EXEC_KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
             "executor_run_s", "executor_cpu_s")
# Host-speed calibration.  A shared 4-core host can change speed by up to
# 1.5x for minutes at a time (neighbours on shared cores), and a whole run
# speeds up or slows down together.  A fixed pure-Python loop
# tracks it, so the timings of the last stdout line are scaled to a host
# on which the loop takes CALIB_REF_S.  The report line keeps raw seconds.
CALIB_ITERS = 500_000
CALIB_REF_S = 0.025
CALIB: list[float] = []
SCALED = ("setup_s", "op_p50_s", "pass_s")
# the per-layer metrics of BENCHMARK.json, the same names on every workload
CONTRACT_LAYERS = ("session.start_s", "build.s", "catalyst.plan_s") + tuple(
    f"exec.{k}" for k in EXEC_KEYS)


@dataclass
class OpResult:
    name: str
    pass_no: int
    seconds: float
    status: str  # ok, wrong, error or timeout
    charged: float  # seconds, or +inf when the operation failed


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.endswith(("_s", ".s")):
        return "s"
    return "bytes" if "bytes" in metric else "count"


def calibrate() -> None:
    """Time the fixed loop once and keep the sample."""
    t0 = time.perf_counter()
    x = 0
    for i in range(CALIB_ITERS):
        x += i * i
    CALIB.append(time.perf_counter() - t0)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_environment(work_dir: str) -> None:
    """Fix the session's size from design.json and keep every scratch
    file of the run (Spark local dirs, temp files, JVM crash logs)
    inside the run dir."""
    with open(os.path.join(HERE, "design.json")) as f:
        session = json.load(f)["session"]
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = session["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = session["SPARK_GRAFT_DRIVER_MEM"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no console progress bars: stderr carries the failure lines
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:ErrorFile={work_dir}/hs_err_%p.log -XX:-UsePerfData"
    )
    # Python workers (UDFs) import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def other_spark_jvms() -> list[int]:
    """Spark JVMs already running; called before this run starts its own."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def run_op(ctx, wl, op, n: int) -> OpResult:
    """One operation under its job tag.  Past the limit the tag's jobs are
    cancelled, and again every half second, since an operation can start
    further jobs after the first is cancelled."""
    sc = ctx.sc
    tag = f"perfbench-op-{n}"
    fired, done = threading.Event(), threading.Event()

    def cancel() -> None:
        if done.wait(wl.limit_s):
            return
        fired.set()
        while not done.is_set():
            sc.cancelJobsWithTag(tag)
            done.wait(0.5)

    calibrate()
    sc.addJobTag(tag)
    timer = threading.Thread(target=cancel, daemon=True)
    ctx.fail_layer = None
    status, detail = "ok", ""
    t0 = time.perf_counter()
    timer.start()
    try:
        with ctx.tracer.span(op.name, op=n, layer="op"):
            ok, detail = op.fn()
        if fired.is_set():
            status, detail = "timeout", f"over the {wl.limit_s:g} s limit"
        elif not ok:
            status, ctx.fail_layer = "wrong", "result"
    except Exception as e:  # a failing operation is counted, and the loop goes on
        status = "timeout" if fired.is_set() else "error"
        first = str(e).strip().splitlines()[0] if str(e).strip() else ""
        detail = f"{type(e).__name__}: {first[:300]}"
    finally:
        done.set()
        timer.join()
        sc.removeJobTag(tag)
    seconds = time.perf_counter() - t0
    calibrate()
    if status != "ok":
        print(f"perfbench: FAILED workload={wl.name} {wl.unit}={op.name} "
              f"layer={ctx.fail_layer or '-'} status={status}: {detail}", file=sys.stderr)
    return OpResult(op.name, op.pass_no, seconds, status,
                    seconds if status == "ok" else float("inf"))


def pass_times(results: list[OpResult], limit_s: float) -> list[float]:
    """Wall time of each complete pass; a failed operation is charged
    the time limit, so a crash never shortens a pass."""
    by_pass = defaultdict(float)
    for r in results:
        by_pass[r.pass_no] += r.seconds if r.status == "ok" else max(r.seconds, limit_s)
    return [by_pass[p] for p in sorted(by_pass)]


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        fail(f"no {PACKAGE}/ in {ROOT}: run from the root of a checkout")
    golden_path = os.path.join(HERE, "golden.json")
    if not os.path.exists(golden_path):
        fail("perfbench/golden.json is missing: run python3 perfbench/golden.py")
    with open(golden_path) as f:
        golden = json.load(f)
    work_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        return _measure(args, golden, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _measure(args, golden: dict, work_dir: str) -> int:
    pin_environment(work_dir)
    others = other_spark_jvms()
    if others:
        print(f"perfbench: WARNING {len(others)} other Spark JVM(s) live (pids {others}); "
              "contention inflates times", file=sys.stderr)

    from meta_morph_etl_databricks_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, med, quantile

    spark = get_spark("perfbench")
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        jvm_pid = sc._gateway.proc.pid
        tracer = Tracer(sc, bool(args.trace))
        ctx = Ctx(spark, tracer, work_dir, args.seed, golden)
        wl = WORKLOADS[args.workload](ctx)

        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
            calibrate()
        n = 0
        warm = []
        for op in wl.warmup_ops():
            n += 1
            warm.append(run_op(ctx, wl, op, n))
        warmup_s = sum(r.seconds for r in warm)
        setup_s = session_s + warmup_s + med(prep)

        results: list[OpResult] = []
        first_timed = n + 1
        t_loop = time.perf_counter()
        cut_pass = None
        for op in wl.timed_ops():
            now = time.perf_counter()
            if now - T_START + wl.limit_s > RUN_DEADLINE_S:
                if results and op.pass_no == results[-1].pass_no:
                    cut_pass = op.pass_no
                break
            if results and now - t_loop >= args.seconds and op.pass_no != results[-1].pass_no:
                break
            n += 1
            results.append(run_op(ctx, wl, op, n))
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)
    for _ in range(5):
        calibrate()

    # a pass the deadline cut short would read as a fast pass
    passes = pass_times([r for r in results if r.pass_no != cut_pass], wl.limit_s)
    if not passes:
        fail("the run deadline came before one timed pass was complete")
    ops_all = warm + results
    failed = sum(r.status != "ok" for r in ops_all)
    lat = [r.charged for r in results]
    pass_s = med(passes)
    host_scale = CALIB_REF_S / med(CALIB)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (quantile(lat, 0.5), "s"),
        "pass_s": (pass_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    named = {
        "setup_s": (setup_s, "s"),
        "failed_frac": (failed / len(ops_all), "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    if args.workload in ("analyst_battery", "registry_pass"):
        named["query_p50_s"] = e2e["op_p50_s"]
        named["query_p90_s"] = (quantile(lat, 0.9), "s")
    named.update(wl.report(results, pass_s))

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "timed_ops": len(results),
        "passes": len(passes),
        "pass_s": pass_s,
        "setup": {"session_s": session_s, "prepare_s": prep, "warmup_s": warmup_s},
        "calib_s": med(CALIB),
        "host_scale": host_scale,
        "other_spark_jvms": len(others),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "ops": [[r.name, r.pass_no, round(r.seconds, 4), r.status] for r in ops_all],
    }
    if args.trace:
        layer_metrics = _layer_metrics(wl, tracer.spans, results, first_timed,
                                       session_s, warmup_s)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        tracer.write(spans_file)
        report["spans_file"] = os.path.relpath(spans_file, ROOT)
        report["layers"] = {f"{args.workload}.{k}": v for k, v in layer_metrics["specific"].items()}
        metrics = layer_metrics["generic"]
    else:
        metrics = {k: (v * host_scale if k in SCALED else v, u) for k, (v, u) in e2e.items()}

    def finite(v: float) -> float:  # JSON has no +inf: a failure reads as the limit
        return v if v != float("inf") else wl.limit_s * host_scale

    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops_all),
        "failed": failed,
        "metrics": {k: {"value": finite(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(wl, spans, results, first_timed, session_s, warmup_s) -> dict:
    """Per-layer metrics of the timed passes: the workload's own layers,
    each layer's self time and the Spark execution counters (per pass,
    median over passes), and the cross-workload set named in
    BENCHMARK.json.  Every job runs under exactly one span's group, so
    summing the counters over all spans counts each job once."""
    from spans import self_times
    from workloads import med_of

    pass_of = {first_timed + i: r.pass_no for i, r in enumerate(results)}
    timed = [s for s in spans if s["op"] in pass_of]
    selfs = self_times(timed)
    per_pass = defaultdict(lambda: defaultdict(float))
    for s in timed:
        acc = per_pass[pass_of[s["op"]]]
        acc[f"{s['layer']}.self_s"] += selfs[s["id"]]
        for k, v in s["counters"].items():
            acc[f"exec.{k}"] += v
    counters = med_of(per_pass, [f"exec.{k}" for k in EXEC_KEYS + ("spill_bytes",)])
    specific = dict(wl.layers(timed, pass_of))
    specific.update({"session.start_s": session_s, "session.warmup_s": warmup_s})
    specific.update(counters)
    specific.update(med_of(per_pass, sorted({k for acc in per_pass.values()
                                             for k in acc if k.endswith(".self_s")})))
    specific["catalyst.plan_s"] = specific.get("catalyst.self_s", 0.0)
    generic = {k: (specific[k], unit_of(k)) for k in CONTRACT_LAYERS}
    return {"specific": specific, "generic": generic}


def run_all(args) -> int:
    """Every workload untraced then traced, one registry pass, and a table."""
    rows = []
    untraced_pass = {}
    for w in TIMED + ("registry_pass",):
        for trace in ((0, 1) if w in TIMED else (0,)):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
            if out.returncode != 0 or len(lines) < 2:
                print(f"{w} trace={trace}: exit {out.returncode}, no result")
                continue
            report = json.loads(lines[-2])["report"]
            result = json.loads(lines[-1])
            if trace == 0:
                untraced_pass[w] = report["pass_s"]
                for k, m in report["metrics"].items():
                    rows.append((w, k, m["value"], m["unit"]))
                rows.append((w, "attempted/failed",
                             f"{result['attempted']}/{result['failed']}", "ops"))
            else:
                for k, v in report["layers"].items():
                    rows.append((w, k, v, unit_of(k)))
                if w in untraced_pass:  # traced minus untraced wall time of a pass
                    rows.append((w, "trace.overhead_s", report["pass_s"] - untraced_pass[w], "s"))
    width = max(len(r[1]) for r in rows) if rows else 0
    for w, k, v, u in rows:
        val = f"{v:.6g}" if isinstance(v, float) else str(v)
        print(f"{w:16} {k:{width}} {val:>14} {u}")
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=TIMED + ("registry_pass", "all"))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
