"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The process pins itself (and so the
Spark JVM and its Python workers) to the allowed CPUs minus core 0,
starts a local[k] session with a fixed driver heap, builds the
workload's inputs from the seed, times operations for ``--seconds``,
checks the last operation's output, and prints one JSON object as the
last line of standard output. ``--trace 1`` is a separate run that
reports the per-layer metrics of BENCHMARK.json instead of the
end-to-end ones. Diagnostics go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
DRIVER_HEAP = "2g"


def say(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin() -> list[int]:
    """Restrict this process tree to the allowed CPUs except core 0,
    which takes most IRQs and system threads."""
    allowed = sorted(os.sched_getaffinity(0))
    cpus = [c for c in allowed if c != 0] or allowed
    os.sched_setaffinity(0, cpus)
    return cpus


def start_spark(name: str, k: int, work: str, trace: bool):
    from pyspark.sql import SparkSession

    from python_crawler_spark.session import get_spark

    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{name}", parallelism=k, shuffle_partitions=k,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkSession


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process
    it started (the JVM and its Python workers)."""
    from pyspark import SparkContext

    from perfbench.probe import tree

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = tree(proc.pid) if proc is not None else []
    saved = os.dup(2)
    devnull = os.open(os.devnull, os.O_WRONLY)
    os.dup2(devnull, 2)  # executor-pool teardown noise
    try:
        try:
            spark.stop()
            if gw is not None:
                gw.shutdown()
        except Exception:
            pass  # an interrupted call can leave the gateway unusable: still wait below
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    finally:
        os.dup2(saved, 2)
        os.close(devnull)
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def measure(args, spark, ctx, session_s: float, root_pid: int) -> tuple[dict, int, int, dict]:
    """Returns (metrics, attempted, failed, trace_raw)."""
    from perfbench.probe import ActionTracer, RssPeak, cpu_seconds, host_line, median
    from perfbench.workloads import WORKLOADS, timed

    wl = WORKLOADS[args.workload](ctx)
    setup_times = [timed(wl.setup)[0] for _ in range(SETUP_REPS)]
    setup_s = session_s + median(setup_times)
    say(f"setup: session {session_s:.3f}s prep {[round(t, 3) for t in setup_times]}")

    def one_op():
        c0 = cpu_seconds(root_pid)
        dt, out = timed(wl.op)
        cpu = cpu_seconds(root_pid) - c0
        wl.after_op()
        return dt, cpu, out

    for _ in range(wl.warmups):
        say(f"warm-up op {timed(wl.warmup)[0]:.3f}s")

    attempted = failed = 0
    op_s, op_cpu = [], []
    bad: list[str] = []
    base_s = None
    raw: dict = {}
    rss = RssPeak(root_pid)
    deadline = time.perf_counter() + args.seconds
    # a traced crawl is one long operation: it runs alone
    while not (args.trace and args.workload == "crawl_rounds"):
        attempted += 1
        try:
            with rss:
                dt, cpu, out = one_op()
            op_s.append(dt)
            op_cpu.append(cpu)
            if args.workload.startswith("frontier"):
                from perfbench.gen import expected_scheduled

                if out != expected_scheduled(wl.shape):
                    failed += 1
                    bad.append(f"pass scheduled {out} rows, expected {expected_scheduled(wl.shape)}")
        except Exception:
            failed += 1
            say(traceback.format_exc())
        say(f"op {attempted}: wall {op_s[-1] if op_s else float('nan'):.3f}s "
            f"cpu {op_cpu[-1] if op_cpu else float('nan'):.2f}s {host_line(ctx.cpus)}")
        # stop before an operation would run past the measured window
        if (time.perf_counter() + (op_s[-1] if op_s else 0) > deadline
                or attempted == wl.max_ops or (args.trace and attempted >= 2)):
            break
    if op_s:
        base_s = median(op_s)

    if args.trace:
        if args.workload.startswith("frontier"):
            # the frontier trace is a prefix decomposition, not one pass:
            # time one whole pass under the tracer for the overhead
            with ActionTracer() as tr, tr.span("bench"):
                raw["_traced_op_s"], _ = timed(wl.op)
        tracer = ActionTracer()
        c0, t0 = cpu_seconds(root_pid), time.perf_counter()
        attempted += 1
        raw.update(wl.trace(tracer, base_s))
        raw["_trace_wall_s"] = time.perf_counter() - t0
        raw["_trace_cpu_s"] = cpu_seconds(root_pid) - c0
        raw["_tracer"] = tracer
        raw["_base_s"] = base_s

    # output check of the last operation, outside the timed region
    try:
        mismatch = wl.check()
    except Exception:
        mismatch = ["check raised: " + traceback.format_exc()]
    if mismatch:
        failed += 1
        bad += mismatch
    for line in bad:
        say("CHECK FAILED: " + line)
    if not bad:
        say("check: outputs match")

    metrics = {}
    if op_s:
        units = wl.units()
        metrics = {
            "setup_s": setup_s,
            "urls_per_s": units / median(op_s),
            "cpu_s": median(op_cpu),
        }
        # the peak follows JVM heap growth and GC timing: printed, not graded
        extra = {"failed_ratio": (failed / attempted, "ratio"), "peak_rss_mb": (rss.peak, "MB"),
                 "op_s_p50": (median(op_s), "s"), "ops": (len(op_s), "count")}
        if args.workload == "crawl_rounds":
            extra["pages_per_s"] = (metrics["urls_per_s"], "pages/s")
        extra.update(wl.extra_e2e(op_s))
        for name, (v, unit) in extra.items():
            say(f"{args.workload} {name} = {v} {unit}")
    return metrics, attempted, failed, raw


def layer_metrics(args, raw: dict, ev: dict, k: int) -> dict:
    """Per-layer metrics from the workload's trace, the tracer and the
    event log."""
    out = {key: v for key, v in raw.items() if not key.startswith("_")}
    tracer = raw["_tracer"]
    counted = {lbl: v for lbl, v in ev.items() if lbl not in ("none", "trace", "bench")}
    out["spark.jobs"] = sum(v.get("jobs", 0) for v in counted.values())
    out["spark.gc_s"] = sum(v.get("gc_s", 0) for v in counted.values())
    out["spark.shuffle_fetch_wait_s"] = sum(v.get("fetch_wait_s", 0) for v in counted.values())
    out["spark.cpu_busy_ratio"] = raw["_trace_cpu_s"] / (raw["_trace_wall_s"] * k)
    sched = raw["_sched_labels"]
    s_ev = [ev.get(lbl, {}) for lbl in sched]
    out["scheduler.shuffle_mb"] = sum(v.get("shuffle_mb", 0) for v in s_ev)
    out["scheduler.spill_mb"] = sum(v.get("spill_mb", 0) for v in s_ev)
    out["scheduler.task_skew"] = max((v.get("task_skew", 0) for v in s_ev), default=0)
    out["scheduler.jobs_per_call"] = sum(v.get("jobs", 0) for v in s_ev) / raw["_sched_calls"]
    base = raw["_base_s"]
    if base:
        out["trace.overhead_ratio"] = raw["_traced_op_s"] / base - 1
    else:
        out["trace.overhead_ratio"] = tracer.bookkeeping_s / raw["_traced_op_s"]
    out["trace.layer_sum_ratio"] = raw["_layer_sum_s"] / (base or raw["_traced_op_s"])
    say("tracer self time by label: " + json.dumps(
        {lbl: round(v, 3) for lbl, v in sorted(tracer.self_s.items())}))
    say("event log by label: " + json.dumps(
        {lbl: {m: round(x, 3) for m, x in v.items()} for lbl, v in sorted(ev.items())}))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (smoke tests)")
    args = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "python_crawler_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))
            and os.path.isfile(bench_json)):
        say(f"perfbench: no python_crawler_spark package, tests/oracle.py or BENCHMARK.json "
            f"under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        say(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    with open(bench_json) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cpus = pin()
    k = 2 if len(cpus) >= 3 else max(1, len(cpus) - 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    say(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"k={k} clients=1")
    from perfbench.probe import host_line, read_event_log
    from perfbench.workloads import Ctx

    say(host_line(cpus))
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark, _ = start_spark(args.workload, k, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        root_pid = SparkContext._gateway.proc.pid
        ctx = Ctx(spark=spark, seed=args.seed, work=work, small=args.small, cpus=cpus)
        values, attempted, failed, raw = measure(args, spark, ctx, session_s, root_pid)
        stop_spark(spark)
        spark = None
        if args.trace:
            ev = read_event_log(os.path.join(work, "eventlog"), raw["_tracer"].intervals)
            values = layer_metrics(args, raw, ev, k)
        say(host_line(cpus))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        say(f"perfbench: metrics not declared in BENCHMARK.json: {sorted(unknown)}")
        return 3
    metrics = {}
    for m in wanted:
        # a layer the workload does not exercise did no work: 0
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
