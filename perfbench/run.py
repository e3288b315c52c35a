"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/`` in the checkout, which also holds every
scratch file the run writes (Spark local dirs, temp files, the index
store, event logs, traces). With ``--trace 0`` the last stdout line is the
end-to-end metrics; with ``--trace 1`` the run records spans, enables
Spark's event log and reports the per-layer metrics instead, and writes
``.perfbench_work/traces/<workload>-s<seed>.json`` (spans, per-stage and
per-kind rows, tracing overhead against an untraced run of the same
workload and seed, when one exists).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("queries", "ingest")
N_CONV = 3000  # ~21k turns
BATCH_TURNS = 1000
DRIVER_MEMORY = "8g"


def process_start() -> float:
    """Wall-clock time this process started (from /proc; 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# ---------------- processes ----------------


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            out[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(pid: int) -> dict[int, str]:
    table = _proc_table()
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        for c, (pp, comm) in table.items():
            if pp == p and c not in out:
                out[c] = comm
                todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of this process and of its JVM."""
    jvms = [p for p, comm in descendants(os.getpid()).items() if comm == "java"]
    return {
        "driver": vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm": sum(vm_hwm_kb(p) for p in jvms) / 1024.0,
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for every
    process the session started to end."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and any(_alive(p) for p in started):
            time.sleep(0.1)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        while any(_alive(p) for p in started) and time.time() < deadline + 10:
            time.sleep(0.1)


# ---------------- main ----------------


def log(t_start: float, msg: str) -> None:
    print(f"[perfbench {time.time() - t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)


def spark_conf(trace: bool, events: str) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "local"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    return conf


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-conv", type=int, default=N_CONV, help="corpus size in conversations")
    ap.add_argument("--batch-turns", type=int, default=BATCH_TURNS, help="turns per upsert batch")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    t_start = process_start()
    ticks0 = cpu_ticks()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # package zip, warm-up dirs, Python workers
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    # the program under test; a checkout without it fails here
    from rabbit_index_ingest_spark.session import get_spark

    import inputs
    import tracing
    import workloads

    log(t_start, "imports done")
    corpus_path = inputs.corpus_parquet(args.seed, args.n_conv, os.path.join(WORK, "cache"))
    run = workloads.Run(workload=args.workload, seed=args.seed)
    spans = tracing.Spans(enabled=trace)
    events = os.path.join(WORK, "events", f"{args.workload}-s{args.seed}-{os.getpid()}")
    ncpu = len(os.sched_getaffinity(0))
    with spans.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", cores=ncpu,
            extra_conf=spark_conf(trace, events),
        )
    bench = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spans.sc = spark.sparkContext if trace else None
        bench = workloads.Bench(spark, spans, run, WORK, args.n_conv, args.batch_turns, trace)
        log(t_start, "session ready")
        bench.setup(corpus_path)
        run.setup_s = time.time() - t_start
        log(t_start, "set-up done; window starts")
        if args.workload == "queries":
            bench.window_queries(args.seconds)
        else:
            bench.window_ingest(args.seconds)
        rss = peak_rss_mb()  # before the checks grow this process
        log(t_start, f"window done: {len(run.timed())} operations")
        bench.check()
        log(t_start, f"checks done: {run.checker.failed} of {run.checker.checked} failed")
        bench.measure_inputs()
        if trace:
            bench.traced_extras()
    finally:
        if bench is not None:
            bench.cleanup()
        stop_session(spark)
        log(t_start, "session stopped")

    ticks1 = cpu_ticks()
    run.peak_rss_mb = rss["driver"] + rss["jvm"]
    e2e = workloads.end_to_end(run)
    attempted = len(run.timed())
    failed = min(run.checker.failed, attempted)
    props = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": ncpu,
        "turns": run.turns,
        "text_bytes": run.text_bytes,
        "queries": len(run.queries()),
        "query_term_repeat_ratio": round(workloads.repeat_ratio(run), 4),
        "blocks_est_quartiles": [round(v, 1) for v in tracing.quartiles([o.blocks_est for o in run.queries()])],
        "writes": len(run.writes()),
        "checked": run.checker.checked,
        "failed_ratio": failed / attempted,
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        # hypervisor steal over the run: a noisy host shows here
        "host_steal_pct": round(100 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 2),
    }
    print("inputs " + json.dumps(props), flush=True)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if trace:
        metrics = traced_report(run, spans, events, e2e, os.path.join(results, f"{args.workload}-s{args.seed}.json"))
    else:
        metrics = e2e
        with open(os.path.join(results, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
        for k, (v, unit) in e2e.items():
            print(f"  {k:28s} {v:14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def traced_report(run, spans, events: str, e2e: dict, untraced_path: str) -> dict:
    """Per-layer metrics from spans + event log; writes the trace file and
    prints the layer table and the tracing overhead."""
    import report
    import tracing

    att = tracing.Attribution(spans.spans, tracing.read_event_log(events))
    layers = report.layer_metrics(run, att)
    kinds = report.kind_rows(run, att)
    overhead = {}
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)
        overhead = {k: v - base[k] for k, (v, _) in e2e.items() if k in base}
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    out = os.path.join(trace_dir, f"{run.workload}-s{run.seed}.json")
    with open(out, "w") as f:
        json.dump({
            "layers": layers,
            "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
            "tracing_overhead": overhead,
            "kinds": kinds,
            "stages": att.stage_rows(),
            "spans": spans.to_json(),
        }, f, indent=1, default=str)
    for name, (unit, _) in report.PER_LAYER.items():
        print(f"  {name:36s} {layers[name]:14.6g} {unit}")
    for k, (v, unit) in e2e.items():
        if k in overhead:
            print(f"  overhead {k:27s} {overhead[k]:+14.6g} {unit} (traced {v:.6g})")
        else:
            print(f"  overhead {k:27s} {'n/a':>14s} {unit} (traced {v:.6g}; no untraced run of this seed)")
    for row in kinds:
        print("  kind " + json.dumps(row))
    print(f"trace written to {os.path.relpath(out, ROOT)}", flush=True)
    shutil.rmtree(events, ignore_errors=True)
    return {name: (layers[name], unit) for name, (unit, _) in report.PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
