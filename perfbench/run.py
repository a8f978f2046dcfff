"""One benchmark run: a named workload, from a seed, in a fresh process.

    python3 perfbench/run.py --workload crawl-rounds --seed 1 --seconds 12 --trace 0

Runs on ``local[<nproc>]`` with every file it writes (inputs, Spark local
and temp dirs, warehouse, event log) under ``.perfbench_run/`` in the
checkout, removed at exit. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans the benchmark records around the program's
public functions plus Spark's event log. The line before it is the full
record (stamp, per-op samples, workload-specific figures), which is also
written to ``.perfbench_out/``. Exit code 0 only when every op passed its
correctness check. ``--tiny`` shrinks every input for a smoke test.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import re
import shlex
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# metric name -> unit; BENCHMARK.json declares the same (perfbench/test_perfbench.py)
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "work_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.error_log_lines": "count",
    "spark.busy_s": "s",
    "spark.idle_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "op.jobs_p50": "count",
    "op.stages_p50": "count",
    "op.self_s_p50": "s",
    "trace.overhead_s": "s",
    "urls.links_per_s": "1/s",
    "text.pages_per_s": "1/s",
    "proc.peak_rss_mb": "MB",
}


def _proc_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits on EOF of its stdin) and
    every process under it, and wait for each to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    procs = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "crawler_spark", "**", "*.py"), recursive=True)
                       + glob.glob(os.path.join(ROOT, "oracle", "*.py"))):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _prepare_env(run_dir: str, cores: int, trace: bool) -> None:
    """Everything Spark writes goes under ``run_dir``; set before the JVM starts."""
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    java_opts = (f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir} "
                 "-XX:-UsePerfData")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _redirect_stderr(log_path: str):
    """Send fd 2 (inherited by the JVM and its Python workers) to a log
    file, keeping this process's own messages on the real stderr."""
    saved = os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(saved, "w", buffering=1)


def _why(workload: str) -> str:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return next(w["why"] for w in json.load(f)["workloads"] if w["name"] == workload)


def _error_lines(log_path: str) -> int:
    pat = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")
    with open(log_path, errors="replace") as f:
        return sum(1 for line in f if pat.match(line))


def _per_layer(w, tracer, events: dict, log_path: str, probes: dict) -> dict:
    from perfbench.trace import busy_s

    top = [s for s in tracer.spans if s["phase"] == "timed" and s["parent"] is None]
    groups: set = set()
    for s in top:
        groups |= tracer.descendant_groups(s)
    g = [v for k, v in events["groups"].items() if k in groups]
    busy = sum(busy_s(events["jobs"], s["start"], s["end"]) for s in top)
    out = {
        "spark.jobs": sum(tracer.inclusive(s, "jobs") for s in top),
        "spark.stages": sum(tracer.inclusive(s, "stages") for s in top),
        "spark.tasks": sum(tracer.inclusive(s, "tasks") for s in top),
        "spark.failed_tasks": sum(x["failed_tasks"] for x in g),
        "spark.error_log_lines": _error_lines(log_path),
        "spark.busy_s": busy,
        "spark.idle_s": sum(s["end"] - s["start"] for s in top) - busy,
        "spark.shuffle_bytes": sum(x["shuffle_bytes"] for x in g),
        "spark.spill_bytes": sum(x["spill_bytes"] for x in g),
        "trace.overhead_s": tracer.overhead_s,
        **probes,
    }
    ops = w.op_spans(tracer)
    if ops:  # none when the wrapped round function is gone: these drop out
        out["op.jobs_p50"] = statistics.median(tracer.inclusive(s, "jobs") for s in ops)
        out["op.stages_p50"] = statistics.median(tracer.inclusive(s, "stages") for s in ops)
        out["op.self_s_p50"] = statistics.median(tracer.self_s(s) for s in ops)
    return out


def bench(args, run_dir: str, t_start: float) -> int:
    cores = len(os.sched_getaffinity(0))
    _prepare_env(run_dir, cores, bool(args.trace))
    log_path = os.path.join(run_dir, "spark.log")
    _redirect_stderr(log_path)

    import pyspark

    from crawler_spark.sparkutils import get_spark
    from perfbench.trace import Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS, probe_layers

    spark = get_spark(f"perfbench-{args.workload}", cores=cores)
    try:
        tracer = Tracer(spark) if args.trace else None
        w = WORKLOADS[args.workload](spark, args.seed, run_dir, args.tiny, tracer)
        if tracer:
            w.install_trace(tracer)
        w.setup()
        setup_s = time.time() - t_start
        if tracer:
            tracer.phase, tracer.overhead_s = "timed", 0.0
        w.run(args.seconds)
        if tracer:
            tracer.phase = "check"
        w.check()
        rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)) / 1024
        probes = probe_layers(spark, args.seed, args.tiny) if tracer else {}
        stamp = {
            "nproc": os.cpu_count(),
            "cores_used": cores,
            "master": spark.sparkContext.master,
            "host": socket.gethostname(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "commit": _commit(),
            "source_digest": _source_digest(),
            "seed": args.seed,
            "seconds": args.seconds,
            "tiny": args.tiny,
            "trace": args.trace,
        }
    finally:
        _stop_spark(spark)

    ops = w.ops
    failed = sum(1 for o in ops if not o["ok"])
    e2e = {
        "setup_s": (setup_s, "s", 1),
        **w.end_to_end(),
    }
    record = {
        "workload": args.workload,
        "why": _why(args.workload),
        "stamp": stamp,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
        "failed_ratio": failed / max(len(ops), 1),
        "peak_rss_mb": rss_mb,
        "details": w.details(),
        "ops": [{k: v for k, v in o.items() if k != "result"} for o in ops],
    }
    if tracer:
        events = parse_event_log(os.path.join(run_dir, "events"))
        metrics = {**_per_layer(w, tracer, events, log_path, probes), "proc.peak_rss_mb": rss_mb}
        record["per_layer"] = metrics
        # a layer whose spans are missing has no samples (NaN): drop it
        record["layers"] = {k: v for k, v in w.layer_metrics(tracer, events).items() if v == v}
        record["trace_missing"] = tracer.missing
        record["spans"] = tracer.spans
        units = PER_LAYER
    else:
        metrics = {k: v[0] for k, v in e2e.items()}
        units = END_TO_END
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "spans"}, default=str))
    for o in ops:
        if not o["ok"]:
            print(f"failed op {o['kind']}: {o.get('error')}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    t_start = _proc_start_epoch()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl-rounds", "dedup-queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "__init__.py")):
        print("perfbench: the program's sources (crawler_spark/) are not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return bench(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
