"""Benchmark of the quadtree engine: one seeded workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 10 --trace 0

Workloads: ``crawl_build`` and ``window_queries`` (see perfbench/README.md). A run starts a local Spark session on every core,
generates and stages its inputs under ``.perfbench_work/`` in the current
directory, computes the references, runs one untimed warm-up op per op class,
then runs ops in a closed loop (one client, one Python process) for
``--seconds`` and checks every op's output.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics; with ``--trace 1`` the job-grouped, event-logged run
reports the per-layer metrics instead. The line before it holds the run's
details: the workload's own latency figures (with percentile and sample
count), host context, and per-op times.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aardvark_geometry_quadtree_spark"


# One spinner: sleeps until the shared start time, then counts 10,000-step loops
# until the end time and prints the count.
_SPIN = """
import sys, time
def spin(start, end):
    time.sleep(max(0.0, start - time.time()))
    n = 0
    while time.time() < end:
        for _ in range(10_000):
            pass
        n += 1
    return n
print(spin(float(sys.argv[1]), float(sys.argv[2])))
"""


def cpu_probe(seconds: float = 0.2) -> float:
    """Spin rate per core (million loop iterations per second) with one
    spinner process on every core at once: a throttled or contended host
    shows up as a lower rate before or after a run. Every spinner is waited
    for (and killed first if it overruns)."""
    start = time.time() + 0.5  # leaves time for every interpreter to start
    cmd = [sys.executable, "-S", "-c", _SPIN, repr(start), repr(start + seconds)]
    procs = [subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
             for _ in os.sched_getaffinity(0)]
    total = 0
    try:
        for p in procs:
            total += int(p.communicate(timeout=30)[0])
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return total * 0.01 / seconds / len(procs)


def job_floor_ms(spark, reps: int = 5) -> float:
    """Median wall time of a trivial one-task noop job."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_tree: list[int]) -> float:
    """Peak RSS of the Spark JVM, this Python process and every Python
    worker (the JVM's descendants), summed."""
    total = sum(_vm_hwm_kb(pid) for pid in jvm_tree)
    total += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return total / 1024.0


def stop_session(spark, jvm_tree: list[int]) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM and
    its Python workers have exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    alive = [p for p in jvm_tree if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:  # workers that outlived their JVM
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples). With fewer than 11 samples: the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100, n
    return v[n - 11], (100 * (n - 10)) // n, n


def make_session(work: str, trace: bool):
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from aardvark_geometry_quadtree_spark.session import get_spark
    from workloads import SHUFFLE_PARTITIONS

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # no zstd reader here: the fold needs plain JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_build", "window_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-every", type=int, default=0,
                    help="self-test only: corrupt every n-th checked result")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    t_run = time.perf_counter()
    cpu_before = cpu_probe()
    t_setup = time.perf_counter()
    spark = make_session(work, bool(args.trace))
    session_s = time.perf_counter() - t_setup
    jvm_pid = None
    from tracing import Tracer, fold_event_log, per_layer_metrics, per_layer_names, stage_summary
    from workloads import WORKLOADS

    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark, job_groups=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, args.corrupt_every)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        setup_spans = [(sp["name"], sp["ms"]) for sp in tracer.spans]
        tracer.reset()
        wl.reset_counters()
        floor_before = job_floor_ms(spark)

        results = []
        t0 = time.perf_counter()
        while not results or time.perf_counter() - t0 < args.seconds:
            try:
                results.append(wl.op(len(results)))
            except Exception as ex:  # a failed op counts against ok_op_ratio
                print(f"op {len(results)} failed: {type(ex).__name__}: {ex}", file=sys.stderr)
                results.append(None)
        wall = time.perf_counter() - t0

        floor_after = job_floor_ms(spark)
        rss = peak_rss_mb(process_tree(jvm_pid))
        extra = wl.final_metrics() if args.trace else {}
    finally:
        stop_session(spark, process_tree(jvm_pid) if jvm_pid else [])
    cpu_after = cpu_probe()
    run_wall_s = time.perf_counter() - t_run

    done = [r for r in results if r is not None]
    passed = sum(1 for r in done if r.ok)
    op_p50_ms = statistics.median(r.seconds for r in done) * 1000.0 if done else 0.0

    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(results), "timed_wall_s": wall, "setup_s": setup_s, "run_wall_s": run_wall_s,
        "setup_phases_s": {"session": session_s, **wl.setup_phases},
        "op_s": [r.seconds if r else None for r in results],
        "host": {"cpu_probe_before": cpu_before, "cpu_probe_after": cpu_after,
                 "job_floor_before_ms": floor_before, "job_floor_after_ms": floor_after,
                 "cores": len(os.sched_getaffinity(0))},
    }
    named = {}
    for part, per_s in {"pass": "pages_per_s", "batch": "docs_per_s"}.items():
        got = [r.parts[part] for r in done if part in r.parts]
        if got:
            named[per_s] = sum(n for _, n in got) / sum(t for t, _ in got)
            named[f"{part}_p50_s"] = statistics.median(t for t, _ in got)
    if args.workload == "window_queries" and done:
        named["queries_per_s"] = sum(r.items for r in done) / sum(r.seconds for r in done)
        for size in ("small", "large"):
            lat = [ms for r in done for s, ms in r.latencies if s == size]
            if lat:
                v, pct, n = tail(lat)
                named[f"{size}_p50_ms"] = statistics.median(lat)
                named[f"{size}_tail_ms"] = {"value": v, "percentile": pct, "samples": n}
    details["workload_metrics"] = named
    span_ms: dict[str, list[float]] = {}
    for sp in tracer.spans:
        span_ms.setdefault(sp["name"], []).append(sp["ms"])
    details["span_p50_ms"] = {k: statistics.median(v) for k, v in span_ms.items()}
    details["setup_span_ms"] = setup_spans
    print(json.dumps(details))

    if args.trace:
        groups = fold_event_log(os.path.join(work, "eventlog"))
        metrics = per_layer_metrics(tracer.spans, groups)
        metrics.update(extra)
        metrics.update({
            "spark.job_floor_ms": (floor_before + floor_after) / 2,
            "host.cpu_probe_before": cpu_before, "host.cpu_probe_after": cpu_after,
            "host.job_floor_before_ms": floor_before, "host.job_floor_after_ms": floor_after,
            "trace.op_p50_ms": op_p50_ms,
        })
        for size in ("small", "large"):
            metrics[f"window.{size}.p50_ms"] = named.get(f"{size}_p50_ms", 0.0)
            metrics[f"window.{size}.tail_ms"] = named.get(f"{size}_tail_ms", {}).get("value", 0.0)
        units = per_layer_names()
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
        spans_path = os.path.join(os.getcwd(), ".perfbench_work",
                                  f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump({"details": details, "spans": tracer.spans,
                       "stages": {g: stage_summary(st) for g, st in groups.items()}}, f)
    else:
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "ok_op_ratio": {"value": passed / len(results), "unit": "ratio"},
            "op_p50_ms": {"value": op_p50_ms, "unit": "ms"},
        }
    print(json.dumps({
        "correct": passed == len(results), "attempted": len(results),
        "failed": len(results) - passed, "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
