"""Benchmark of the frontier-archiver engine, measured from outside.

    python3 perfbench/run.py --workload crawl_iterative --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md in this directory for why each exists),
checks the engine's outputs, and prints a summary line, a host line and, as
the last line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the same operations run traced and the metrics are the
per-layer ones. Exits non-zero when any output check fails.

Everything the run writes (tables, Spark scratch space, the event log, the
trace file) stays under ``.perfbench_work/`` and ``.perfbench_out/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "step_p50_s": "s",
    "peak_rss_mb": "MB",
}
INPUT_BUILDS = 3  # set-up is repeated this many times; its median is reported
SETUP_LAYERS = ["setup.session_s", "setup.input_s", "setup.warmup_s", "trace.wall_s"]


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """A quarter of the host's memory, between 1 and 4 GB."""
    return max(1, min(4, int(mem_total_mb() / 1024 / 4)))


class MemorySampler(threading.Thread):
    """Samples the summed resident set of the JVM and its Python workers
    (this process's java and python descendants) every ``interval`` seconds
    and keeps the peak since the last reset. Pages that forked Python workers
    share are counted once per worker. Reading ``/proc/<pid>/status`` is
    cheap; PSS from ``smaps_rollup`` would make the kernel walk every page
    table and lock the measured processes' memory maps on each sample."""

    def __init__(self, interval: float = 0.5):
        super().__init__(name="memory-sampler", daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.peak_detail: dict[str, int] = {}
        self._stop_evt = threading.Event()

    @staticmethod
    def _sample() -> dict[str, int]:
        """Resident kB per descendant java/python process, keyed 'pid name'."""
        me = os.getpid()
        children: dict[int, list[int]] = {}
        status: dict[int, dict[str, str]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/status") as fh:
                    fields = dict(line.split(":", 1) for line in fh if ":" in line)
            except OSError:
                continue  # the process ended while /proc was listed
            status[int(entry)] = fields
            children.setdefault(int(fields["PPid"]), []).append(int(entry))
        out, todo = {}, list(children.get(me, []))
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            name = status[pid]["Name"].strip()
            # skip e.g. a child the JVM forked that has not exec'd yet
            if name == "java" or name.startswith("python"):
                out[f"{pid} {name}"] = int(status[pid].get("VmRSS", "0 kB").split()[0])
        return out

    def reset(self):
        self.peak_kb, self.peak_detail = 0, {}

    def run(self):
        while not self._stop_evt.wait(self.interval):
            sample = self._sample()
            total = sum(sample.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_detail = total, sample

    def stop(self):
        self._stop_evt.set()
        self.join()


class Context:
    """What a workload needs: the session, host shape, seed and scratch dirs."""

    def __init__(self, args, work_root: str, tracer):
        self.seed = args.seed
        self.scale = args.scale
        self.cores = host_cores()
        self.tracer = tracer
        self.work_root = work_root
        self.spark = None

    def workdir(self, name: str) -> str:
        path = os.path.join(self.work_root, name)
        os.makedirs(path, exist_ok=True)
        return path


def configure_env(work_root: str, cores: int, trace: bool) -> str | None:
    """Point every scratch location of Spark and Python inside the checkout
    and size the session to the host. Returns the event-log dir, if any."""
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_root, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_gb()}g"
    # -XX:-UsePerfData: otherwise each JVM writes an hsperfdata file to the
    # system temp directory, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    events = None
    if trace:
        events = os.path.join(work_root, "events")
        os.makedirs(events, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return events


def stop_session(spark):
    """Stop Spark, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def log_phase(what: str, seconds: float):
    print(f"[perfbench] {what}: {seconds:.1f}s", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_iterative", "gate_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    args = ap.parse_args(argv)

    import pyspark  # noqa: PLC0415

    import crawl  # noqa: PLC0415
    import gate  # noqa: PLC0415
    from spans import Tracer, read_event_log  # noqa: PLC0415

    workload_cls = {"crawl_iterative": crawl.CrawlWorkload, "gate_queries": gate.GateWorkload}
    work_root = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    cores = host_cores()
    events_dir = configure_env(work_root, cores, bool(args.trace))
    tracer = Tracer() if args.trace else None
    ctx = Context(args, work_root, tracer)

    attempted, failed = 0, 0
    failures: list[str] = []

    def record(what: str, ok: bool, detail: str = ""):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            failures.append(f"{what}: {detail}")

    # a terminated run still stops Spark and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sampler = MemorySampler()
    sampler.start()
    spark = None
    try:
        from auto_archiver_spark.session import get_spark  # noqa: PLC0415

        t0 = time.monotonic()
        spark = get_spark(app=f"perfbench-{args.workload}", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        session_s = time.monotonic() - t0
        log_phase("session", session_s)

        wl = workload_cls[args.workload](ctx)
        input_times = []
        for _ in range(INPUT_BUILDS):
            t0 = time.monotonic()
            input_sizes = wl.build_inputs()
            input_times.append(time.monotonic() - t0)
        input_s = statistics.median(input_times)
        log_phase("inputs", sum(input_times))

        t0 = time.monotonic()
        wl.warm_up()
        warmup_s = time.monotonic() - t0
        log_phase("warm-up", warmup_s)
        record("warm-up", True)

        sampler.reset()
        ops = []
        t_start = time.monotonic()
        while not ops or time.monotonic() - t_start < args.seconds:
            try:
                op = wl.operation(len(ops))
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                record(f"operation {len(ops)}", False, traceback.format_exc(limit=3))
                break
            record(f"operation {len(ops)}", True)
            ops.append(op)
        peak_rss_mb = sampler.peak_kb / 1024.0
        peak_detail = dict(sampler.peak_detail)
        log_phase(f"{len(ops)} timed operation(s)", time.monotonic() - t_start)

        if ops:
            t0 = time.monotonic()
            for what, ok, detail in wl.checks(ops[0]):
                record(what, ok, detail)
            log_phase("output checks", time.monotonic() - t0)
            for op in ops:
                wl.discard(op)
        wl.finish()

        metrics: dict[str, float] = {}
        host = {
            "cores": cores,
            "mem_total_mb": round(mem_total_mb()),
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "inputs": input_sizes,
            "operations": len(ops),
            "peak_memory_kb": peak_detail,
        }
        if ops:
            e2e = wl.end_to_end(ops)
            e2e["setup_s"] = session_s + input_s + warmup_s
            e2e["peak_rss_mb"] = peak_rss_mb
            if args.trace:
                stop_session(spark)
                spark = None
                log = None
                if events_dir and os.listdir(events_dir):
                    log = read_event_log(os.path.join(events_dir, os.listdir(events_dir)[0]))
                names = crawl.layer_metric_names() + gate.layer_metric_names() + SETUP_LAYERS
                metrics = dict.fromkeys(names, 0.0)
                metrics.update(wl.layers(ops, log))
                metrics.update({
                    "setup.session_s": session_s,
                    "setup.input_s": input_s,
                    "setup.warmup_s": warmup_s,
                    "trace.wall_s": e2e["wall_s"],
                })
                os.makedirs(out_dir, exist_ok=True)
                with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                          "w") as fh:
                    json.dump({"host": host, "end_to_end": e2e, "layers": metrics,
                               "spans": tracer.spans}, fh)
            else:
                metrics = {k: e2e[k] for k in END_TO_END}
    except Exception:  # noqa: BLE001 - report the failure, then exit non-zero
        record("run", False, traceback.format_exc())
        host, metrics = {}, {}
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(work_root, ignore_errors=True)

    for f in failures:
        print("FAILED " + f, file=sys.stderr)
    if not metrics:
        return 1
    correct = failed == 0
    if args.trace:
        units = {k: layer_unit(k)[0] for k in metrics}
        print(f"workload={args.workload} seed={args.seed} "
              f"traced wall_s={metrics['trace.wall_s']:.4g} s error_rate={failed / attempted:.4g}")
    else:
        units = END_TO_END
        print(f"workload={args.workload} seed={args.seed} "
              + " ".join(f"{k}={v:.4g} {units[k]}" for k, v in metrics.items())
              + f" error_rate={failed / attempted:.4g}")
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def layer_unit(name: str) -> tuple[str, str]:
    """(unit, better) of a per-layer metric, from its name."""
    if name.endswith("_per_s"):
        return "1/s", "higher"
    if name.endswith("_s") or "_s." in name:
        return "s", "lower"
    if name.endswith(("_ratio", "_frac", ".reconcile")):
        return "ratio", "higher"
    if name.endswith(("bytes_written", "bytes_per_wave")):
        return "B", "lower"
    if name in ("wave.growth", "fetch.task_skew"):
        return "ratio", "lower"
    if name in ("fetch.archived_ok", "frontier.admitted", "frontier.new_urls"):
        return "count", "higher"
    return "count", "lower"


if __name__ == "__main__":
    sys.exit(main())
