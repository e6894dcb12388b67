"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload archive_many_small --seed 1 \\
        --seconds 10 --trace 0

One run: generate the workload's inputs from the seed (a separate
process, not timed), start and warm a local Spark session (``setup_s``),
run operations for ``--seconds``, check every output, stop every
process, delete the run directory.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The run's full record (every operation, the machine
health probe and, when traced, the spans) is written to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dwc_dataframe_validator_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
MODULES = ("operators.archive", "operators.validate", "operators.pipeline",
           "operators.dedup", "streaming.report_sink")
# local[N]: at most four cores, so runs compare across machines
CORES = min(4, len(os.sched_getaffinity(0)))
# op_cpu_s and setup_s are given for a machine on which the canary after
# each operation (workloads.canary_cpu_s) costs this many CPU seconds
CANARY_REF_S = 0.5

sys.path.insert(0, HERE)

import workloads  # noqa: E402
from tracing import Tracer, jobs_by_group, parse_event_log, self_times, spark_totals  # noqa: E402


def _process_age() -> float:
    """Seconds since this process started (Linux /proc)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _configure_environment(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the run
    directory, and pass the benchmark's settings to the session the
    package builds."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in /tmp from the JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    conf = {
        # a fixed set of JIT compiler threads, so that their CPU time can
        # be told apart from the calls' (workloads.CpuClock)
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                          " -XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _canary_s(spark) -> float:
    """Pure-JVM throughput probe: one code-generated aggregate over an
    in-memory range, no Python workers, no I/O.  Recorded before and
    after the timed loop so a slow window on a shared machine shows in
    the record; never gated on."""
    t0 = time.perf_counter()
    (spark.range(0, 100_000_000, 1, 8)
     .selectExpr("sum(id * 3 + 1) as s", "count(1) as n")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def _retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection, read after the
    first call: what the started session retains."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's vCPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_session(spark) -> int:
    """Stop the session and the JVM, wait until every process this run
    started has ended, and return the JVM's peak RSS in KiB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    peak = _peak_rss_kb(proc.pid) if proc else 0
    started = _descendants(os.getpid())  # the JVM and its Python workers
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for grace in (20.0, 5.0):
        deadline = time.monotonic() + grace
        while any(map(_alive, started)) and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in filter(_alive, started):
            os.kill(pid, signal.SIGKILL)
    return peak


def _tail(seconds: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(seconds)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    return {"percentile": round(100.0 * (n - 10) / n, 2),
            "value": sorted(seconds)[n - 11], "samples": n}


def _per_layer(wl, ops, tracer, log, ops_wall, canary, trace_p50) -> dict:
    """Per-operation means of each layer's spans, jobs and counts."""
    n = max(1, len(ops))
    spans = [s for s in tracer.spans if s["op"] is not None and s["end"] is not None]
    selft = self_times(spans)
    groups = jobs_by_group(log)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])

    def total_s(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, [])) / n

    def jobs(name):
        count, todo = 0, [s["id"] for s in by_name.get(name, [])]
        while todo:
            sid = todo.pop()
            count += groups.get(f"span-{sid}", 0)
            todo += kids.get(sid, [])
        return count / n

    spark_m = spark_totals(log, ops_wall)
    candidates = sum(tracer.observed.values())
    verified = sum(o.get("verified_pairs", 0) for o in ops)
    progress = getattr(wl, "progress", [])
    fold_s = getattr(wl, "fold_s", [])

    def progress_s(key):
        return statistics.fmean(p.get(key, 0) for p in progress) / 1e3 if progress else 0.0

    return {
        "dwca.read_descriptor_s": total_s("dwca.read_descriptor"),
        "dwca.read_table_s": total_s("dwca.read_table"),
        "validate.call_s": total_s("validate.call"),
        "validate.jobs": jobs("validate.call"),
        "breakdown.call_s": total_s("breakdown.call"),
        "breakdown.jobs": jobs("breakdown.call"),
        "archive.self_s": sum(selft[s["id"]] for s in by_name.get("archive.validate_archive", [])) / n,
        "model.to_json_s": total_s("model.to_json"),
        "model.report_bytes": sum(o.get("report_bytes", 0) for o in ops) / n,
        "spark.jobs": spark_m["jobs"] / n,
        "spark.stages": spark_m["stages"] / n,
        "spark.tasks": spark_m["tasks"] / n,
        "spark.executor_run_s": spark_m["run_s"] / n,
        "spark.executor_cpu_s": spark_m["cpu_s"] / n,
        "spark.gc_s": spark_m["gc_s"] / n,
        "spark.task_wait_s": spark_m["wait_s"] / n,
        "spark.input_bytes": spark_m["input_bytes"] / n,
        "spark.shuffle_write_bytes": spark_m["shuffle_write_bytes"] / n,
        "spark.shuffle_read_bytes": spark_m["shuffle_read_bytes"] / n,
        "spark.python_s": spark_m["python_s"] / n,
        "dedup.exact_s": total_s("dedup.exact"),
        "dedup.lsh_call_s": total_s("dedup.lsh_call"),
        "dedup.lsh_jobs": jobs("dedup.lsh_call"),
        "dedup.candidate_pairs": candidates / n,
        "dedup.verified_pairs": verified / n,
        "dedup.verify_yield": verified / candidates if candidates else 0.0,
        "stream.batches": float(len(progress)),
        "stream.trigger_s": progress_s("triggerExecution"),
        "stream.add_batch_s": progress_s("addBatch"),
        "stream.planning_s": progress_s("queryPlanning"),
        "stream.wal_commit_s": progress_s("walCommit"),
        "stream.fold_s": statistics.fmean(fold_s) if fold_s else 0.0,
        "jvm.jit_cpu_s": sum(o["jit_s"] for o in ops) / n,
        "trace.op_p50_s": trace_p50,
        "health.canary_before_s": canary[0],
        "health.canary_after_s": canary[1],
    }


# The per-layer metrics the result line reports: those of the layers
# every gated workload enters.  A time of a layer a workload never enters
# would read 0 on every run; those stay in the run record (and in
# suite.py --layers) only.
REPORTED_LAYERS = (
    "dwca.read_descriptor_s", "dwca.read_table_s", "validate.call_s", "validate.jobs",
    "breakdown.call_s", "breakdown.jobs", "archive.self_s", "model.to_json_s",
    "model.report_bytes", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.task_wait_s",
    "spark.input_bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "jvm.jit_cpu_s", "trace.op_p50_s", "health.canary_before_s", "health.canary_after_s",
)


def _unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name == "dedup.verify_yield":
        return "ratio"
    return "s" if name.endswith("_s") else "count"


def measure(args, run_dir: str, manifest: dict, setup_origin: float) -> dict:
    """Set up, warm, run and check; returns the run record."""
    wl = workloads.WORKLOADS[args.workload]()
    _configure_environment(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    pkg = importlib.import_module(PACKAGE)
    modules = {"package": pkg}
    modules.update({m: importlib.import_module(f"{PACKAGE}.{m}") for m in MODULES})
    tables = importlib.import_module(f"{PACKAGE}.sources.tables")
    spark = tables.local_session("perfbench", cpus=CORES)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext) if args.trace else None
        jvm_pid = spark.sparkContext._gateway.proc.pid
        ctx = workloads.Context(spark, modules, jvm_pid, None, args.corrupt)
        # the first call pays the session's start-up cost; the health
        # probe and the heap reading follow it, so that the rest of the
        # warm-up brings the JIT and the heap back to where they stay
        warm_ops = wl.warm(ctx, manifest["warm"][:1])
        t_probe = time.perf_counter()
        setup_heap_mb = _retained_heap_mb(spark)
        _canary_s(spark)  # the first probe compiles its own code path
        canary_before = _canary_s(spark)
        probe_s = time.perf_counter() - t_probe
        warm_ops += wl.warm(ctx, manifest["warm"][1:], first=-2)
        setup_s = time.perf_counter() - setup_origin - probe_s
        setup_rss_kb = (_peak_rss_kb(jvm_pid)
                        + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
        if tracer:
            wl.trace(tracer, modules)
            ctx.tracer = tracer
        steal0, t0 = _steal_s(), time.perf_counter()
        ops = wl.run(ctx, manifest, t0 + args.seconds)
        loop_s = time.perf_counter() - t0
        steal_share = (_steal_s() - steal0) / (loop_s * os.cpu_count())
        if tracer:
            tracer.unpatch()
            tracer.observed = tracer.observed_rows()
        canary_after = _canary_s(spark)
    finally:
        jvm_peak_kb = _stop_session(spark)
    driver_peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"wl": wl, "tracer": tracer, "ops": ops, "warm_ops": warm_ops,
            "setup_s": setup_s, "loop_s": loop_s, "steal_share": steal_share,
            "canary": (canary_before, canary_after),
            "setup_rss_mb": setup_rss_kb / 1024.0, "setup_heap_mb": setup_heap_mb,
            "jvm_peak_mb": jvm_peak_kb / 1024.0, "driver_peak_mb": driver_peak_kb / 1024.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: check against a deliberately wrong expectation")
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs = os.path.join(run_dir, "data")
        wl_cls = workloads.WORKLOADS[args.workload]
        # setup_s counts from process start, less the input generation
        before_gen = _process_age()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--out", inputs, "--pool", str(wl_cls.pool(args.seconds))],
                       check=True, timeout=170)
        with open(os.path.join(inputs, "manifest.json"), encoding="utf-8") as fh:
            manifest = json.load(fh)
        setup_origin = time.perf_counter() - before_gen
        run = measure(args, run_dir, manifest, setup_origin)
        log = (parse_event_log(os.path.join(run_dir, "eventlog"))
               if args.trace else None)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = run["ops"]
    seconds = [o["seconds"] for o in ops]
    failed = sum(1 for o in ops if o["errors"])
    warm_failed = sum(1 for o in run["warm_ops"] if o["errors"])
    attempted = len(ops)
    nan = float("nan")
    op_p50 = statistics.median(seconds) if seconds else nan
    # each operation's CPU time over the canary's right after it, so
    # that a stretch in which the machine runs the engine slower cancels;
    # the set-up, which happens once, over the run's median canary
    scaled = [o["cpu_s"] * CANARY_REF_S / o["canary_cpu_s"] for o in ops]
    canary_cpu = statistics.median(o["canary_cpu_s"] for o in ops) if ops else nan
    end_to_end = {
        "op_cpu_s": statistics.median(scaled) if ops else nan,
        "setup_s": run["setup_s"] * CANARY_REF_S / canary_cpu,
        "setup_heap_mb": run["setup_heap_mb"],
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": CORES, "attempted": attempted,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "op_p50_s": op_p50,
        "op_cpu_raw_s": statistics.median(o["cpu_s"] for o in ops) if ops else nan,
        "canary_cpu_s": canary_cpu, "setup_raw_s": run["setup_s"],
        "jit_cpu_s": statistics.median(o["jit_s"] for o in ops) if ops else nan,
        "rows_per_s": sum(o["rows"] for o in ops) / sum(seconds) if seconds else 0.0,
        "op_tail_s": _tail(seconds), "loop_s": run["loop_s"],
        "setup_rss_mb": run["setup_rss_mb"],
        "canary_before_s": run["canary"][0], "canary_after_s": run["canary"][1],
        "steal_share": run["steal_share"],
        "peak_rss_mb": run["jvm_peak_mb"] + run["driver_peak_mb"],
        "jvm_peak_mb": run["jvm_peak_mb"], "driver_peak_mb": run["driver_peak_mb"],
        "end_to_end": end_to_end, "ops": ops, "warm_ops": run["warm_ops"],
    }
    if args.trace:
        windows = [(o["wall_start"], o["wall_end"]) for o in ops]
        layer = _per_layer(run["wl"], ops, run["tracer"], log, windows,
                           run["canary"], op_p50)
        record["per_layer"] = layer
        metrics = {k: {"value": layer[k], "unit": _unit(k)} for k in REPORTED_LAYERS}
        run["tracer"].dump(os.path.join(
            results, f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        units = {"op_cpu_s": "s", "setup_s": "s", "setup_heap_mb": "MB"}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in end_to_end.items()}
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    for o in ops + run["warm_ops"]:
        for e in o["errors"][:3]:
            print(f"op {o['op']} FAILED: {e}")
    tail = record["op_tail_s"]
    print(f"{args.workload} seed={args.seed}: {attempted} ops, failed_ratio="
          f"{record['failed_ratio']:.3f}, op_tail_s={tail['value']} "
          f"(p{tail['percentile']}, {tail['samples']} samples), canary "
          f"{run['canary'][0]:.3f}s -> {run['canary'][1]:.3f}s")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and warm_failed == 0 and attempted > 0,
                      "attempted": max(1, attempted), "failed": failed if attempted else 1,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
