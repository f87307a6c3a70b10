"""Process set-up, Spark session, result stamps and measurement helpers
shared by the workloads.

Nothing here starts Spark at import time: :func:`prepare_process` must
run before ``pyspark`` is imported, because it points every scratch
directory of the JVM and of Python at the run directory inside the
checkout.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".bench_runs")
MB = 1024.0 * 1024.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# The Spark JVM runs the session's own settings: its heap ceiling
# (spark.driver.memory, 8g by default), no -Xms, so heap-derived gates
# such as the dedup broadcast cap see the heap an engine session has.
# The session's measurement pinning (SPARK_GRAFT_PIN_JVM) is not
# applied: it fixes 8 GC threads on this 4-core box and pre-touches the
# whole heap; the stamp records the flags it would apply.


def prepare_process(run_dir: str) -> None:
    """Route Spark, the JVM and Python temp files into ``run_dir`` and
    make the package importable from the checkout root."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_PIN_JVM"] = "0"
    # -XX:-UsePerfData: no hsperfdata file under /tmp, for the launcher
    # JVM spark-submit starts first and for the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"'{java_opts}'",
        "pyspark-shell",
    ])


def new_run_dir(label: str) -> str:
    """A fresh directory under ``.bench_runs``; never reuses a path."""
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(RUNS_DIR, f"{label}-{stamp}-{os.getpid()}")
    os.makedirs(path)  # raises if it exists: results are never overwritten
    return path


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def live_heap_mb(spark, rounds: int = 6) -> float:
    """Heap still in use after full collections, MB: what the program
    retains (cached and pinned blocks, broadcasts, driver-side state),
    without the garbage whose amount depends on when G1 last ran.

    Python is collected first, and py4j's finalizer thread given time
    to release the JVM objects of what it freed: until then a DataFrame
    the program dropped still holds its plan, broadcasts included, in
    the JVM.  Then ``System.gc()`` (a
    synchronous full collection under G1) repeats until a round frees
    less than 1 %: each one queues the broadcasts and shuffles it found
    unreachable for Spark's cleaner thread, whose released blocks only
    the next round frees."""
    from pyspark import SparkContext

    gc.collect()
    pending = getattr(SparkContext._gateway._gateway_client, "finalizer_deque", ())
    for _ in range(100):
        if not pending:
            break
        time.sleep(0.1)
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        now = bean.getHeapMemoryUsage().getUsed()
        if used is not None and now > 0.99 * used:
            return min(now, used) / MB
        used = now
        time.sleep(0.5)
    return used / MB


def peak_rss_mb(pid: int) -> float | None:
    """VmHWM (peak resident set) of a live process, MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


_VM_OPTIONS = ("ParallelGCThreads", "ConcGCThreads", "CICompilerCount",
               "InitialHeapSize", "MaxHeapSize", "UseG1GC",
               "AlwaysPreTouch", "ReservedCodeCacheSize")


def environment_stamp(spark, run_dir: str) -> dict:
    """Everything that must match before two results may be compared
    (paths inside the run directory are written as ``<run>``)."""
    from data_warehouse_morrocan_banks_spark.session import pinned_jvm_opts

    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hs = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "jvm_args": [a.replace(run_dir, "<run>")
                     for a in mf.getRuntimeMXBean().getInputArguments()],
        "jvm_flags": {f: str(hs.getVMOption(f).getValue()) for f in _VM_OPTIONS},
        # the session's measurement-pinning flags, recorded but not applied
        "session_pinned_flags_not_applied": pinned_jvm_opts(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / MB


def count_manifest_files(path: str) -> int:
    n = 0
    for base, _, files in os.walk(path):
        if os.path.basename(base) in ("_manifests", "_publications"):
            n += sum(1 for f in files if f.endswith(".json"))
    return n


# --- stage metrics ------------------------------------------------------

def stage_snapshot(spark):
    """Settled completed-stage snapshot from the Spark UI (``None`` when
    the UI is unavailable)."""
    from data_warehouse_morrocan_banks_spark.plans.stage_metrics import (
        settled_completed_stages,
    )
    return settled_completed_stages(spark)


def exec_delta(before, after) -> dict | None:
    """Executor-side sums over the stages completed between two
    snapshots; ``None`` when either snapshot is missing or the delta
    covers no stage (the listener bus had not flushed, so any number
    would be an undercount)."""
    if before is None or after is None:
        return None
    new = [s for k, s in after.items() if k not in before]
    if not new:
        return None
    return {
        "stages": len(new),
        "tasks": sum(s["numCompleteTasks"] for s in new),
        "cpu_s": sum(s["executorCpuTime"] for s in new) / 1e9,
        "run_s": sum(s["executorRunTime"] for s in new) / 1e3,
        "gc_s": sum(s["jvmGcTime"] for s in new) / 1e3,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in new) / MB,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in new) / MB,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                        for s in new) / MB,
    }


def cpu_between(before, after) -> float | None:
    """Executor CPU seconds of the stages completed between two settled
    snapshots (0.0 when none ran); ``None`` without both snapshots."""
    if before is None or after is None:
        return None
    return sum(s["executorCpuTime"] for k, s in after.items() if k not in before) / 1e9


# --- statistics ---------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else None


def tail(per_pass: list[list[float]], beyond: int = 10) -> dict:
    """Latency at the highest percentile that leaves at least ``beyond``
    samples above it (nearest rank), over the operations of all passes.
    When that percentile would fall below p90 (fewer than ``10 * beyond``
    samples, where it is not a tail) it is the median over passes of
    each pass's slowest operation instead, and ``rule_met`` is false."""
    xs = sorted(x for lat in per_pass for x in lat)
    n = len(xs)
    k = n - beyond
    if k < 0.9 * n:
        return {"value": median([max(lat) for lat in per_pass if lat]),
                "percentile": 100.0, "n": n, "beyond": 0, "rule_met": False}
    return {"value": xs[k - 1], "percentile": round(100.0 * k / n, 2),
            "n": n, "beyond": beyond, "rule_met": True}


def write_json(path: str, obj) -> None:
    with open(path, "x") as fh:  # "x": never overwrite a result
        json.dump(obj, fh, indent=1, sort_keys=True, default=str)
        fh.write("\n")
