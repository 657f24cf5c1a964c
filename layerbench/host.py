"""Host facts, the benchmark's own Spark session, and /proc readers.

The session is fitted to the host instead of copied from bench.py:
fewer task slots than cores (the driver JVM and the benchmark process
need a core, and the calm-window evidence on a 4-core host showed two
slots far steadier than four), a heap derived from /proc/meminfo and
never pre-touched, JIT and collector settings for short passes
(JVM_FIT), BLAS pinned to one thread, and every scratch directory
inside the benchmark's own work directory.

Every set-up creates a new SparkContext, so each session starts from
an empty CacheManager and block store and forks fresh Python workers.
The JVM is launched by the first set-up and kept for the later ones
of an invocation; ``stop_session`` finally shuts the gateway and reaps
the JVM.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
# Passes are seconds long: C2 compilation of Spark's own code took 1.5-3
# CPU-seconds of every pass and never settled, so the JIT stops at C1,
# which ran the passes as fast. G1 sized its young generation by pause
# time, so the JVM's RSS followed host speed; the serial collector
# with a fixed young generation leaves RSS to the data retained.
JVM_FIT = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xmn192m"
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def meminfo_mb() -> dict[str, float]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            out[key] = int(val.split()[0]) / 1024.0
    return out


def task_slots() -> int:
    """Half the cores, at least one: always fewer slots than nproc
    on a multi-core host."""
    return max(1, (os.cpu_count() or 2) // 2)


def driver_memory_mb() -> int:
    """An eighth of MemTotal, clamped to [1 GiB, 4 GiB]: the host's
    memory is shared, and a heap above physical memory is OOM-killed
    instead of collected."""
    return int(min(max(meminfo_mb()["MemTotal"] / 8, 1024), 4096))


def host_facts() -> dict:
    import numpy
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "slots": task_slots(),
        "mem_total_mb": round(meminfo_mb()["MemTotal"], 1),
        "driver_memory_mb": driver_memory_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "kernel": platform.release(),
    }


def start_session(root: str, work: str):
    """A new local SparkSession (and SparkContext) fitted to the host."""
    for var in BLAS_VARS:
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout being measured
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    slots = task_slots()
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    builder = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("layerbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", f"{java_opts} {JVM_FIT}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * slots))
        .config("spark.default.parallelism", str(slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
    )
    for var in BLAS_VARS:
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(keep_jvm: bool = False) -> None:
    """Stop the active Spark session, if any (its Python workers die
    with it). Unless keep_jvm, also shut the gateway and wait for its
    JVM to exit, so no process outlives the benchmark."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if keep_jvm or gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def clear_caches(spark) -> tuple[int, int]:
    """Clear caches before a pass.

    clearCache() drops everything the CacheManager holds. RDDs
    persisted outside it (the engine's localCheckpoint sites) are freed
    by the ContextCleaner once unreachable, which needs a GC, so while
    persisted RDDs remain a full GC is forced, for up to ten seconds.
    (An unconditional GC would shrink the heap and make the next pass
    pay for regrowing it.) Returns (RDDs that needed the collection,
    RDDs still persisted): a survivor is reachable, which is a leak."""
    import gc

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    needed_gc = persisted()
    deadline = now() + 10
    while persisted() and now() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
    return needed_gc, persisted()


# --------------------------------------------------------------------------
# process tree, CPU, RSS, steal
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields restart after the last ')'
    return data[data.rindex(")") + 2 :].split()


def process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """utime+stime of the live tree plus the reaped children's times
    each parent has absorbed (cutime+cstime), so CPU of workers that
    exited between two readings is still counted once."""
    total = 0
    for pid in process_tree(root_pid):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / CLK_TCK


def jvm_jit_cpu_s(jvm_pid: int) -> dict[str, float]:
    """CPU seconds of each live JIT compiler thread of the JVM, by
    thread id, for telling warm-up from work. (The serial collector
    runs in the VM thread; collection time is stage.gc_s.)"""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                data = f.read()
        except OSError:
            continue
        if "Compiler" in data[data.index("(") + 1 : data.rindex(")")]:
            fields = data[data.rindex(")") + 2 :].split()
            out[tid] = (int(fields[11]) + int(fields[12])) / CLK_TCK
    return out
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                data = f.read()
        except OSError:
            continue
        name = data[data.index("(") + 1 : data.rindex(")")]
        fields = data[data.rindex(")") + 2 :].split()
        kind = "jit" if "Compiler" in name else "gc" if name.startswith(("GC ", "G1 ")) else None
        if kind:
            out[kind] += (int(fields[11]) + int(fields[12])) / CLK_TCK
    return out


def reset_peak_rss(root_pid: int) -> None:
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over the tree (per-process peaks since the last
    reset_peak_rss)."""
    total_kb = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user
    return delta[7] / total if total else 0.0


def now() -> float:
    return time.perf_counter()
