"""Box-derived Spark settings, process accounting and run provenance.

Everything a run writes (Spark local dirs, event logs, warehouse, JVM and
Python temp files) lives under the run's work directory inside the
checkout, so a run touches nothing outside it.
"""

import hashlib
import os
import subprocess
import sys
import tempfile


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of RAM, between 1 and 4 GiB: local mode runs executors
    inside the driver JVM, and the box is shared with other processes."""
    return max(1024, min(4096, mem_total_mb() // 4))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def start_spark(root: str, work: str, traced: bool):
    """SparkSession on local[nproc] with every temporary path under ``work``.

    ``root`` (the checkout) goes on the workers' PYTHONPATH so Python
    workers import the same package as the driver."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM of the session (launcher and driver): temp files under
    # ``work`` and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    from pyspark.sql import SparkSession

    n = nproc()
    b = (SparkSession.builder
         .master(f"local[{n}]")
         .appName("yetisearch-perfbench")
         .config("spark.driver.memory", f"{driver_memory_mb()}m")
         .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(2 * n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                 "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if traced:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", logs)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_peak_rss_mb(spark) -> float:
    """Driver JVM peak RSS. It depends on when the collector chose to grow
    the heap, so it varies between identical runs."""
    return vm_hwm_mb(jvm_pid(spark))


def live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after full collections: what the
    session retains (cached frames, broadcasts, plan and engine caches).
    The least of five collect-then-read rounds, so objects that a
    background thread allocates during one round are not counted."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(5):
        jvm.java.lang.System.gc()
        used.append(heap.getHeapMemoryUsage().getUsed())
    return min(used) / (1024.0 * 1024.0)


def storage_mb(spark) -> float:
    """Memory held by cached frames (getRDDStorageInfo), in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) for i in infos) / (1024.0 * 1024.0)


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def source_digest(root: str) -> str:
    """sha256 over the program's source files (the checkout is not
    always a git repository, so this identifies the code measured)."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    pkg = os.path.join(root, "yetisearch_spark")
    files += sorted(os.path.join(pkg, f) for f in os.listdir(pkg)
                    if f.endswith(".py"))
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit(root: str):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def provenance(root: str, spark, seed: int, workload: str, traced: bool,
               smoke: bool) -> dict:
    import pandas
    import pyarrow

    return {
        "workload": workload, "seed": seed, "trace": traced, "smoke": smoke,
        "nproc": nproc(), "mem_total_mb": mem_total_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "spark": spark.version, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "python": sys.version.split()[0],
        "git_commit": git_commit(root), "source_sha256": source_digest(root),
    }
