"""Run environment: pinned Spark settings, session lifetime, host facts
and peak memory of the process tree."""

from __future__ import annotations

import os
import platform
import shutil

# Pinned so heap size, parallelism and set-up time do not float with
# the host: the engine's session factory otherwise defaults to
# local[32] and sizes a pre-touched heap from MemAvailable at start.
# Two task slots leave the rest of a four-vCPU host to the client, the
# JVM's compiler and GC threads and other tenants, so a busy neighbour
# slows the measured work less; a trading day took the same 9.0 s with
# two slots as with four.
CORES = 2
# The JIT stops at its first tier (C1). In sessions as short as these
# runs, C2 compilation took about half of all CPU time, and when it ran
# moved the CPU time of a trading day by up to 18 % and that of the
# median serving operation by up to 38 % across seven runs; with C1
# alone compilation ends during set-up and the ranges fell to 7 % and
# 13 % across four. A trading day takes longer in wall time (10.9 s
# against 7.5 s), a serving pass about as long.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
DRIVER_MEM = "2g"


def pin_environment(run_dir: str) -> dict[str, str]:
    """Set the engine's environment knobs explicitly; returns them."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        # the factory's default heap flags, plus a private tmpdir, no
        # hsperfdata file (which the JVM would write under /tmp) and the
        # JIT tier above
        "SPARK_GRAFT_DRIVER_JVM_OPTS": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                       f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} {JIT_OPTS}",
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return pinned


def start_session(run_dir: str, event_log: bool):
    """Start the engine's SparkSession; with ``event_log`` the Spark
    event log is written under ``run_dir/eventlog``."""
    from lambda_lakehouse_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            # Spark's default since 4.0, set so the layout read back is fixed
            "spark.eventLog.rolling.enabled": "true",
        })
    return get_spark(app_name="lakebench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def peak_rss_mb() -> float:
    """Sum of each process's peak resident set (VmHWM) over the tree
    rooted at this process: Python, the JVM and its Python workers."""
    kids = _children_map()
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """User plus system CPU time of the process tree rooted at this
    process: every live process's threads, plus the children each has
    reaped (spark-submit's launcher JVM, ended Python workers). Time
    the hypervisor stole, or spent waiting for a CPU, is not in it."""
    kids = _children_map()
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_facts(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def clean(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
