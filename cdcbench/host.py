"""Host fitting and host/JVM probes for the CDC ingest benchmark.

Everything here lives outside the engine: the benchmark passes an
explicit core count and a fixed heap to ``odibel_spark.get_spark`` and
keeps every file a run writes (WAL, tables, checkpoints, Spark's local
dir and the JVM's tmpdir) under one scratch root inside the checkout,
removed when the run ends.
"""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import tempfile
import time

#: driver heap; initial size equals max so heap resizing never shows
#: up as a timing difference between runs
HEAP = "2g"

#: C1-only JIT. With the default tiered C2, HotSpot still spent 19, 15,
#: 9 and 6 s compiling in tail replays two to five of one process, far
#: more warm-up than a run can afford; capped at C1 it fell to 2-3 s by
#: the third replay (see README.md, "Warm-up").
JIT_OPTS = "-XX:TieredStopAtLevel=1"

_CLK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    """Cores this process may run on (affinity mask, not the machine)."""
    return len(os.sched_getaffinity(0))


class ScratchRoot:
    """One directory for everything a run writes; removed on close."""

    def __init__(self, checkout: str):
        self.path = os.path.join(checkout, ".cdcbench", f"scratch-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        # Python's and the JVM launcher's temp files land here too
        os.environ["TMPDIR"] = self.path
        tempfile.tempdir = self.path

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(scratch: ScratchRoot) -> dict[str, str]:
    """Session settings the benchmark fixes so the engine's host
    fallbacks (32 cores, 16g heap) never apply."""
    local = scratch.sub("spark-local")
    os.makedirs(local, exist_ok=True)
    return {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} {JIT_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={local}"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": scratch.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until its JVM has exited. The JVM leaves when
    its stdin pipe from this process closes; kill it if it lingers."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------- probes
def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK


def _proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stat_cpu() -> tuple[float, float]:
    """(busy seconds, steal seconds) summed over all CPUs in /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return (user + nice + system + irq + softirq) / _CLK, steal / _CLK


class JvmProbe:
    """JVM CPU, JIT, GC, codegen and RSS read through MXBeans and /proc."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def sample(self) -> dict:
        busy, steal = _stat_cpu()
        py = os.times()
        return {
            "t": time.perf_counter(),
            "jvm_cpu_s": _proc_cpu_s(self.pid),
            "py_cpu_s": py.user + py.system,
            "jit_s": self._comp.getTotalCompilationTime() / 1e3,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1e3,
            "codegen_compiles": int(self._codegen.getCount()),
            "host_busy_s": busy,
            "host_steal_s": steal,
        }

    def peak_rss_mb(self) -> float:
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return _proc_hwm_mb(self.pid) + py_mb


def ref_loop_s() -> float:
    """Seconds a fixed single-threaded Python loop takes: a host-speed
    sample that a slow or contended run shows up in."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i & 7
    return time.perf_counter() - t


def delta(a: dict, b: dict) -> dict:
    """Per-key difference of two samples (b − a)."""
    return {k: b[k] - a[k] for k in a}


def noise(d: dict) -> dict:
    """Host noise over a sampled interval: steal time and the CPU that
    processes other than this run's JVM and Python used."""
    own = d["jvm_cpu_s"] + d["py_cpu_s"]
    return {
        "wall_s": d["t"],
        "steal_s": d["host_steal_s"],
        "other_cpu_s": max(d["host_busy_s"] - own, 0.0),
        "jit_s": d["jit_s"],
        "gc_s": d["gc_s"],
    }
