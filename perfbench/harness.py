"""Process-level plumbing shared by the workloads: the steadiness pins, the
Spark session and its shutdown, memory and machine-noise readings, and
the statistics every metric is built from."""

from __future__ import annotations

import atexit
import math
import os
import subprocess
import statistics
import sys
import time

#: driver heap: the session factory's 48g default exceeds small machines
DRIVER_MEM = "2g"


def cpu_count() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, run_dir: str) -> dict[str, str]:
    """Set, before any JVM or Python worker starts, everything a run's
    timing or file placement depends on; returns what was set.  Every
    scratch path lives under ``run_dir`` inside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    pins = {
        # session.py defaults to local[32] regardless of the machine
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the package (pandas UDFs) from the checkout
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
    }
    os.environ.update(pins)
    time.tzset()
    return pins


class Session:
    """A SparkSession started for one run, timed, and torn down with the
    JVM it launched (at exit too, if a workload raised first)."""

    def __init__(self, app: str, run_dir: str, extra_conf: dict | None = None):
        from chainweb_data_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # the whole heap committed and touched at start, as a server
            # runs: otherwise peak RSS follows when G1 happens to grow the
            # heap and spread 16% between runs.  No perf-data file: HotSpot
            # writes it to the system temp directory whatever
            # java.io.tmpdir says.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            f" -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        }
        conf.update(extra_conf or {})
        t0 = time.perf_counter()
        self.spark = get_spark(app, extra_conf=conf)
        self.spark.range(1).count()  # first job: executor ready
        self.start_s = time.perf_counter() - t0
        self._gateway = self.spark.sparkContext._gateway
        self._jvm = self._gateway.proc
        atexit.register(self.stop)

    def peak_rss_mb(self) -> float:
        """Driver JVM plus this Python process, from ``VmHWM``."""
        return (_vm_hwm_kb(self._jvm.pid) + _vm_hwm_kb("self")) / 1024.0

    def stop(self) -> None:
        if self._jvm.stdin.closed:
            return
        self.spark.stop()
        self._gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        self._jvm.stdin.close()
        try:
            self._jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._jvm.kill()
            self._jvm.wait()


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Machine:
    """Load average and CPU steal over a run, from ``/proc``."""

    def __init__(self) -> None:
        self._cpu0 = _cpu_times()

    def reading(self) -> dict[str, float]:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(d) or 1
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        # /proc/stat cpu: user nice system idle iowait irq softirq steal ...
        return {"loadavg_1m": load1, "steal_frac": d[7] / total}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def gmean_of_medians(by_class: dict[str, list[float]]) -> float:
    """Geometric mean over request classes of each class's median: every
    class counts once, however many requests it served."""
    meds = [median(v) for v in by_class.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))
