"""Run environment: a scratch directory inside the checkout, a pinned Spark
session, and the process probes (peak RSS, JVM GC time, Python CPU time).

Pinning: ``local[nproc]`` with ``nproc`` shuffle partitions; a fixed-size
driver heap of a quarter of physical memory, between 1 and 2 GiB;
``SPARK_LOCAL_DIRS``, ``TMPDIR`` (Python), ``java.io.tmpdir`` (JVM) and the
warehouse directory all inside the run's scratch directory, which is deleted
when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_gib() -> int:
    with open("/proc/meminfo") as fh:
        kib = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return max(1, min(2, kib // (4 << 20)))


def _vm_hwm_kib(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Env:
    """One run's scratch directory and Spark session."""

    def __init__(self, name: str) -> None:
        self.dir = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.path("tmp")
        self.local = self.path("spark-local")
        for d in (self.tmp, self.local):
            os.makedirs(d)
        self.cpus = nproc()
        self.heap = f"{heap_gib()}g"
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def pinning(self) -> dict:
        return {"master": f"local[{self.cpus}]", "shuffle_partitions": self.cpus,
                "driver_memory": self.heap, "spark_local_dirs": self.local,
                "tmpdir": self.tmp}

    def start_spark(self):
        """Start the pinned session; returns it and the seconds taken."""
        t0 = time.perf_counter()
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        from ir_analyses_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", cpus=self.cpus, shuffle_partitions=self.cpus,
            extra_conf={
                "spark.driver.memory": self.heap,
                "spark.local.dir": self.local,
                # a fixed-size heap: no run-dependent heap resizing in peak RSS
                "spark.driver.extraJavaOptions":
                    f"-Xms{self.heap} -Djava.io.tmpdir={self.tmp}",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark, time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        kib = _vm_hwm_kib("self")
        pid = self.jvm_pid()
        if pid is not None:
            kib += _vm_hwm_kib(pid)
        return kib / 1024.0

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, delete the scratch dir."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gw = SparkContext._gateway
                proc = getattr(gw, "proc", None)
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass

