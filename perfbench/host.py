"""Launch sizing, Spark session lifetime and the host-noise probe.

The launch is sized from the host it runs on rather than from the
engine's defaults (``get_spark`` defaults the driver heap to 48g):

- ``local[nproc]``, nproc = the CPUs this process may run on;
- driver heap = ``HEAP_SHARE`` of physical RAM, whole GiB, at least 1;
- every scratch path Spark, the JVM and Python's ``tempfile`` use goes
  under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import sys
import time

HEAP_SHARE = 0.3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_heap_gib() -> int:
    return max(1, int(HEAP_SHARE * physical_ram_bytes() / 2**30))


def launch_env(work_dir: str) -> dict[str, str]:
    """Environment for a process that starts a Spark session whose
    scratch output must stay under ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    return {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_WAREHOUSE_DIR": os.path.join(work_dir, "warehouse"),
        "SPARK_DRIVER_MEMORY": f"{driver_heap_gib()}g",
        # read by every JVM, the launcher's included; -XX:-UsePerfData
        # keeps them from writing /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def launch_settings() -> dict:
    return {
        "master": f"local[{nproc()}]",
        "driver_heap": f"{driver_heap_gib()}g",
        "heap_share_of_ram": HEAP_SHARE,
        "physical_ram_gib": round(physical_ram_bytes() / 2**30, 2),
        "scratch": "SPARK_LOCAL_DIRS, TMPDIR, java.io.tmpdir and the warehouse under the run's work dir",
    }


def apply_env(work_dir: str) -> None:
    """Point this process at ``work_dir`` before pyspark or tempfile
    is first used."""
    import tempfile

    os.environ.update(launch_env(work_dir))
    tempfile.tempdir = None  # re-read TMPDIR on next use


def start_session():
    """Start the engine's session sized for this host; returns
    ``(spark, seconds taken)``."""
    from hbasewd_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=nproc())
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- probe
PROBE_MEM_ELEMS = 8 * 1024 * 1024  # 64 MiB of int64
PROBE_MEM_PASSES = 16
PROBE_ALU_ITERS = 2_000_000


def probe_once() -> dict[str, float]:
    """One memory-bandwidth probe (in-place adds over 64 MiB, 16
    passes) and one ALU probe (a 2M-step integer loop in Python)."""
    import numpy as np

    buf = np.ones(PROBE_MEM_ELEMS, dtype=np.int64)
    np.add(buf, 1, out=buf)  # first touch, untimed
    t0 = time.perf_counter()
    for _ in range(PROBE_MEM_PASSES):
        np.add(buf, 1, out=buf)
    mem = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 1469598103934665603
    for _ in range(PROBE_ALU_ITERS):
        x = (x * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    alu = time.perf_counter() - t0
    return {"mem_probe_s": mem, "alu_probe_s": alu}


def probe(reference: dict[str, float]) -> dict[str, float]:
    """Probe times and their ratio to this host's quiet reference
    (1.0 = as fast as the quietest calibration sample)."""
    p = probe_once()
    return {
        **p,
        "mem_x": p["mem_probe_s"] / reference["mem_probe_s"],
        "alu_x": p["alu_probe_s"] / reference["alu_probe_s"],
    }
