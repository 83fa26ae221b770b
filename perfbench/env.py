"""Host-fitted Spark settings and the session lifecycle for the benchmark.

The package's own session defaults (``session.py``) target a 32-core,
16 GiB-heap host.  The benchmark leaves that file alone and instead
chooses, from the host it runs on:

* ``local[N]`` and N shuffle partitions, N = usable CPUs;
* a pre-touched driver heap of a quarter of RAM (1-3 GiB), leaving the
  rest for the Python workers the EDF source and the OS need;
* every scratch location (marts, Spark local dirs, warehouse, JVM and
  Python temp files) inside the run's own work directory, so a run
  shares nothing with the tests and writes nothing into the sources;
* the checkout root on the Python workers' path, so ``mapInPandas``
  can unpickle package functions and the benchmark's stage provider.

``configure`` must run before the package is imported: the mart root
(``marts.MART_ROOT``) and the heap size are read at import time.
"""

from __future__ import annotations

import gc
import os
import subprocess
from dataclasses import dataclass


@dataclass(frozen=True)
class Settings:
    cores: int
    heap_mb: int
    shuffle_partitions: int
    work_dir: str
    mart_dir: str
    local_dir: str
    warehouse_dir: str
    tmp_dir: str
    pythonpath: str


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(checkout: str, work_dir: str) -> Settings:
    """Fit the session to the host and point all scratch at ``work_dir``."""
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(3072, _mem_total_mb() // 4 // 256 * 256))
    s = Settings(
        cores=cores,
        heap_mb=heap_mb,
        shuffle_partitions=cores,
        work_dir=work_dir,
        mart_dir=os.path.join(work_dir, "marts"),
        local_dir=os.path.join(work_dir, "spark-local"),
        warehouse_dir=os.path.join(work_dir, "spark-warehouse"),
        tmp_dir=os.path.join(work_dir, "tmp"),
        pythonpath=checkout,
    )
    for d in (s.mart_dir, s.local_dir, s.warehouse_dir, s.tmp_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_MART_DIR": s.mart_dir,
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": s.local_dir,
            "TMPDIR": s.tmp_dir,
            "PYTHONPATH": checkout,
        }
    )
    return s


def start_session(s: Settings):
    """Start (or restart, in the same JVM) the SparkSession."""
    from sleep_edf_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{s.cores}]",
        shuffle_partitions=s.shuffle_partitions,
        extra={
            "spark.sql.warehouse.dir": s.warehouse_dir,
            "spark.local.dir": s.local_dir,
            "spark.executorEnv.PYTHONPATH": s.pythonpath,
            "spark.driver.defaultJavaOptions": (
                f"-Djava.io.tmpdir={s.tmp_dir} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the status store is the source of the engine counters;
            # keep every job and stage of a run in it
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def quiesce(spark) -> None:
    """Collect garbage in Python and the JVM before a timed operation,
    so one operation's garbage is not charged to the next."""
    gc.collect()
    spark._jvm.System.gc()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

