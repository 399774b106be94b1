"""Fit Spark to the machine the benchmark runs on, and describe it.

One Spark process, ``local[n]`` with n = usable CPUs, a JVM heap
sized from RAM (a quarter of it, at most 4 GiB), and every file Spark,
the JVM and the Python workers write kept under the run's work
directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
from typing import Dict, Optional


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def ram_bytes() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 8 << 30


def heap_gb_for(ram: int) -> int:
    return max(1, min(4, ram // (4 << 30)))


def start_spark(root: str, work: str, n_cpus: int, heap_gb: int,
                event_log_dir: Optional[str] = None):
    """-> SparkSession. Python workers import the engine from ``root``
    (PYTHONPATH), and temp files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n_cpus))
        .config("spark.default.parallelism", str(n_cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def describe(spark, n_cpus: int, heap_gb: int) -> Dict[str, object]:
    import pyarrow
    import pyspark

    return {
        "cpus": n_cpus,
        "ram_gib": round(ram_bytes() / (1 << 30), 1),
        "heap_gib": heap_gb,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
