"""The benchmark's one Spark session, sized from the host.

Every knob is derived here: ``local[nproc]``, a driver heap of at most half
the machine's RAM (capped at 2 GiB; the machine is shared), UI off, AQE on,
Arrow batches of 2048 records and ``max(cores, 8)`` shuffle partitions.
Spark's scratch space, the warehouse and the JVM's temp dir all live under
the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def build_spark(work: str) -> SparkSession:
    cores = host_cores()
    heap_mb = min(host_ram_mb() // 2, 2048)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark: SparkSession, warm_path: str) -> None:
    """Start one Python worker per core with the engine imported, and read
    the input once so the file listing and the OS page cache are warm."""
    @F.pandas_udf("long")
    def touch(x: pd.Series) -> pd.Series:
        import tesserocr_spark.api  # noqa: F401

        return x

    cores = host_cores()
    spark.range(0, cores * 64, 1, cores).select(touch("id")).write.format("noop").mode(
        "overwrite").save()
    spark.read.parquet(warm_path).write.format("noop").mode("overwrite").save()


def set_up(work: str, warm_path: str, times: int = 3) -> tuple[SparkSession, float]:
    """Build the session and warm it ``times`` times (stopping in between);
    returns the live session and the median set-up time in seconds. The
    first build also launches the JVM."""
    samples = []
    spark = None
    for k in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_spark(work)
        _warm_up(spark, warm_path)
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return spark, samples[len(samples) // 2]


def shut_down(spark: SparkSession) -> None:
    """Stop Spark, then the JVM behind it, and wait for it to exit."""
    proc = spark.sparkContext._gateway.proc  # noqa: SLF001
    spark.stop()
    proc.stdin.close()  # the JVM exits when its parent's pipe closes
    proc.wait(timeout=60)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak RSS of the driver JVM, the Python daemon below it and the
    ``cores`` largest Python workers below the daemon (the most that run
    tasks at once), from ``VmHWM`` in ``/proc``. Spark keeps a varying
    number of idle workers alive besides, which would make the figure
    swing with that count rather than with the work."""
    jvm = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    kids = _proc_children()
    daemons = kids.get(jvm, [])
    workers = sorted((_hwm_kb(w) for d in daemons for w in kids.get(d, ())), reverse=True)
    total = _hwm_kb(jvm) + sum(_hwm_kb(d) for d in daemons) + sum(workers[: host_cores()])
    return total / 1024.0
