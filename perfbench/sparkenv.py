"""A Spark session fitted to the host the benchmark runs on.

The program's session factory (``osmzen_spark.session.get_spark``)
sizes the driver heap for a much larger machine, so the benchmark
overrides only what must fit this host: ``local[nproc]``, a driver
heap taken from ``MemAvailable``, scratch space inside the work
directory, and (for traced runs only) an uncompressed, non-rolling
event log. Everything else is the program's own configuration.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time

from procstat import tree_pids

_GIB = 1 << 30


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory() -> str:
    """2 GiB, or a quarter of the available memory if that is less (at
    least 1 GiB). The inputs are small and the host's memory is shared;
    the cap keeps the heap, and so the GC's behaviour, the same from
    run to run while 8 GiB or more are available."""
    gib = min(2, max(1, mem_available_bytes() // (4 * _GIB)))
    return f"{gib}g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Process environment for the session; call before pyspark starts.

    Python workers import ``osmzen_spark`` from the checkout, and every
    temporary file (Spark local dirs, checkpoint dirs, JVM tmp) lands
    inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    # the program's default JVM flags plus a tmpdir inside the work dir
    os.environ["SPARK_DRIVER_JAVA_OPTIONS"] = (
        "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing "
        f"-Djava.io.tmpdir={tmp}"
    )


def start_session(event_log_dir: str | None = None):
    from osmzen_spark.session import get_spark

    n = cpus()
    conf = {"spark.ui.enabled": "false", "spark.local.dir": os.environ["TMPDIR"]}
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=max(n, 8),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process the
    session started (JVM, Python worker daemon, workers) has ended."""
    from pyspark import SparkContext

    me = os.getpid()
    spark.stop()
    started = [p for p in tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # workers re-parented away from us: wait for them to go
    deadline = time.monotonic() + 20
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
