"""Start and stop the Spark session the benchmark drives.

Everything the JVM and its Python workers write goes under the
benchmark's work directory, and stopping waits for the JVM and its
Python workers to exit.
"""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import tempfile
import threading
import time

from perfbench import procstat

# progress bars only; every other setting is the package's own
QUIET_CONF = {"spark.ui.showConsoleProgress": "false"}


def prepare_env(root: str, work: str) -> None:
    """Point scratch space at ``work`` and make the package importable
    in Python workers. Must run before the JVM is launched."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case something already cached /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)


def start(cores: int, extra_conf: dict | None = None):
    from s3_log_parser_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cores=cores, extra_conf={**QUIET_CONF, **(extra_conf or {})}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown(spark, wait_s: float = 30.0) -> None:
    """Stop the session, then the JVM, and wait until it and the Python
    workers below it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already shut down
        return
    proc = gateway.proc
    workers = procstat.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the gateway JVM exits when its stdin closes, and its Python worker
    # daemon when the JVM's end of its pipe closes
    proc.stdin.close()
    try:
        proc.wait(timeout=wait_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    if not procstat.wait_gone(workers, wait_s):
        for pid in procstat.alive(workers):
            with contextlib.suppress(ProcessLookupError):  # exited meanwhile
                os.kill(pid, signal.SIGKILL)
        procstat.wait_gone(workers, wait_s)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def cancel_after(spark, seconds: float) -> tuple[threading.Timer, threading.Event]:
    """Watchdog: cancel every running job once ``seconds`` pass."""
    fired = threading.Event()

    def fire() -> None:
        fired.set()
        spark.sparkContext.cancelAllJobs()

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t, fired
