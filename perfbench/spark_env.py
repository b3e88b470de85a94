"""Session start and stop for the benchmark, with all files kept in the work dir.

The session is the library's own :func:`build_session` on ``local[nproc]``.
The benchmark adds only what keeps it inside its checkout (local dirs, JVM
temp dir, warehouse) and, for traced runs, an uncompressed event log. The
heap is the library's default: ``SPARK_GRAFT_DRIVER_MEM`` is cleared
before the session starts, so the environment cannot change what is
measured, and the heap in use is recorded with every run.
"""

from __future__ import annotations

import os
import subprocess

WORK = ".bench_work"
# The session's ``spark.driver.memory``, set by ``start_session``.
driver_memory = ""


def work_dir(*parts: str) -> str:
    path = os.path.abspath(os.path.join(WORK, *parts))
    os.makedirs(path, exist_ok=True)
    return path


def start_session(event_log_dir: str | None = None):
    """Start the library session; returns it with its log level at ERROR."""
    global driver_memory
    from stream_processing_pipeline_spark.session import build_session

    tmp = work_dir("tmp")
    os.environ["TMPDIR"] = tmp  # python workers and tempfile users
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    conf = {
        "spark.local.dir": work_dir("spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": work_dir("warehouse"),
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    driver_memory = spark.sparkContext.getConf().get("spark.driver.memory")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        spark.sparkContext._gateway.shutdown()
    except Exception:  # the gateway may already be gone; the wait below decides
        pass
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
