"""Hermetic Spark sessions for the benchmark.

Everything a run writes — Spark local dirs, warehouse, JVM temp files,
event logs, outputs — lives under one run directory inside the checkout,
removed when the run ends.  The package reaches the Python workers as a zip
shipped with ``addPyFile``, so neither the working directory nor the
caller's ``PYTHONPATH`` matters.
"""

from __future__ import annotations

import os
import subprocess
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "document_automation_spark"
#: Python-kernel-bound scans want splits of about a second of kernel work
#: (bench.py and BENCH/BASELINE.md use the same split)
SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "262144",
}


def package_zip(run_dir: str) -> str:
    """Zip the package's ``.py`` files for ``addPyFile``."""
    path = os.path.join(run_dir, f"{PACKAGE}.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, ROOT))
    return path


def spark_conf(run_dir: str, event_log: bool) -> dict:
    """Every key is set explicitly on each build: the session builder keeps
    options from earlier builds in the same process."""
    conf = {
        **SCAN_CONF,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf["spark.eventLog.dir"] = event_log_dir(run_dir)
        conf["spark.eventLog.compress"] = "false"
    return conf


def event_log_dir(run_dir: str) -> str:
    return os.path.join(run_dir, "eventlog")


def prepare_run_dir(run_dir: str) -> None:
    """Point this process (and everything it starts) at ``run_dir`` for temp files."""
    import tempfile

    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def build(run_dir: str, cores: int, zip_path: str, event_log: bool = False):
    """A fresh session on ``local[cores]`` with the package shipped to workers."""
    from document_automation_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf=spark_conf(run_dir, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(zip_path)
    return spark


def shutdown(spark=None, timeout_s: float = 60.0) -> list:
    """Stop the session, then the JVM gateway, and wait until the JVM and
    every process below it (the Python workers) have exited.  Returns the
    pids still alive after ``timeout_s``."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants, wait_gone

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return []
    proc = getattr(gateway, "proc", None)
    # listed before the JVM exits and its children are re-parented
    procs = [proc.pid] + descendants(proc.pid) if proc is not None else []
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
    return wait_gone(procs, timeout_s)
