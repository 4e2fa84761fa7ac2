"""N→4N scaling probes for the traced run, in a second process.

Run as ``python3 -m perfbench.scaling WORKLOAD INPUT RUN_DIR NPROC`` from
the repository root; prints one JSON line with

* ``pages_per_s``: the durable extraction job on ``local[1]`` (a fresh JVM),
  same input, timed after a warm-up call on its first ``WARM_PAGES`` pages;
* ``kernel_s``: wall seconds of the pure-Python kernel over the first
  ``KERNEL_PAGES`` pages in 1 and in NPROC spawned processes — the hardware
  calibration of BENCH/BASELINE.md.

The process pools live and die inside this child.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

KERNEL_PAGES = 4000
WARM_PAGES = 400


def probe(workload: str, input_path: str, run_dir: str, nproc: int, timeout_s: float) -> dict:
    """Run the child and return its JSON record."""
    from perfbench.sparkenv import ROOT

    out = subprocess.run(
        [sys.executable, "-m", "perfbench.scaling", workload, input_path, run_dir, str(nproc)],
        cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=ROOT),
        stdout=subprocess.PIPE,
        timeout=timeout_s,
        check=True,
    )
    return json.loads(out.stdout.decode().strip().splitlines()[-1])


def _child(workload: str, input_path: str, run_dir: str, nproc: int) -> None:
    import pyarrow.parquet as pq

    from document_automation_spark.plans.checkpoint import run_extraction_job
    from perfbench import sparkenv
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload]
    sparkenv.prepare_run_dir(run_dir)
    column = "text" if wl.from_text else "html"
    table = pq.read_table(input_path, columns=["url", column]).slice(0, KERNEL_PAGES)
    pages = list(zip(table.column("url").to_pylist(), table.column(column).to_pylist()))
    kernel_s = {str(n): kernel_seconds(pages, wl.from_text, n) for n in (1, nproc)}

    spark = sparkenv.build(run_dir, 1, sparkenv.package_zip(run_dir))
    try:
        df = spark.read.parquet(input_path)
        cfg, fn = wl.cfg(), wl.docs_fn()
        warm = df.limit(WARM_PAGES)
        run_extraction_job(spark, warm, os.path.join(run_dir, "warm"), "warm", cfg, docs_fn=fn)
        t0 = time.perf_counter()
        run_extraction_job(spark, df, os.path.join(run_dir, "timed"), "scaling", cfg, docs_fn=fn)
        wall = time.perf_counter() - t0
    finally:
        sparkenv.shutdown(spark)
    n = pq.ParquetFile(input_path).metadata.num_rows
    print(json.dumps({"pages_per_s": n / wall, "kernel_s": kernel_s}), flush=True)


def _kernel_chunk(args) -> int:
    from document_automation_spark.kernels.page import extract_page, rows_from_text

    from_text, pages = args
    n = 0
    for url, payload in pages:
        n += len(rows_from_text(url, payload) if from_text else extract_page(url, payload))
    return n


def kernel_seconds(pages: list, from_text: bool, n_procs: int) -> float:
    """Wall seconds for ``n_procs`` spawned processes to run the kernel over
    ``pages`` (``(url, payload)`` pairs), measured after the pool is up and
    has imported the kernel."""
    import multiprocessing

    chunks = [(from_text, pages[i::n_procs]) for i in range(n_procs)]
    with multiprocessing.get_context("spawn").Pool(n_procs) as pool:
        # warm-up: every worker imports the kernel and runs it a little
        pool.map(_kernel_chunk, [(from_text, pages[:20])] * n_procs, chunksize=1)
        t0 = time.perf_counter()
        pool.map(_kernel_chunk, chunks, chunksize=1)
        wall = time.perf_counter() - t0
        pool.close()
        pool.join()
    return wall


if __name__ == "__main__":
    _child(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]))
