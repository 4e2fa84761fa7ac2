"""The repository benchmark.

    python3 perfbench/run.py --workload {extract_warc,wet_resume}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One process, one Spark job at a time on
``local[nproc]`` (a closed loop: the next call starts when the previous one
returned).  The run:

1. regenerates the fixture canary and the workload input from ``--seed``
   (digests are compared with ``perfbench/pins.json`` for the default seed;
   a drift fails the run);
2. sets up: one session build (which launches the JVM), the input opened,
   then untimed warm-up rounds on the workload's own code path until the JVM
   is warm.  ``setup_s`` is the wall time from process start to the first
   timed call, less the benchmark's own input synthesis and digest checks;
3. times as many rounds as fill ``--seconds`` at the workload's nominal
   round time, checking each round's output against the pure kernel on a
   seeded url sample;
4. with ``--trace 1`` (the session then writes a Spark event log), times
   one round, then one more with spans and a Spark job group per span,
   probes every layer once, runs the N→4N scaling probes, and reports
   per-layer metrics instead of end-to-end ones.

Earlier stdout lines carry a ``{"info": ...}`` record (digests, per-round
values, problems and, when traced, the spans); the last line is the result:
``{"correct", "attempted", "failed", "metrics"}``.  Everything the run writes
goes under ``.perfbench_run/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_run")
#: rounds without and with spans in a traced run: one each keeps the traced
#: run well inside 180 s on a 4-core host
TRACED_ROUNDS = 1
SCALING_TIMEOUT_S = 150

#: name -> (unit, better); mirrored in BENCHMARK.json
END_TO_END = {
    "pages_per_s": ("pages/s", "higher"),
    "resume_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "bytes_per_page": ("B/page", "lower"),
}
PER_LAYER = {
    **{f"kernels.page_us.{k}": ("us", "lower") for k in ("html", "pdf", "gzip", "gbk", "broken")},
    "kernels.text_us": ("us", "lower"),
    "kernels.passages_per_page": ("passages/page", "higher"),
    "kernels.quarantine_frac": ("ratio", "lower"),
    "boundary.identity_s": ("s", "lower"),
    "boundary.share": ("ratio", "lower"),
    "extract.noop_s": ("s", "lower"),
    "extract.rows_out": ("count", "higher"),
    "checkpoint.job_s": ("s", "lower"),
    "checkpoint.write_s": ("s", "lower"),
    "checkpoint.done_buckets_s": ("s", "lower"),
    "checkpoint.files": ("count", "lower"),
    "checkpoint.bytes": ("B", "lower"),
    "checkpoint.buckets_processed": ("count", "lower"),
    "checkpoint.buckets_skipped": ("count", "higher"),
    "checkpoint.redo_frac": ("ratio", "lower"),
    "urls.dedup_s": ("s", "lower"),
    "urls.loser_frac": ("ratio", "higher"),
    "urls.build_jobs": ("count", "lower"),
    "curate.s": ("s", "lower"),
    "curate.dedup_frac": ("ratio", "higher"),
    "curate.quarantine_frac": ("ratio", "lower"),
    "dedup.paragraphs_s": ("s", "lower"),
    "dedup.build_jobs": ("count", "lower"),
    "webtext_quality.filter_s": ("s", "lower"),
    "webtext_quality.keep_frac": ("ratio", "higher"),
    "embed.s": ("s", "lower"),
    "embed.build_jobs": ("count", "lower"),
    "partitioning.build_jobs": ("count", "lower"),
    "ingest.s": ("s", "lower"),
    "ingest.self_s": ("s", "lower"),
    "session.build_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.run_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.slot_util": ("ratio", "higher"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.peak_exec_mem_bytes": ("B", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "scaling.eff_1to4": ("ratio", "higher"),
    "scaling.hw_eff_1to4": ("ratio", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
    "mem.peak_rss_mb": ("MB", "lower"),
}


class InputDrift(RuntimeError):
    """A regenerated input does not match its pinned digest."""


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list = []


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def n_rounds(wl, seconds: float) -> int:
    """Rounds that fill about ``seconds`` at the workload's nominal round
    time.  A fixed count, not a deadline: the rounds get faster as the JVM
    warms, so a deadline would make the count, and with it the median,
    jump between runs."""
    return max(1, int(seconds // wl.nominal_round_s))


def measure(ctx, wl, rounds_wanted: int, tally: Tally) -> list:
    """``rounds_wanted`` timed rounds, each checked against the expected
    sample as soon as it returns."""
    from perfbench.workloads import Round, disk_usage

    rounds: list = []
    kept = None  # the latest round that completed: the final checks read its output
    while len(rounds) < rounds_wanted:
        out = ctx.new_out()
        t0 = time.perf_counter()
        with ctx.tracer.span("round"):
            try:
                rnd = wl.run_round(ctx, out)
                bad = wl.failed_urls(ctx, rnd)
            except Exception as err:  # noqa: BLE001 — a raising call fails every page
                traceback.print_exc(file=sys.stderr)
                elapsed = time.perf_counter() - t0
                rnd = Round(elapsed, elapsed, out, [], [f"round raised {type(err).__name__}"])
                bad = list(ctx.expected)
        tally.attempted += len(ctx.expected)
        tally.failed += len(bad)
        if bad:
            rnd.problems.append(f"{len(bad)} sampled urls wrong or missing, e.g. {bad[:3]}")
        tally.problems += rnd.problems
        rnd.bytes = disk_usage(out)[1]
        rounds.append(rnd)
        if not rnd.summaries:
            shutil.rmtree(out, ignore_errors=True)
            continue
        if kept is not None:
            shutil.rmtree(kept.out, ignore_errors=True)
        kept = rnd
    return rounds


def output_problems(ctx, wl, rnd, seed: int, pins: dict, info: dict) -> list:
    """Digest the final tables (compared with the pins for the default
    seed) and run the workload's whole-table checks."""
    from perfbench import checks
    from perfbench.inputs import DEFAULT_SEED

    from document_automation_spark.plans.checkpoint import data_path

    problems = wl.final_problems(ctx, rnd)
    digests = {"data": checks.table_digest(data_path(rnd.out))}
    info["output_digests"] = digests
    pinned = pins["outputs"].get(wl.name, {}) if seed == DEFAULT_SEED else {}
    for name, digest in digests.items():
        if name in pinned and pinned[name] != digest:
            problems.append(f"output table {name} differs from its pinned digest")
    return problems


def run(args, wl, run_dir: str) -> tuple:
    from perfbench import checks, sparkenv
    from perfbench.inputs import DEFAULT_SEED, canary_digest, load_pins, parquet_digest
    from perfbench.tracing import PeakRss, Tracer
    from perfbench.workloads import Ctx

    sparkenv.prepare_run_dir(run_dir)
    import pyspark  # noqa: F401  (counted in set-up: the import a user pays)

    import document_automation_spark.jobs.ingest_pipeline  # noqa: F401

    seed = DEFAULT_SEED if args.seed is None else args.seed
    nproc = len(os.sched_getaffinity(0))
    pins = load_pins()
    tally = Tally()
    info: dict = {"workload": wl.name, "seed": seed, "nproc": nproc}
    peak_rss = PeakRss().start() if args.trace else None

    # -- inputs (not set-up: the benchmark's own synthesis and checks) -----
    t_inputs = time.perf_counter()
    if canary_digest() != pins["canary"]:
        raise InputDrift("sources.pages.gen_rows no longer reproduces the pinned canary pages")
    pages = wl.make_input(seed)
    info["input_digest"] = pages.digest
    if seed == DEFAULT_SEED and pins["inputs"].get(wl.name, pages.digest) != pages.digest:
        raise InputDrift(f"{wl.name} input for seed {seed} differs from its pinned digest")
    pages_path = os.path.join(run_dir, "pages.parquet")
    pages.write_parquet(pages_path)
    if parquet_digest(pages_path) != pages.digest:
        raise InputDrift("the written input does not read back to its digest")
    expected = checks.expected_rows(
        pages, checks.sample_indices(pages.base_n, seed), wl.from_text
    )
    inputs_s = time.perf_counter() - t_inputs

    # -- set-up: one session (it launches the JVM), the input, the warm-up --
    zip_path = sparkenv.package_zip(run_dir)
    t0 = time.perf_counter()
    spark = sparkenv.build(run_dir, nproc, zip_path, event_log=bool(args.trace))
    build_s = time.perf_counter() - t0
    spark.read.parquet(pages_path).schema  # noqa: B018 — open the input
    ctx = Ctx(spark, Tracer(), run_dir, pages_path, pages, expected, nproc, zip_path, seed)
    warm_s = warm_up(ctx, wl)
    setup_s = time.perf_counter() - T_START - inputs_s
    info["setup"] = {"setup_s": setup_s, "inputs_s": inputs_s, "build_s": build_s,
                     "warmup_s": warm_s}

    # -- timed rounds (in a traced run: the untraced reference) -----------
    rounds = measure(ctx, wl, TRACED_ROUNDS if args.trace else n_rounds(wl, args.seconds), tally)
    completed = [r for r in rounds if r.summaries]
    if completed:
        tally.problems += output_problems(ctx, wl, completed[-1], seed, pins, info)
    n_input = len(pages.rows)
    info["rounds"] = [{"call_s": r.call_s, "resume_s": r.resume_s, "bytes": r.bytes}
                      for r in rounds]
    pages_per_s = statistics.median(n_input / r.call_s for r in rounds)
    metrics = {
        "pages_per_s": pages_per_s,
        "resume_s": statistics.median(r.resume_s for r in rounds),
        "setup_s": setup_s,
        "bytes_per_page": statistics.median(r.bytes / n_input for r in rounds),
    }
    if args.trace:
        metrics = traced(ctx, wl, tally, info, pages_per_s)
        metrics.update({
            "session.build_s": build_s,
            "session.warmup_s": warm_s,
            "mem.peak_rss_mb": peak_rss.stop() / 2**20,
        })
    else:
        sparkenv.shutdown(spark)
    info["problems"] = tally.problems
    info["failed_frac"] = tally.failed / max(tally.attempted, 1)
    wanted = PER_LAYER if args.trace else END_TO_END
    missing = sorted(set(wanted) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    result = {
        "correct": not tally.problems and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": wanted[k][0]} for k in wanted},
    }
    return info, result


def warm_up(ctx, wl) -> float:
    """Untimed rounds on the workload's own path: every Python worker
    imports the package and the JVM compiles the hot paths."""
    with ctx.tracer.span("warmup") as span:
        wl.warm_up(ctx)
    return span["wall_s"]


def traced(ctx, wl, tally, info, untraced_pps) -> dict:
    """Rounds again with spans and Spark job groups, then every layer probe;
    returns the per-layer metrics and leaves the JVM stopped."""
    from perfbench import scaling, sparkenv
    from perfbench.tracing import EventLog, Tracer
    from perfbench.workloads import probe_kernels, probe_layers, redo_frac

    ctx.tracer = tracer = Tracer(ctx.spark.sparkContext)
    rounds = measure(ctx, wl, TRACED_ROUNDS, tally)
    n_input = len(ctx.pages.rows)
    traced_pps = statistics.median(n_input / r.call_s for r in rounds)
    info["traced_rounds"] = [{"call_s": r.call_s, "resume_s": r.resume_s} for r in rounds]
    m, problems = probe_layers(ctx, wl)
    tally.problems += problems
    last = next((r for r in reversed(rounds) if r.summaries), None)
    if last is None:
        raise RuntimeError("every traced round raised")
    m["checkpoint.buckets_processed"] = last.summaries[1]["buckets_processed"]
    m["checkpoint.buckets_skipped"] = last.summaries[1]["buckets_skipped"]
    m["checkpoint.redo_frac"] = redo_frac(last)
    m["trace.overhead_frac"] = 1.0 - traced_pps / untraced_pps
    sparkenv.shutdown(ctx.spark)  # flushes and closes the event log
    tracer.sc = None  # the spans below start no Spark jobs in this process

    with tracer.span("kernels"):
        m.update(probe_kernels(ctx))
    with tracer.span("scaling"):
        child = scaling.probe(
            wl.name, ctx.pages_path, os.path.join(ctx.run_dir, "scaling"), ctx.nproc,
            SCALING_TIMEOUT_S,
        )
    m["scaling.eff_1to4"] = (n_input / m["checkpoint.job_s"]) / (ctx.nproc * child["pages_per_s"])
    k1, kn = child["kernel_s"]["1"], child["kernel_s"][str(ctx.nproc)]
    m["scaling.hw_eff_1to4"] = k1 / (ctx.nproc * kn)

    log = EventLog.read(sparkenv.event_log_dir(ctx.run_dir))
    m.update(spark_metrics(log, tracer, ctx.nproc))
    m.update(ingest_metrics(log, tracer))
    info["spans"] = span_records(log, tracer, ctx.nproc)
    return m


def _groups_under(tracer, roots) -> set:
    ids = {s["id"] for s in roots}
    for s in tracer.spans:  # spans are recorded parent-first
        if s["parent"] in ids:
            ids.add(s["id"])
    return {tracer.group(tracer.spans[i]) for i in ids}


def spark_metrics(log, tracer, nproc) -> dict:
    """Task metrics of the traced rounds, per round."""
    rounds = [s for s in tracer.spans if s["name"] == "round"]
    st = log.stats(_groups_under(tracer, rounds), sum(s["wall_s"] for s in rounds), nproc)
    n = len(rounds)
    per_round = ("jobs", "tasks", "cpu_s", "run_s", "gc_s", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes")
    m = {f"spark.{k}": st[k] / n for k in per_round}
    for k in ("core_util", "slot_util", "task_skew", "peak_exec_mem_bytes", "failed_tasks"):
        m[f"spark.{k}"] = st[k]
    return m


def ingest_metrics(log, tracer) -> dict:
    """``ingest.s`` and its driver-only part: wall time during which none of
    the ingest's Spark jobs was running."""
    spans = [s for s in tracer.spans if s["name"] == "jobs.run_ingest_pipeline"]
    selfs = [
        s["wall_s"] - log.busy_s({tracer.group(s)}, s["start"] * 1e3, s["end"] * 1e3)
        for s in spans
    ]
    return {
        "ingest.s": statistics.median(s["wall_s"] for s in spans),
        "ingest.self_s": statistics.median(selfs),
    }


def span_records(log, tracer, nproc) -> list:
    """Spans relative to the first one, each with the Spark work of its own
    job group."""
    t0 = tracer.spans[0]["start"]
    records = []
    for s in tracer.spans:
        rec = {"id": s["id"], "name": s["name"], "parent": s["parent"],
               "start": s["start"] - t0, "end": s["end"] - t0}
        st = log.stats({tracer.group(s)}, s["wall_s"], nproc)
        if st["jobs"]:
            rec["spark"] = {k: st[k] for k in ("jobs", "tasks", "cpu_s", "run_s", "core_util",
                                               "shuffle_write_bytes", "fetch_wait_s")}
        records.append(rec)
    return records


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "document_automation_spark")):
        print("perfbench: no document_automation_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from perfbench import sparkenv
    from perfbench.workloads import WORKLOADS

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    try:
        info, result = run(args, WORKLOADS[args.workload], run_dir)
    finally:
        left = sparkenv.shutdown()
        if left:
            print(f"perfbench: processes still running after shutdown: {left}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass  # another run is using it
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
