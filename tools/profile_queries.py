"""Per-query profiler for the optimization rounds (guide §1: measure first).

Runs selected bench rows (``bench.BenchRows``: the flagship rows, the
registry seats and the bare-operator rows that override them) in the bench
session, warm (``BenchRows.warm_up``, as in ``bench.py``, then one untimed
rep of each row before its timed reps).  With ``--stages`` it enables the
UI and pulls per-stage metrics from the Spark REST API, so the seconds can
be attributed to stages/operators instead of guessed at; a failed REST
call ends the run.  Also dumps ``explain("formatted")`` per query to
``plans/r06/<query>_<tag>.txt`` when ``--plans <tag>`` is given.

Usage:
    python tools/profile_queries.py [--plans before] [--reps 2] [--stages] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BenchRows, bench_session  # noqa: E402


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4057/api/v1/{path}") as r:
        return json.load(r)


def stage_report(since_stage_id: int) -> list[dict]:
    apps = rest("applications")
    app_id = apps[0]["id"]
    stages = rest(f"applications/{app_id}/stages?status=complete")
    rows = []
    for s in stages:
        if s["stageId"] < since_stage_id:
            continue
        rows.append(
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:80],
                "tasks": s["numCompleteTasks"],
                "run_ms": s.get("executorRunTime", 0),
                "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
                "desc": (s.get("description") or "")[:60],
            }
        )
    return sorted(rows, key=lambda r: -r["run_ms"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans", default=None, help="dump explain to plans/r06/<q>_<tag>.txt")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--stages", action="store_true", help="print per-stage REST metrics")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench_session(
        "profile-queries",
        cpus,
        {"spark.ui.enabled": "true", "spark.ui.port": "4057"} if args.stages else None,
    )
    rows = BenchRows(spark, sf_dir, cpus)
    rows.warm_up()

    for name in args.queries:
        if args.plans:
            os.makedirs("plans/r06", exist_ok=True)
            df = rows.queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(f"plans/r06/{name}_{args.plans}.txt", "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
        # one untimed rep: a row's first run pays its own first-job cost
        # (4.91 s, then 1.37-2.07 s, for exact_dedup at sf0.001, local[4])
        spark.sparkContext.setJobDescription(f"{name} warm-up")
        rows.time(name)
        if args.stages:
            # a failed probe raises: a guessed first stage would attribute
            # every stage since process start to this row
            apps = rest("applications")
            sts = rest(f"applications/{apps[0]['id']}/stages")
            first_stage = max((s["stageId"] for s in sts), default=-1) + 1
        times = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            times.append(round(rows.time(name), 3))
        spark.sparkContext.setJobDescription(None)
        print(f"== {name}: {times} (best {min(times)})")
        if args.stages:
            for r in stage_report(first_stage)[:25]:
                print(
                    f"   stage {r['stage']:>4} tasks={r['tasks']:>3} run={r['run_ms']:>6}ms "
                    f"cpu={r['cpu_ms']:>6}ms shR={r['sh_read_mb']:>7}MB shW={r['sh_write_mb']:>7}MB  {r['name']}  [{r['desc']}]"
                )
    spark.stop()


if __name__ == "__main__":
    main()
