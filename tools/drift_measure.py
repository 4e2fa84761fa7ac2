"""Calm-window re-measure protocol for flagged bench-row drift.

The shared host's load swings bench rows by ±40% (BENCH/BASELINE.md);
this tool makes a drift claim decidable: it interleaves a fixed pure-JVM
SENTINEL workload (whose true cost never changes across rounds) with the
flagged row, runs many reps, and reports each row's best-of over only the
CALM reps — reps whose sentinel time sat within 25% of the session's best
sentinel.  A regression that survives calm-window best-of is real; one
that disappears was host noise.

    python tools/drift_measure.py [reps] [row ...]

Rows default to the flagship trio.  Rows are the ones bench.py times
(``bench.BenchRows``), at $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS in the
bench session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import FLAGSHIP_ROWS, BenchRows, bench_session, noop_sink, sf_of  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    names = sys.argv[2:] or list(FLAGSHIP_ROWS)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spark = bench_session("drift-measure", cpus)
    rows = BenchRows(spark, sf_dir, cpus)

    def sentinel() -> float:
        """Fixed pure-JVM workload: codegen'd aggregation over a range —
        no disk, no Python, so its time moves only with host load."""
        from pyspark.sql import functions as F

        t0 = time.time()
        noop_sink(
            spark.range(30_000_000).select(
                (F.col("id") * 2654435761 % 1000003).alias("k")
            ).groupBy("k").count()
        )
        return time.time() - t0

    rows.warm_up()
    sentinel()  # sentinel codegen warm-up

    samples: dict = {name: [] for name in names}
    sentinels: list = []
    for rep in range(reps):
        s = sentinel()
        sentinels.append(round(s, 3))
        for name in names:
            samples[name].append(round(rows.time(name), 3))

    best_sentinel = min(sentinels)
    calm = [i for i, s in enumerate(sentinels) if s <= best_sentinel * 1.25]
    report = {
        "sentinels": sentinels,
        "calm_reps": calm,
        "rows": {
            name: {
                "samples": vals,
                "best": min(vals),
                "calm_best": min(vals[i] for i in calm),
            }
            for name, vals in samples.items()
        },
        "n_pages": rows.n_pages,
        "cpus": cpus,
        "sf": sf_of(sf_dir),
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
