"""Skew-aware aggregation and joins: two-phase salted group-by, salted join.

The reference has NO skew handling (SURVEY.md §4 — ``batch_size=1`` is its
only crude guard); at 10^12 Common-Crawl rows, host-level Zipf skew is the
dominant operational risk: one hot host (a few % of all urls) lands on one
reducer and stalls the stage.  Two explicit mechanisms, composable with
AQE's runtime skew-join splitting:

* ``salted_agg`` — the classic two-phase rewrite: ``groupBy(key, salt)``
  partial-aggregates ``n_salt``-way-split hot groups, then a second tiny
  ``groupBy(key)`` merges the partials.  Correct for any algebraic
  aggregate (sum/count/min/max); result is IDENTICAL to the naive plan,
  so the DuckDB oracle is the plain GROUP BY.
* ``salted_join`` — the explicit hot-key join lever: the fact side is
  salted per task and the dim side replicated ``n_salt`` ways, so one hot
  key spreads over ``n_salt`` reducers.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Salts per key in :func:`salted_agg`.
N_SALT = 16


def salted_agg(df: DataFrame, key_cols: Sequence[str], aggs: dict) -> DataFrame:
    """Two-phase salted aggregation over :data:`N_SALT` salts,
    result-identical to a plain groupBy.

    ``aggs`` maps output column name → ("sum"|"count"|"min"|"max",
    input column) — the algebraic aggregates whose partials re-merge with
    the same function (count partials re-merge with SUM).  Phase 2's input
    has at most ``n_groups × N_SALT`` rows — always tiny.
    """
    # partition-id salt: deterministic per task, uniform enough to split
    # any hot group across ~N_SALT reducers
    salt = F.pmod(F.spark_partition_id().cast("long"), F.lit(N_SALT))

    phase1_aggs = []
    phase2_aggs = []
    for out_name, (fn, col) in aggs.items():
        partial = f"__p_{out_name}"
        if fn == "count":
            phase1_aggs.append(F.count(col if col != "*" else F.lit(1)).alias(partial))
            phase2_aggs.append(F.sum(partial).alias(out_name))
        elif fn == "sum":
            phase1_aggs.append(F.sum(col).alias(partial))
            phase2_aggs.append(F.sum(partial).alias(out_name))
        elif fn == "min":
            phase1_aggs.append(F.min(col).alias(partial))
            phase2_aggs.append(F.min(partial).alias(out_name))
        elif fn == "max":
            phase1_aggs.append(F.max(col).alias(partial))
            phase2_aggs.append(F.max(partial).alias(out_name))
        else:
            raise ValueError(f"non-algebraic aggregate: {fn}")

    partials = df.withColumn("__salt", salt).groupBy(*key_cols, "__salt").agg(*phase1_aggs)
    return partials.groupBy(*key_cols).agg(*phase2_aggs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key_cols: Sequence[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join, result-identical to ``fact.join(dim, key_cols,
    how)`` for ``inner``/``left`` joins.

    A sort-merge join on a 95%-hot key puts 95% of the fact table into ONE
    reducer; AQE's skew-join split fixes this at runtime, but only for
    shuffle joins it can see the sizes of — this is the explicit/manual
    lever for when AQE is unavailable (plan boundaries, disabled, or a
    storage-partitioned join).  Mechanism: every fact row gets a
    deterministic task-local salt; the dim side is replicated ``n_salt``
    ways (dims are the small side by definition — replication is cheap);
    the join keys on (key…, salt), splitting each hot key across
    ``n_salt`` reducers.  Each fact row still matches exactly one dim
    replica, so multiplicities are unchanged.

    ``right``/``full`` joins are rejected: an unmatched dim row would
    surface once per replica.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.spark_partition_id().cast("long"), F.lit(n_salt))
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salt)]))
    )
    return salted_fact.join(salted_dim, [*key_cols, "__salt"], how).drop("__salt")
