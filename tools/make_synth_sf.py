"""Synthesize a K× scale directory from an existing sf dir (scale checks).

The driver's round-end measurement may run at a larger, driver-generated
scale factor than the committed /root/testdata fixtures, so optimizations
must hold beyond sf0.1.  This tool builds a K×-row copy of an sf dir with
DuckDB so the frozen bench can be pointed at it
(``SPARK_GRAFT_SF_DIR=<out>``):

* fact tables replicate K× with key columns offset by ``max(key)+1`` per
  replica so join cardinalities scale linearly (no accidental key
  collapse).  Every key domain must be dense (exactly ``0..max``) and
  every foreign key must lie inside its domain; otherwise the tool exits
  non-zero instead of writing colliding or gapped replicas;
* ``documents.text`` gets a per-replica suffix token (`` rK``) so the
  dedup/LSH family sees K near-duplicate variants per original — dup
  STRUCTURE scales with the corpus instead of every replica being
  byte-identical (which would collapse under exact dedup and explode
  under MinHash banding);
* ``embeddings`` are perturbed per replica (+0.001·k) for the same
  reason on the vector side;
* dimension tables (part/supplier/nation/region) copy verbatim.

This is measurement tooling only — the oracle seats stay pinned to the
committed fixtures; a synthetic dir is for TIMING, never correctness.

Usage:
    python tools/make_synth_sf.py <src_sf_dir> <out_dir> [K]

Name the output directory ``sf<N>`` if bench.py should parse its scale
factor from the path (e.g. ``/tmp/synth/sf1``).
"""

from __future__ import annotations

import os
import shutil
import sys


def main() -> None:
    import duckdb

    src = sys.argv[1]
    dst = sys.argv[2]
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)

    con = duckdb.connect()
    con.sql("SET threads TO 16")

    def n(table: str) -> int:
        return con.sql(
            f"SELECT count(*) FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()[0]

    def key_range(table: str, col: str) -> tuple:
        return con.sql(
            f"SELECT min({col}), max({col}), count(DISTINCT {col}) "
            f"FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()

    def span(table: str, col: str) -> int:
        """Replica offset of a key domain: max(key)+1, for dense keys only."""
        lo, hi, distinct = key_range(table, col)
        if lo != 0 or distinct != hi + 1:
            sys.exit(
                f"make_synth_sf: {table}.{col} is not dense 0..max "
                f"(min {lo}, max {hi}, {distinct} distinct); refusing to replicate"
            )
        return hi + 1

    n_docs, n_ev, n_user, n_ord, n_cust, n_vec = (
        span("documents", "doc_id"), span("events", "event_id"),
        span("events", "user_id"), span("orders", "o_orderkey"),
        span("customer", "c_custkey"), span("embeddings", "vec_id"),
    )
    # foreign keys shift with their domain's offset, so they must stay in it
    for table, col, n_dom in (("lineitem", "l_orderkey", n_ord), ("orders", "o_custkey", n_cust)):
        lo, hi, _ = key_range(table, col)
        if lo < 0 or hi >= n_dom:
            sys.exit(
                f"make_synth_sf: {table}.{col} spans {lo}..{hi}, outside its "
                f"key domain 0..{n_dom - 1}; its replicas would collide"
            )
    copies = [
        (
            "documents",
            f"""SELECT doc_id + k*{n_docs} AS doc_id,
                   CASE WHEN k=0 THEN text ELSE text || ' r' || k END AS text,
                   lang, source,
                   CASE WHEN k=0 THEN n_chars
                        ELSE n_chars + 2 + CAST(length(CAST(k AS VARCHAR)) AS BIGINT)
                   END AS n_chars""",
        ),
        (
            "events",
            f"""SELECT event_id + k*{n_ev} AS event_id,
                   ts + INTERVAL (k) SECOND AS ts,
                   user_id + k*{n_user} AS user_id, event_type, value, props""",
        ),
        (
            "lineitem",
            f"""SELECT l_orderkey + k*{n_ord} AS l_orderkey, l_partkey, l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
                   l_returnflag, l_linestatus, l_shipdate""",
        ),
        (
            "orders",
            f"""SELECT o_orderkey + k*{n_ord} AS o_orderkey,
                   o_custkey + k*{n_cust} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority""",
        ),
        (
            "customer",
            f"""SELECT c_custkey + k*{n_cust} AS c_custkey,
                   c_name || CASE WHEN k=0 THEN '' ELSE '_r'||k END AS c_name,
                   c_nationkey, c_acctbal, c_mktsegment""",
        ),
        (
            "embeddings",
            f"""SELECT vec_id + k*{n_vec} AS vec_id,
                   CASE WHEN k=0 THEN embedding
                        ELSE list_transform(embedding,
                                            x -> CAST(x + 0.001*k AS FLOAT))
                   END AS embedding,
                   label""",
        ),
    ]
    for table, select in copies:
        con.sql(
            f"""COPY ({select}
                      FROM read_parquet('{src}/{table}.parquet'), range({k}) t(k))
                TO '{dst}/{table}.parquet'
                (FORMAT PARQUET, ROW_GROUP_SIZE 1000000)"""
        )
        print(table, n(table), "->", con.sql(
            f"SELECT count(*) FROM read_parquet('{dst}/{table}.parquet')"
        ).fetchone()[0])
    for table in ("part", "supplier", "nation", "region"):
        shutil.copy(f"{src}/{table}.parquet", f"{dst}/{table}.parquet")
    with open(f"{dst}/_DONE", "w") as fh:
        fh.write(f"synthesized {k}x from {src}\n")


if __name__ == "__main__":
    main()
