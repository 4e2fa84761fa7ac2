"""Robots-exclusion (REP) parsing + the retroactive opt-out gate.

A production crawl corpus carries a robots.txt snapshot per host; an LLM
data pipeline applies it RETROACTIVELY — drop pages whose host has since
opted the training agent out (the ai.robots.txt workflow).  Two
operators:

* :func:`parse_robots` — the (host, robots_txt) table → one rule row per
  ``(host, agent, rule, path_prefix)``.  robots.txt is a SEQUENTIAL
  format (directives bind to the preceding ``User-agent`` group), which
  looks like a per-row Python loop — but it folds: a single JVM
  ``F.aggregate`` over the split lines carries the current agent set in
  its accumulator, so parsing stays in the scan stage with zero Python
  and zero shuffles.
* :func:`robots_gate` — pages × rules → ``allowed`` per page under
  Google-REP precedence: the group is the exact agent's if one exists
  for the host else ``*``; within the group the LONGEST matching prefix
  decides; Allow wins length ties; no matching rule (or no group at
  all) = allowed.

Documented simplification (and the oracle's contract): prefixes are
literal — the REP ``*``/``$`` wildcards are not expanded (the dominant
real-world rule shape; rows containing them still match literally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _fold_lines(lines: F.Column) -> F.Column:
    """REP line fold: returns array of 'agent\\tA|D\\tprefix' rule strings."""
    # accumulator: agents = the current User-agent group (comma-joined),
    # fresh = group still collecting consecutive User-agent lines,
    # rules = collected "agent\tR\tprefix" strings (built lazily — column
    # expressions need an active session, so no module-level constant)
    empty = F.struct(
        F.lit("").alias("agents"),
        F.lit(False).alias("fresh"),
        F.array().cast("array<string>").alias("rules"),
    )

    def step(acc, raw):
        # strip CR (RFC 9309 allows CRLF line endings and F.trim only
        # removes spaces — a '\r' left on the agent name would make the
        # gate's isin('ccbot','*') never match and fail OPEN), then
        # comments + whitespace; lowercase the directive key
        line = F.trim(
            F.regexp_replace(F.regexp_replace(raw, "\r", ""), "#.*$", "")
        )
        key = F.lower(F.trim(F.substring_index(line, ":", 1)))
        val = F.trim(F.substr(line, F.instr(line, ":") + 1))
        has_colon = F.instr(line, ":") > 0
        is_agent = has_colon & (key == F.lit("user-agent"))
        is_rule = has_colon & key.isin("allow", "disallow")
        # RFC 9309: blank lines and comment-only lines are skippable
        # whitespace — they must NOT split a run of consecutive
        # User-agent lines (a comment between two User-agent lines would
        # otherwise drop the first agent's rules and fail OPEN)
        is_blank = line == ""
        agent_l = F.lower(val)
        # consecutive User-agent lines accumulate into ONE group; any
        # directive in between (rule or unknown, but not blank/comment)
        # closes the group (next User-agent starts a fresh one) — the
        # REP grouping rule
        new_agents = (
            F.when(is_agent & acc["fresh"], F.concat_ws(",", acc["agents"], agent_l))
            .when(is_agent, agent_l)
            .otherwise(acc["agents"])
        )
        rule_rows = F.when(
            is_rule & (acc["agents"] != "") & (val != ""),
            F.transform(
                F.split(acc["agents"], ","),
                lambda a: F.concat_ws(
                    "\t",
                    a,
                    F.when(key == "allow", F.lit("A")).otherwise(F.lit("D")),
                    val,
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(
            new_agents.alias("agents"),
            (is_agent | (is_blank & acc["fresh"])).alias("fresh"),
            F.concat(acc["rules"], rule_rows).alias("rules"),
        )

    return F.aggregate(lines, empty, step, lambda acc: acc["rules"])


def parse_robots(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) → (host, agent, rule 'A'|'D', path_prefix).

    One JVM fold per file (see module docstring), then one explode —
    parsing never leaves the scan stage.  Empty-value ``Disallow:``
    lines (REP for "allow everything") emit no row: no rule matches ≡
    allowed, same semantics, no sentinel."""
    rules = robots.select(
        # hosts are case-insensitive; robots_gate joins on the page's
        # LOWERCASED host, so normalize here or a 'Example.COM' snapshot
        # row would silently never match (fail open)
        F.lower(F.col("host")).alias("host"),
        F.explode(_fold_lines(F.split(F.col("robots_txt"), "\n"))).alias("_r"),
    )
    part = lambda i: F.split(F.col("_r"), "\t")[i]  # noqa: E731
    return rules.select(
        "host",
        part(0).alias("agent"),
        part(1).alias("rule"),
        part(2).alias("path_prefix"),
    )


def robots_gate(
    pages: DataFrame,
    rules: DataFrame,
    agent: str,
) -> DataFrame:
    """Append ``allowed`` (bool) to ``pages`` under Google-REP precedence
    for ``agent``, matching each page's ``url``.

    Plan shape: rules collapse to ONE row per host (the matched group's
    rules as a sorted array — exact-agent group wins over ``*`` via a
    max over a (specificity, rules) struct, no window); the single wide
    shuffle is the host join of that per-host array back to the pages
    (AQE broadcasts it — a robots table is |hosts|-sized, tiny next to
    pages).  The longest-match/Allow-wins decision is a row-local fold
    over the host's own rules: per page O(|host rules|), never a
    corpus-wide sort.
    """
    from document_automation_spark.operators.domains import host_col

    agent_l = agent.lower()
    mine = rules.where(F.col("agent").isin(agent_l, "*"))
    # one row per (host, specificity): the group's rules as an array
    grouped = mine.groupBy("host", (F.col("agent") == agent_l).alias("_exact")).agg(
        F.collect_list(
            F.struct(
                F.length("path_prefix").alias("plen"),
                "rule",
                "path_prefix",
            )
        ).alias("_rules")
    )
    # exact-agent group REPLACES '*' when present (REP: most specific
    # group applies, groups don't merge)
    per_host = grouped.groupBy("host").agg(
        F.max(F.struct(F.col("_exact").cast("int").alias("s"), F.col("_rules").alias("r")))
        .alias("_best")
    ).select("host", F.col("_best.r").alias("_rules"))

    # REP: a bare URL ('http://h.com', no slash) addresses the root path.
    # Spark's parser returns '' there (and NULL on unparseable input) —
    # both must normalize to '/' or a host-wide 'Disallow: /' would fail
    # to block its own homepage ('' does not start with '/').
    raw_path = F.try_parse_url(F.col("url"), F.lit("PATH"))
    path = F.when(
        raw_path.isNull() | (raw_path == ""), F.lit("/")
    ).otherwise(raw_path)
    joined = pages.join(
        per_host, host_col() == F.col("host"), "left"
    ).drop("host")
    best = F.aggregate(
        F.col("_rules"),
        F.struct(F.lit(-1).alias("plen"), F.lit("").alias("rule")),
        lambda acc, r: F.when(
            path.startswith(r["path_prefix"])
            & (
                (r["plen"] > acc["plen"])
                # REP tie rule: Allow wins at equal specificity ('A' < 'D'
                # lexically, so the SMALLER rule letter replaces)
                | ((r["plen"] == acc["plen"]) & (r["rule"] < acc["rule"]) & (acc["rule"] != ""))
            ),
            F.struct(r["plen"].alias("plen"), r["rule"].alias("rule")),
        ).otherwise(acc),
    )
    allowed = F.when(F.col("_rules").isNull(), F.lit(True)).otherwise(
        best["rule"] != F.lit("D")
    )
    return joined.withColumn("allowed", allowed).drop("_rules")
