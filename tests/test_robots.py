"""Robots-exclusion parsing + the retroactive opt-out gate
(operators/robots.py): REP grouping, precedence, and a pure-Python
replay on randomized snapshots."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.robots import parse_robots, robots_gate


@pytest.fixture(scope="module")
def snapshot(spark):
    rows = [
        (
            # mixed-case host (case-insensitive, must still gate a.com) and
            # a comment + blank line INSIDE the User-agent run (RFC 9309
            # skippable whitespace — GPTBot must keep the group's rules)
            "A.com",
            "# comment\nUser-agent: GPTBot\n# ai policy\n\nUser-agent: CCBot\n"
            "Disallow: /private\nAllow: /private/ok\nDisallow:\n\n"
            "User-agent: *\nDisallow: /all",
        ),
        ("b.com", "User-agent: *\nDisallow: /"),
        # CRLF line endings (RFC 9309 allows them) — must gate like b.com
        ("crlf.com", "User-agent: *\r\nDisallow: /\r\n"),
        ("c.com", "User-agent: OtherBot\nDisallow: /"),
        ("t.com", "User-agent: *\nDisallow: /dir\nAllow: /dir"),
        ("u.com", "User-agent: *\nAllow: /dir\nDisallow: /dir"),
        ("v.com", "no directives at all"),
    ]
    return spark.createDataFrame(rows, "host string, robots_txt string")


class TestParse:
    def test_rule_rows(self, snapshot):
        rules = {
            (r.host, r.agent, r.rule, r.path_prefix)
            for r in parse_robots(snapshot).collect()
        }
        # consecutive User-agent lines form ONE group; both agents get
        # every rule; comments and empty Disallow emit nothing
        assert ("a.com", "ccbot", "D", "/private") in rules
        assert ("a.com", "gptbot", "D", "/private") in rules
        assert ("a.com", "ccbot", "A", "/private/ok") in rules
        assert ("a.com", "*", "D", "/all") in rules
        assert ("c.com", "otherbot", "D", "/") in rules
        assert not any(h == "v.com" for h, *_ in rules)
        assert not any(p == "" for *_, p in rules)

    def test_fold_is_scan_stage(self, snapshot):
        """Parsing must not shuffle — the explode output's only Exchange
        comes from downstream consumers, not the parse itself."""
        plan = parse_robots(snapshot)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestGate:
    def test_precedence_matrix(self, spark, snapshot):
        pages = spark.createDataFrame(
            [
                ("http://a.com/private/ok/x", True),   # longer Allow wins
                ("http://a.com/private/no", False),
                ("http://a.com/public", True),          # no rule matches
                ("http://a.com/all", True),             # exact group REPLACES '*'
                ("http://b.com/anything", False),       # '*' Disallow /
                ("http://b.com", False),                # bare URL = root path
                ("http://crlf.com/x", False),           # CRLF robots.txt
                ("http://v.com", True),                 # bare URL, rule-less host
                ("http://c.com/x", True),               # no group for this agent
                ("http://d.com/x", True),               # host absent from snapshot
                ("http://t.com/dir/x", True),           # tie -> Allow wins
                ("http://u.com/dir/x", True),           # tie, either order
                ("http://v.com/x", True),               # rule-less host
            ],
            "url string, expect boolean",
        )
        out = robots_gate(pages, parse_robots(snapshot), agent="CCBot")
        bad = out.where(F.col("allowed") != F.col("expect")).collect()
        assert bad == []

    def test_agent_case_insensitive(self, spark, snapshot):
        pages = spark.createDataFrame([("http://a.com/private/no",)], "url string")
        rules = parse_robots(snapshot)
        for agent in ("ccbot", "CCBOT", "CcBot"):
            assert robots_gate(pages, rules, agent=agent).collect()[0].allowed is False


class TestRandomizedReplay:
    """Operator vs an independent pure-Python REP replay on randomized
    snapshots + urls."""

    @staticmethod
    def _replay(snapshots, urls, agent):
        import re as _re

        agent = agent.lower()
        per_host: dict = {}
        for host, txt in snapshots:
            agents: list = []
            fresh = False
            rules: list = []
            for raw in txt.split("\n"):
                line = _re.sub(r"#.*$", "", raw.replace("\r", "")).strip()
                if not line:  # blank/comment: skippable, keeps the UA run
                    continue
                if ":" not in line:
                    fresh = False
                    continue
                key, _, val = line.partition(":")
                key, val = key.strip().lower(), val.strip()
                if key == "user-agent":
                    if fresh:
                        agents.append(val.lower())
                    else:
                        agents, fresh = [val.lower()], True
                    continue
                fresh = False
                if key in ("allow", "disallow") and val and agents:
                    for a in agents:
                        rules.append((a, "A" if key == "allow" else "D", val))
            per_host[host.lower()] = rules
        out = {}
        for url in urls:
            rest = url.split("://", 1)[1]
            host, slash, path = rest.partition("/")
            path = (slash + path) or "/"  # bare URL = root path (REP)
            rules = per_host.get(host, [])
            group = (
                [r for r in rules if r[0] == agent]
                if any(r[0] == agent for r in rules)
                else [r for r in rules if r[0] == "*"]
            )
            matches = [
                (len(p), rule) for (_, rule, p) in group if path.startswith(p)
            ]
            if not matches:
                out[url] = True
            else:
                # longest prefix; Allow wins ties ('A' < 'D')
                plen, rule = max(matches, key=lambda m: (m[0], m[1] == "A"))
                out[url] = rule == "A"
        return out

    def test_matches_python_replay(self, spark):
        import random

        rng = random.Random(3)
        hosts = [f"r{i}.example.com" for i in range(12)]
        snapshots = []
        for h in hosts:
            lines = []
            for _ in range(rng.randint(1, 3)):
                n_agents = rng.randint(1, 2)
                for _ in range(n_agents):
                    lines.append(
                        "User-agent: " + rng.choice(["ccbot", "*", "other", "CCBot"])
                    )
                    if rng.random() < 0.3:  # comment/blank inside the UA run
                        lines.append(rng.choice(["# inter-agent noise", ""]))
                for _ in range(rng.randint(0, 3)):
                    kind = rng.choice(["Allow", "Disallow"])
                    prefix = rng.choice(["/a", "/a/b", "/b", "/", ""])
                    lines.append(f"{kind}: {prefix}")
                if rng.random() < 0.5:
                    lines.append("# noise")
            snapshots.append((h, "\n".join(lines)))
        urls = [
            f"http://{rng.choice(hosts + ['x.example.com'])}"
            + rng.choice(["/a", "/a/b/c", "/b/x", "/c", "/", ""])
            for _ in range(80)
        ]
        rules = parse_robots(
            spark.createDataFrame(snapshots, "host string, robots_txt string")
        )
        pages = spark.createDataFrame([(u,) for u in set(urls)], "url string")
        got = {r.url: r.allowed for r in robots_gate(pages, rules, "CCBot").collect()}
        assert got == self._replay(snapshots, set(urls), "CCBot")
