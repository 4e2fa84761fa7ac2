"""Link-graph analytics (operators/linkgraph.py): PageRank parity vs an
independent numpy power iteration, conservation invariants, and the
end-to-end path from the extraction output's link column."""

from __future__ import annotations

import numpy as np
import pytest

from document_automation_spark.operators.linkgraph import host_link_edges, pagerank

# deterministic pseudo-random digraph over 23 nodes, includes dangling
# nodes (appear only as dst) and a self-loop candidate
EDGES = sorted({((i * 7 + 3) % 23, (i * 31 + 11) % 23) for i in range(200)})


def numpy_pagerank(edge_list, n_iters=5, d=0.85):
    nodes = sorted({s for s, _ in edge_list} | {t for _, t in edge_list})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg: dict = {}
    for s, _ in edge_list:
        out_deg[s] = out_deg.get(s, 0) + 1
    r = np.full(n, round(1.0 / n, 12))
    for _ in range(n_iters):
        dangling = sum(r[idx[v]] for v in nodes if v not in out_deg)
        new = np.full(n, (1 - d) / n + d * dangling / n)
        for s, t in edge_list:
            new[idx[t]] += d * r[idx[s]] / out_deg[s]
        r = np.round(new, 12)
    return {v: r[idx[v]] for v in nodes}


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


class TestPagerank:
    def test_matches_numpy_power_iteration(self, edges_df):
        got = {r["node"]: r["rank"] for r in pagerank(edges_df, n_iters=5).collect()}
        want = numpy_pagerank(EDGES, n_iters=5)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-11), v

    def test_ranks_sum_to_one(self, edges_df):
        total = sum(r["rank"] for r in pagerank(edges_df, n_iters=5).collect())
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_zero_iters_is_uniform(self, edges_df):
        rows = pagerank(edges_df, n_iters=0).collect()
        n = len(rows)
        for r in rows:
            assert r["rank"] == pytest.approx(1.0 / n, abs=1e-11)

    def test_authority_ordering(self, spark):
        """A dangling hub every spoke links to must outrank the spokes
        (its mass redistributes uniformly, the spokes' concentrates)."""
        hub_edges = [(i, 0) for i in range(1, 6)]
        df = spark.createDataFrame(hub_edges, "src long, dst long")
        ranks = {r["node"]: r["rank"] for r in pagerank(df, n_iters=10).collect()}
        assert ranks[0] > max(v for k, v in ranks.items() if k != 0)

    def test_negative_iters_raises(self, edges_df):
        with pytest.raises(ValueError):
            pagerank(edges_df, n_iters=-1)

    def test_empty_graph(self, spark):
        df = spark.createDataFrame([], "src long, dst long")
        assert pagerank(df, n_iters=3).count() == 0


class TestHostLinkEdges:
    def test_edges_from_crawl_pages(self, spark):
        """pages → href extraction → host edges → pagerank: the production
        path.  The synthetic fixture's anchors are root-relative, so its
        host edges are self-host (what relative links mean) — the graph
        must cover the fixture's hosts and ranks must sum to 1."""
        from document_automation_spark.sources.pages import pages_df

        pages = pages_df(spark, 120, partitions=4)
        edges = host_link_edges(pages)
        assert edges.count() > 0
        bad = edges.where((edges.src == "(none)") | (edges.dst == "(none)")).count()
        assert bad == 0
        ranks = pagerank(edges, n_iters=5)
        total = sum(r["rank"] for r in ranks.collect())
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_absolute_relative_and_junk_hrefs(self, spark):
        html = (
            '<a href="https://b.com/page">x</a> <a href="/local">y</a>'
            ' <a href="mailto:me@c.com">z</a>'
        ).encode()
        df = spark.createDataFrame(
            [("https://a.com/x", bytearray(html)),
             ("not a url", bytearray(b'<a href="https://b.com/">w</a>')),
             ("https://d.com/p", bytearray(b"%PDF-1.4 no anchors here"))],
            "url string, html binary",
        )
        rows = sorted((r["src"], r["dst"]) for r in host_link_edges(df).collect())
        # a.com: absolute → b.com, relative → a.com itself; mailto has no
        # host → dropped; unparseable page url dropped; PDF yields nothing
        assert rows == [("a.com", "a.com"), ("a.com", "b.com")]


class TestDomainLinkEdges:
    def test_subdomain_farm_folds_onto_registration(self, spark):
        """A link farm fanning out over subdomains of one registration
        collapses to registrable-domain edges — host-level sees N distinct
        sources, domain-level sees one."""
        from document_automation_spark.operators.linkgraph import fold_edges_to_domains

        html = b'<a href="https://victim.co.uk/page">x</a>'
        rows = [
            (f"https://spam{i}.farm.com/p{i}", bytearray(html)) for i in range(6)
        ] + [("https://www.other.com/q", bytearray(html))]
        df = spark.createDataFrame(rows, "url string, html binary")
        host_edges = sorted((r.src, r.dst) for r in host_link_edges(df).collect())
        assert len(host_edges) == 7  # every subdomain its own source
        dom_edges = sorted(
            (r.src, r.dst) for r in fold_edges_to_domains(host_link_edges(df)).collect()
        )
        assert dom_edges == [
            ("farm.com", "victim.co.uk"),
            ("other.com", "victim.co.uk"),
        ]


class TestAnchorTextTerms:
    def test_resolution_branches_and_counts(self, spark):
        from document_automation_spark.operators.linkgraph import anchor_text_terms

        rows = [
            ("http://a.com/x",
             b'<p><a class="z" href="http://b.com/p">Great Site</a> and '
             b'<a href="/local">Home Page</a></p>'),
            ("http://c.com/y",
             b'<a href="//b.com/q">great\nresource</a>'
             b'<a href="mailto:z@z.example">mail me</a>'),
            ("http://d.com/z", b"no anchors here"),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        got = {
            (r.dst, r.term): r.n_refs for r in anchor_text_terms(df).collect()
        }
        assert got == {
            # absolute href -> its own host; text lowercased + tokenized
            ("b.com", "great"): 2,   # once absolute, once protocol-relative
            ("b.com", "site"): 1,
            ("b.com", "resource"): 1,  # newline inside anchor text tokenizes
            # relative href -> the page's own host
            ("a.com", "home"): 1,
            ("a.com", "page"): 1,
            # mailto has no authority -> dropped entirely (no 'mail'/'me')
        }

    def test_min_refs_prunes(self, spark):
        from document_automation_spark.operators.linkgraph import anchor_text_terms

        rows = [
            ("http://a.com/1", b'<a href="http://t.com/">hot word</a>'),
            ("http://a.com/2", b'<a href="http://t.com/">hot</a>'),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        got = {r.term for r in anchor_text_terms(df, min_refs=2).collect()}
        assert got == {"hot"}

    def test_binary_junk_yields_nothing(self, spark):
        from document_automation_spark.operators.linkgraph import anchor_text_terms

        df = spark.createDataFrame(
            [("http://a.com/x", bytes([0xFF, 0xFE, 0x00, 0x80]) * 10)],
            "url string, html binary",
        )
        assert anchor_text_terms(df).count() == 0

    def test_payload_never_shuffles(self, spark):
        """The one Exchange is the (dst, term) count — html stays in the
        scan stage."""
        from document_automation_spark.operators.linkgraph import anchor_text_terms

        df = spark.createDataFrame(
            [("http://a.com/x", b'<a href="/y">t</a>')], "url string, html binary"
        )
        plan = anchor_text_terms(df)._jdf.queryExecution().toString()
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "html" not in m.group(1)
