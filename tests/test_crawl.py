"""robots.txt parsing + gating semantics (RFC 9309 longest-match
prefix subset, see operators/crawl.py): group binding, comment
stripping, empty-Disallow, longest-match with Allow tie-break, and the
most-specific-group rule (an agent with its OWN group must not also
inherit the * group)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ascii_hydra_spark.operators import crawl

BODY = (
    "# global politeness file\n"
    "User-agent: evilbot\n"
    "Disallow: /\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /private  # members only\n"
    "Allow: /private/ok\n"
    "Disallow: /tmp\n"
    "Disallow:\n"
    "Crawl-delay: 5\n"
)


def _rules(spark, hosts=("a.example.com",)):
    df = spark.createDataFrame([(h, BODY) for h in hosts], "host string, body string")
    return crawl.parse_robots_rules(df)


def test_parse_binds_rules_to_agent_groups(spark):
    rows = {
        (r["agent"], r["rule"], r["path"])
        for r in _rules(spark).collect()
    }
    assert rows == {
        ("evilbot", "disallow", "/"),
        ("*", "disallow", "/private"),  # comment stripped, value trimmed
        ("*", "allow", "/private/ok"),
        ("*", "disallow", "/tmp"),
        ("*", "disallow", ""),  # empty value kept; matches nothing
    }


def _gate(spark, paths, agent):
    urls = spark.createDataFrame(
        [(i, f"http://A.example.com{p}") for i, p in enumerate(paths)],
        "id long, url string",
    )
    out = crawl.robots_gate(urls, _rules(spark), "id", "url", agent=agent)
    by_id = {r["id"]: r["allowed"] for r in out.collect()}
    return [by_id[i] for i in range(len(paths))]


def test_gate_longest_match_and_tie_semantics(spark):
    got = _gate(
        spark,
        ["/public/x", "/private/x", "/private/ok/x", "/tmp/x", "/", "/privateer"],
        agent="*",
    )
    #             no match  deny       allow>deny    deny     no match
    # NOTE /privateer: prefix matching is CHARACTER prefix per RFC 9309
    # (no path-segment boundary), so Disallow /private matches it
    assert got == [True, False, True, False, True, False]


def test_gate_agent_specific_group_excludes_star(spark):
    # evilbot has its OWN group (Disallow /): the * group's Allow
    # /private/ok must NOT leak in — everything is denied
    got = _gate(spark, ["/public/x", "/private/ok/x", "/"], agent="evilbot")
    assert got == [False, False, False]


def test_gate_unknown_agent_falls_back_to_star(spark):
    got = _gate(spark, ["/private/x", "/private/ok/x"], agent="newbot")
    assert got == [False, True]


def test_gate_host_without_rules_allows(spark):
    urls = spark.createDataFrame(
        [(0, "http://other.example.org/private/x")], "id long, url string"
    )
    out = crawl.robots_gate(urls, _rules(spark), "id", "url").collect()
    assert out[0]["allowed"] is True


def test_gate_no_unpartitioned_window_and_rowcount(spark):
    from tests.test_distrank import assert_no_unpartitioned_window

    urls = spark.createDataFrame(
        [(i, f"http://a.example.com/private/{i}") for i in range(100)],
        "id long, url string",
    )
    out = crawl.robots_gate(urls, _rules(spark), "id", "url")
    assert out.count() == 100  # one row per input URL, rules never fan out
    # the parse window partitions by host; the gate has no window at all
    assert_no_unpartitioned_window(out)


# ---------------------------------------------------------------- WAT


def test_wat_outlinks_resolution_cases(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://www.Src.Example.COM/a/page",
                '<a href="http://Other.ORG/x?b=2&a=1">abs</a>'
                "<a href='//cdn.example.net/lib.js'>proto-rel</a>"
                '<A HREF="/root/path">upper</A>'
                '<a href="#frag">frag</a>'
                '<a href="mailto:x@y.z">mail</a>'
                '<a href="javascript:void(0)">js</a>'
                '<a href="relative/no/slash">dir-rel</a>',
            )
        ],
        "target_uri string, body string",
    )
    got = {
        (r["src_surt"], r["dst_surt"])
        for r in crawl.wat_outlinks(pages).collect()
    }
    src = "com,example,src)/a/page"
    assert got == {
        (src, "org,other)/x?a=1&b=2"),           # absolute, params sorted
        (src, "net,example,cdn)/lib.js"),        # protocol-relative -> https
        (src, "com,example,src)/root/path"),     # root-relative -> origin
    }


def test_wat_outlinks_embedded_other_quote_captured_whole(spark):
    # each quote style anchors to its OPENING quote, so an href embedding
    # the other quote char is captured whole, not truncated at it
    pages = spark.createDataFrame(
        [
            (
                "http://h.example.com/",
                "<a href=\"/o'brien/page\">dq-with-sq</a>"
                "<a href='/say/%22hi%22'>sq-clean</a>",
            )
        ],
        "target_uri string, body string",
    )
    got = {r["dst_surt"] for r in crawl.wat_outlinks(pages).collect()}
    assert got == {
        "com,example,h)/o'brien/page",
        'com,example,h)/say/%22hi%22',
    }


def test_wat_outlinks_at_most_one_href_per_anchor(spark):
    # ONE combined regex: a tag whose other attributes embed an
    # href-looking string yields AT MOST one row (two independent
    # per-quote-style regexes would fire twice on the first tag). The
    # attribute scan steps over fully-quoted values as units, so a
    # quoted href= inside an EARLIER attribute no longer shadows the
    # real href (the round-9 advisor's precision suggestion) — but the
    # quoted-unit branches refuse to cross '>', so a quoted value
    # containing '>' ends the scan at the tag boundary (that href is
    # missed, same as the pre-round-10 behavior) rather than letting an
    # UNCLOSED quote bridge the tag end and extract href-looking body
    # text as a spurious edge. An UNQUOTED attribute value containing
    # href= remains the documented shadowing caveat.
    pages = spark.createDataFrame(
        [
            (
                "http://h.example.com/",
                '<a href="/a" data-note="href=\'/b\'">x</a>'
                "<a data-x='href=\"/fake\"' href='/real'>y</a>"
                '<a data-u=href="/shadow" href="/unseen">w</a>',
            )
        ],
        "target_uri string, body string",
    )
    rows = crawl.wat_outlinks(pages).collect()
    assert len(rows) == 3  # exactly one row per anchor tag
    assert {r["dst_surt"] for r in rows} == {
        "com,example,h)/a",      # the real href, not data-note's /b
        "com,example,h)/real",   # quoted earlier attr no longer shadows
        "com,example,h)/shadow", # unquoted-value shadowing: documented
    }


def test_wat_outlinks_unclosed_quote_cannot_escape_tag(spark):
    # an unclosed quoted attribute must NOT let the scan bridge the
    # tag's '>' and extract href-looking strings from body text (the
    # spurious-edge regression a bare "[^"]*" quoted-unit branch has);
    # a quoted value legitimately containing '>' ends the scan too —
    # that tag's href is missed, never misattributed
    pages = spark.createDataFrame(
        [
            (
                "http://h.example.com/",
                '<a lang="en>visit us" href="/fake-from-text" more text'
                ' <a title="a>b" href="/missed">z</a>'
                ' <a href="/ok">fine</a>',
            )
        ],
        "target_uri string, body string",
    )
    got = {r["dst_surt"] for r in crawl.wat_outlinks(pages).collect()}
    assert got == {"com,example,h)/ok"}


def test_wat_outlinks_empty_and_statusless_bodies(spark):
    pages = spark.createDataFrame(
        [("http://h.example.com/", "no anchors here"),
         ("http://h.example.com/2", "<a name='x'>anchor without href</a>")],
        "target_uri string, body string",
    )
    assert crawl.wat_outlinks(pages).count() == 0


def test_domain_link_aggr_counts_distinct_pages_and_pairs(spark):
    edges = spark.createDataFrame(
        [
            ("com,a)/p1", "com,b)/x"),
            ("com,a)/p1", "com,b)/x"),   # repeated anchor -> one pair
            ("com,a)/p1", "com,b)/y"),
            ("com,a)/p2", "com,b)/x"),
            ("com,a)/p1", "com,a)/self"),
        ],
        "src_surt string, dst_surt string",
    )
    got = {
        (r["src_domain"], r["dst_domain"]): (r["n_links"], r["n_src_pages"])
        for r in crawl.domain_link_aggr(edges).collect()
    }
    assert got == {("com,a", "com,b"): (3, 2), ("com,a", "com,a"): (1, 1)}


def test_wat_fixture_pipeline_closed_form(spark, tmp_path):
    from ascii_hydra_spark.operators.graph import pagerank
    from ascii_hydra_spark.sources.warc import (
        fixture_linked_record,
        register_warc_source,
        write_warc_fixture,
    )

    register_warc_source(spark)
    d = str(tmp_path)
    write_warc_fixture(
        d, n_records=105, n_files=2, compress=True,
        record_fn=fixture_linked_record,
    )
    recs = spark.read.format("warc").option("path", d).load()
    live = recs.filter(F.col("http_status") == 200)
    edges = crawl.wat_outlinks(live)
    # closed form: survivors are i % 5 not in {2, 3} -> 63 of 105 pages,
    # 2 surviving anchors each (traps dropped)
    assert edges.count() == 63 * 2
    dom = crawl.domain_link_aggr(edges)
    # every (src 0..6, dst 0..2) cross pair occurs, plus 7 self pairs,
    # minus the 3 self pairs double-listed -> 25 domain pairs
    assert dom.count() == 25
    ranks = pagerank(
        dom.select(F.col("src_domain").alias("src"),
                   F.col("dst_domain").alias("dst")),
        iterations=3,
    ).collect()
    by_node = {r["node"]: r["rank"] for r in ranks}
    assert abs(sum(by_node.values()) - 1.0) < 1e-9  # mass conserved
    # two tiers: link-receiving hosts 0-2 outrank self-link-only 3-6
    lo = max(by_node[f"com,example,site{h}"] for h in (3, 4, 5, 6))
    hi = min(by_node[f"com,example,site{h}"] for h in (0, 1, 2))
    assert hi > lo


# ------------------------------------------------- eTLD+1 grain (psl)


def test_psl_snapshot_invariants():
    from ascii_hydra_spark.functions import psl

    # reversed comma form, lowercase, depth-bounded, deterministic order
    assert all(r == r.lower() and r.count(",") == 1 for r in psl.SUFFIX_RULES_2)
    assert all(r == r.lower() and r.count(",") == 2 for r in psl.SUFFIX_RULES_3)
    assert list(psl.SUFFIX_RULES_2) == sorted(set(psl.SUFFIX_RULES_2))
    assert list(psl.SUFFIX_RULES_3) == sorted(set(psl.SUFFIX_RULES_3))
    # bounded snapshot: big enough to be real, small enough for codegen
    assert 100 <= len(psl.SUFFIX_RULES_2) <= 1000
    assert 1 <= len(psl.SUFFIX_RULES_3) <= 100
    assert psl.sql_list(("a,b", "c,d")) == "['a,b', 'c,d']"
    # the marquee rules a crawl actually hits
    assert "uk,co" in psl.SUFFIX_RULES_2
    assert "io,github" in psl.SUFFIX_RULES_2
    assert "com,amazonaws,s3" in psl.SUFFIX_RULES_3
    assert "mm" in psl.WILDCARD_TLDS


def test_registered_domain_cases(spark):
    from ascii_hydra_spark.functions import registered_domain

    cases = {
        # depth-2 ccTLD rule: subdomains collapse
        "uk,co,shop1,cdn": "uk,co,shop1",
        "uk,co,shop1": "uk,co,shop1",
        # prevailing-* fallback (known and unknown TLD alike)
        "com,acme,app": "com,acme",
        "xyz,startup": "xyz,startup",
        # private suffix: each user site its own registered domain
        "io,github,blog,docs": "io,github,blog",
        # depth-3 rule
        "com,amazonaws,s3,bucket,files": "com,amazonaws,s3,bucket",
        # wildcard TLD: any 2nd label is a suffix
        "mm,baz,pad": "mm,baz,pad",
        # port dropped (domains are port-less)
        "com,acme:8080": "com,acme",
        # NULL paths: bare suffix / bare TLD / wildcard-suffix host /
        # IPv4 (numeric reversed TLD) / IPv6 (>= 2 colons) / empty
        "io,github": None,
        "com": None,
        "mm,baz": None,
        "4,3,2,1": None,
        "2001:db8::1": None,
        "": None,
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {
        r["host"]: r["rd"]
        for r in df.select("host", registered_domain("host").alias("rd")).collect()
    }
    assert got == cases


def test_domain_link_aggr_etld1_collapses_and_drops(spark):
    edges = spark.createDataFrame(
        [
            # two host-grain nodes, ONE eTLD+1 node (self-edge)
            ("uk,co,shop0,cdn)/a", "uk,co,shop0)/b"),
            ("uk,co,shop0,cdn)/a2", "uk,co,shop0)/b"),
            # cross-domain edge
            ("uk,co,shop0)/c", "com,acme1)/d"),
            # src is a bare public suffix -> edge DROPS
            ("io,github)/x", "com,acme1)/y"),
            # dst is an IPv4 literal -> edge DROPS
            ("com,acme1)/z", "4,3,2,1)/w"),
        ],
        "src_surt string, dst_surt string",
    )
    got = {
        (r["src_domain"], r["dst_domain"]): (r["n_links"], r["n_src_pages"])
        for r in crawl.domain_link_aggr(edges, grain="etld1").collect()
    }
    assert got == {
        ("uk,co,shop0", "uk,co,shop0"): (2, 2),
        ("uk,co,shop0", "com,acme1"): (1, 1),
    }
    # host grain keeps all five edges' nodes
    assert crawl.domain_link_aggr(edges, grain="host").count() == 4


def test_domain_link_aggr_rejects_unknown_grain(spark):
    import pytest

    edges = spark.createDataFrame(
        [("com,a)/x", "com,b)/y")], "src_surt string, dst_surt string"
    )
    with pytest.raises(ValueError, match="grain"):
        crawl.domain_link_aggr(edges, grain="tld")
