"""WARC custom-source tests: parser fidelity on real archive bytes
(gzip members and plain), record-type filtering, UTF-8/byte-length
handling, partition plan = file grain, and surt_url canonicalization
edge cases. The end-to-end oracle comparison lives in the registry
(warc_records_scan / warc_host_dedup); these pin the parser and the
SURT semantics with hand-checkable inputs.
"""

from __future__ import annotations

import gzip
import io
import os

import pytest
from pyspark.sql import functions as F

from ascii_hydra_spark.functions import surt_url
from ascii_hydra_spark.sources.warc import (
    fixture_record,
    iter_warc_records,
    parse_http_response,
    register_warc_source,
    write_warc_fixture,
)


def test_fixture_roundtrip_gzip(spark, tmp_path):
    d = str(tmp_path / "warc")
    write_warc_fixture(d, n_records=40, n_files=3, compress=True)
    register_warc_source(spark)
    df = spark.read.format("warc").option("path", d).load()
    rows = {r.record_id: r for r in df.collect()}
    assert len(rows) == 40  # warcinfo + request records filtered out
    rid, date, uri, status, ctype, body = fixture_record(7)
    r = rows[rid]
    assert r.warc_date == date
    assert r.target_uri == uri
    assert r.http_status == status
    assert r.content_type == ctype  # charset param stripped
    assert r.body == body
    assert r.content_length == len(body.encode("utf-8"))


def test_fixture_roundtrip_plain_matches_gzip(spark, tmp_path):
    dg, dp = str(tmp_path / "gz"), str(tmp_path / "plain")
    write_warc_fixture(dg, n_records=25, n_files=2, compress=True)
    write_warc_fixture(dp, n_records=25, n_files=2, compress=False)
    register_warc_source(spark)
    a = spark.read.format("warc").option("path", dg).load().drop("warc_file")
    b = spark.read.format("warc").option("path", dp).load().drop("warc_file")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_multibyte_body_byte_length(spark, tmp_path):
    # record 10 carries 'café': content_length counts BYTES, body is chars
    d = str(tmp_path / "warc")
    write_warc_fixture(d, n_records=11, n_files=1, compress=True)
    register_warc_source(spark)
    r = (
        spark.read.format("warc").option("path", d).load()
        .filter(F.col("record_id").endswith("%012d" % 10))
        .collect()[0]
    )
    assert r.body.endswith("café")
    assert r.content_length == len(r.body.encode("utf-8")) == len(r.body) + 1


def test_partition_plan_is_file_grain(spark, tmp_path):
    d = str(tmp_path / "warc")
    write_warc_fixture(d, n_records=40, n_files=5, compress=True)
    register_warc_source(spark)
    df = spark.read.format("warc").option("path", d).load()
    # per-file row groups land in distinct task partitions: one task per
    # archive (gzip members are not splittable mid-stream)
    parts = df.select(F.spark_partition_id().alias("p"), "warc_file").distinct()
    assert parts.count() == 5
    assert parts.select("p").distinct().count() == 5


def test_parser_skips_non_response_records():
    buf = io.BytesIO()
    for i, (wtype, block) in enumerate(
        [("warcinfo", b"x: y\r\n"), ("request", b"GET / HTTP/1.1\r\n\r\n"),
         ("response", b"HTTP/1.1 200 OK\r\n\r\nhello"), ("metadata", b"m")]
    ):
        head = (
            f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Record-ID: r{i}\r\n"
            f"Content-Length: {len(block)}\r\n\r\n"
        ).encode()
        buf.write(head + block + b"\r\n\r\n")
    buf.seek(0)
    recs = list(iter_warc_records(buf))
    assert [h["warc-type"] for h, _ in recs] == [
        "warcinfo", "request", "response", "metadata"
    ]
    status, headers, body = parse_http_response(recs[2][1])
    assert status == 200 and body == b"hello"


def test_parse_http_response_never_raises_on_junk():
    # non-HTTP response blocks (dns), LF-only framing, corrupt status
    # lines: one bad record must not kill a multi-archive scan
    status, headers, body = parse_http_response(b"20240101000000\n1.2.3.4")
    assert status == 0 and body  # block preserved, surfaced as status 0
    status, _, body = parse_http_response(b"HTTP/1.1 200 OK\nX: y\n\nhello")
    assert status == 200 and body == b"hello"  # LF-only framing
    status, _, _ = parse_http_response(b"HTTP/1.1 2x0 huh\r\n\r\nz")
    assert status == 0  # corrupt status code degrades, not raises
    assert parse_http_response(b"") == (0, {}, b"")


def test_parser_rejects_garbage_content_length():
    raw = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 9z9\r\n\r\nx"
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(io.BytesIO(raw)))


def test_parser_rejects_truncated_record():
    raw = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99\r\n\r\nshort"
    with pytest.raises(ValueError, match="truncated"):
        list(iter_warc_records(io.BytesIO(raw)))


def test_parser_reads_concatenated_gzip_members(tmp_path):
    # the Common Crawl layout: each record its own gzip member
    p = tmp_path / "two.warc.gz"
    rec = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 4\r\n\r\nbody\r\n\r\n"
    p.write_bytes(gzip.compress(rec, mtime=0) + gzip.compress(rec, mtime=0))
    with io.BufferedReader(gzip.open(str(p), "rb")) as f:
        assert len(list(iter_warc_records(f))) == 2


def test_parser_handles_folded_header_values(tmp_path):
    # ISO 28500 header values may fold across lines (continuation lines
    # start with SP/TAB). A folded value misparsed as a fresh header
    # invents a garbage key — and a folded Content-Length-bearing value
    # would desynchronize the whole stream (round-7 advisor finding).
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://example.com/very/long\r\n"
        b" /folded/path\r\n"
        b"Content-Length: 4\r\n"
        b"\r\n"
        b"body\r\n\r\n"
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"Content-Length: 2\r\n"
        b"\r\n"
        b"ok\r\n\r\n"
    )
    recs = list(iter_warc_records(io.BytesIO(rec)))
    assert len(recs) == 2, "folded header desynchronized the stream"
    h0, b0 = recs[0]
    assert b0 == b"body"
    assert h0["warc-target-uri"] == "http://example.com/very/long /folded/path"
    assert not any(k.startswith("/") for k in h0), h0
    assert recs[1][1] == b"ok"


def test_surt_url_canonicalization(spark):
    cases = {
        "http://www.Example.COM/p?b=2&a=1": "com,example)/p?a=1&b=2",
        "https://sub.Example.org/deep/path": "org,example,sub)/deep/path",
        "http://example.com": "com,example)/",
        "http://example.com/": "com,example)/",
        "http://example.com/p?one=1": "com,example)/p?one=1",
        # real-crawl shapes a naive host split corrupts (round-6 review)
        "http://example.com?a=1": "com,example)/?a=1",
        # non-default ports are DISTINCT ORIGINS and must stay in the key
        "http://example.com:8080/p": "com,example:8080)/p",
        "http://user:pw@example.com/p": "com,example)/p",
        "http://example.com/p#frag": "com,example)/p",
        # default ports drop; fragment drops; query-before-slash
        "http://www.Example.com:80?b=2&a=1#x": "com,example)/?a=1&b=2",
        "https://example.com:443/s": "com,example)/s",
        # only the scheme's OWN default port drops: https://h:80 is a
        # non-default origin and must not conflate with http://h
        # (round-7 advisor finding)
        "https://example.com:80/s": "com,example:80)/s",
        "http://example.com:443/s": "com,example:443)/s",
        # scheme-less input stays lenient (both defaults drop)
        "example.com:80/s": "com,example)/s",
        "example.com:443/s": "com,example)/s",
        # bracketed IPv6: groups are not labels, no reversal/port-mangle
        "http://[2001:db8::1]:8080/x": "2001:db8::1:8080)/x",
        "http://[::1]/x": "::1)/x",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    out = {r["url"]: r["surt"] for r in df.select("url", surt_url("url").alias("surt")).collect()}
    assert out == cases


def test_surt_domain_blocklist_boundaries(spark):
    from ascii_hydra_spark.functions import surt_domain_blocked, surt_host

    cases = {
        # exact registered domain (case + www variants collapse first)
        "http://www.Blocked0.Example.com/x": True,
        "https://blocked0.example.com/y": True,
        # subdomains and non-default ports of a blocked domain
        "http://cdn.blocked0.example.com/z": True,
        "http://blocked0.example.com:8080/p": True,
        # label boundary: a LONGER final label is a different domain
        "http://blocked0x.example.com/p": False,
        # suffix trap: blocked0.example.com.evil.org ENDS WITH the
        # blocked string but is registered under evil.org
        "http://blocked0.example.com.evil.org/p": False,
        "http://safe.example.net/p": False,
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["b"]
        for r in df.select(
            "url",
            surt_domain_blocked(
                surt_host(F.col("url")), ["com,example,blocked0"]
            ).alias("b"),
        ).collect()
    }
    assert got == cases


def test_luhn_valid_known_vectors(spark):
    from ascii_hydra_spark.functions import luhn_valid

    cases = {
        "79927398713": True,   # the canonical Luhn test number
        "79927398710": False,
        "4532015112830366": True,   # valid 16-digit PAN shape
        "4532015112830367": False,
        "0": True,  # degenerate single zero: sum 0 % 10 == 0
    }
    df = spark.createDataFrame([(n,) for n in cases], "num string")
    got = {
        r["num"]: r["ok"]
        for r in df.select("num", luhn_valid("num").alias("ok")).collect()
    }
    assert got == cases


def test_html_fixture_near_dup_structure(spark, tmp_path):
    # the content-dedup pipeline's planted structure: variants of one
    # group are bigram-Jaccard 15/17 near-dups AFTER html extraction;
    # tiny groups fail the Gopher word-count gate
    from ascii_hydra_spark.operators import dedup, text
    from ascii_hydra_spark.sources.warc import fixture_html_record

    rid, date, uri, status, ctype, body = fixture_html_record(0)
    assert ctype == "text/html" and "<script>" in body
    rows = [(i, fixture_html_record(i)[5]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    docs = df.select("doc_id", text.html_to_text(F.col("body")).alias("t"))
    got = {r["doc_id"]: r["t"] for r in docs.collect()}
    # extraction yields exactly the payload (traps stripped)
    assert got[0].startswith("group 0 shared crawl content block w0x0")
    assert got[0].endswith("tail0") and "<" not in got[0]
    assert got[12] == "tiny doc 4"  # g=4 is a tiny group
    pairs = dedup.minhash_lsh_pairs_portable(
        docs.filter(F.length("t") > 20), "doc_id", "t",
        threshold=0.8,
    ).collect()
    # every found pair is within one planted group, at J = 15/17
    assert pairs, "no near-dup pairs found in planted groups"
    for r in pairs:
        assert r["id_a"] // 3 == r["id_b"] // 3, r
        assert abs(r["jaccard"] - 15 / 17) < 1e-6


def test_missing_path_and_empty_dir_raise(spark, tmp_path):
    register_warc_source(spark)
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(Exception, match="no .warc"):
        # load() is lazy; reader() (where the validation runs) fires on
        # the first action
        spark.read.format("warc").option("path", empty).load().count()
