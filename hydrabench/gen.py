"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical files. Each returns a small JSON-able ``spec`` with
the facts the correctness gates need (closed-form edge counts, planted
duplicate counts, input sizes), so no gate has to trust the engine's own
output to know what the right answer is.

``cached`` stores each generated input set under
``<work>/inputs/<workload>-s<seed>-<size>/`` and reuses it, so repeated
runs on one seed pay generation once.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def cached(root: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, spec) for ``key``, running ``build(dir) -> spec`` once.

    The spec is written last, so a half-written directory (an interrupted
    run) is rebuilt instead of reused.
    """
    d = os.path.join(root, key)
    spec_path = os.path.join(d, "spec.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    spec = build(d)
    with open(spec_path + ".tmp", "w") as f:
        json.dump(spec, f)
    os.replace(spec_path + ".tmp", spec_path)
    return d, spec


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
    )


# ------------------------------------------------------------ star schema

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "hot", "old", "large", "small", "green", "cold"]
_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """2-decimal amounts: integer cents, so every engine sums them exactly."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def gen_star(out: str, seed: int, sf: float) -> dict:
    """TPC-H-like star schema plus an events table, one parquet per table.

    Row counts scale like the TPC-H-style test fixtures (lineitem ~6M x sf, events
    1M x sf); value domains match them so the registry queries' filters
    select similar shares of rows.
    """
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    rows = {}

    def put(name, table):
        _write(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = len(next(iter(table.values())))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_NOUN)[rng.integers(0, 8, n_part)]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    })
    day0 = np.datetime64("1995-01-01", "ms")
    odays = rng.integers(0, 2404, n_ord)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": day0 + odays.astype("timedelta64[D]"),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(np.arange(n_ord), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    put("lineitem", {
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - first + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 104999.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": day0
        + (odays[l_ok] + rng.integers(1, 122, n_li)).astype("timedelta64[D]"),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # the engine catalog registers every fixture table, so the two LLM-data
    # tables exist too, at a token size; the SQL mix dedups the embeddings,
    # 15% of which are planted near-copies of an earlier vector
    texts = [" ".join(np.array(_NOUN)[rng.integers(0, 8, 12)]) for _ in range(200)]
    put("documents", {
        "doc_id": pa.array(np.arange(200), pa.int64()),
        "text": texts,
        "lang": ["en"] * 200,
        "source": [f"src{i % 4}" for i in range(200)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((200, 16))
    for k in range(1, 200):
        if rng.random() < 0.15:
            emb[k] = emb[int(rng.integers(0, k))] + rng.standard_normal(16) * 0.01
    put("embeddings", {
        "vec_id": pa.array(np.arange(200), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(np.arange(200) % 10, pa.int32()),
    })
    return {"rows": rows, "bytes": dir_bytes(out), "sf": sf}


# ------------------------------------------------------------- WARC crawl


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _surt_host(host: str) -> str:
    h = host.lower()
    if h.startswith("www."):
        h = h[4:]
    return ",".join(reversed(h.split(".")))


def _warc_member(headers: list, block: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(block)}\r\n\r\n"
    return gzip.compress(head.encode() + block + b"\r\n\r\n", compresslevel=1, mtime=0)


def crawl_day(d: int) -> str:
    """The crawl-day partition value of day index ``d``."""
    return f"2024-04-{1 + d:02d}"


def warc_file(d: int) -> str:
    """The WARC archive of day index ``d``, under ``<inputs>/warc/``."""
    return f"day-{d:02d}.warc.gz"


def gen_crawl(out: str, seed: int, n_pages: int, n_days: int) -> dict:
    """Seeded WARC archives, one file per crawl day, gzip member per record.

    Hosts and link targets are Zipf-skewed; statuses mix 200/301/404 and
    content types mix HTML with PDF, so the status/type gate drops a known
    share. Each page's paragraph is a ``corpus_texts`` text, so the crawl
    also carries planted exact and near duplicates. The spec carries the
    expected host-grain domain graph (src, dst) -> [n_links, n_src_pages]
    computed from the page plan and, per crawl day, the page counts and the
    curated survivors (quality gate, then exact-text dedup).
    """
    rng = np.random.default_rng(seed)
    n_hosts = max(8, n_pages // 40)
    hosts = [
        (["www.", "", "WWW."][h % 3]) + f"h{h:04d}.Example{h % 7}.com"
        for h in range(n_hosts)
    ]
    host_p = _zipf_probs(n_hosts, 1.1)
    page_host = rng.choice(n_hosts, n_pages, p=host_p)
    page_day = rng.permutation(np.arange(n_pages) % n_days)  # equal-size days
    status = np.array([200, 301, 404])[rng.choice(3, n_pages, p=[0.8, 0.1, 0.1])]
    is_html = rng.random(n_pages) < 0.9
    n_links = rng.integers(0, 7, n_pages)
    texts, kinds = corpus_texts(rng, n_pages)

    pair_pages: dict = {}  # (src_dom, dst_dom) -> {(src_page, dst_page)}
    kept = 0
    # per day: quality text -> lowest page id carrying it
    first_of_text: dict = {d: {} for d in range(n_days)}
    per_day: dict = {d: [] for d in range(n_days)}
    for i in range(n_pages):
        host = hosts[page_host[i]]
        uri = f"http://{host}/p/{i}"
        links = []
        for _ in range(n_links[i]):
            kind = rng.integers(0, 10)
            j = int(rng.integers(0, n_pages))
            if kind < 6:  # absolute cross-host link, Zipf target
                dh = hosts[rng.choice(n_hosts, p=host_p)]
                links.append((f"http://{dh}/p/{j}", dh, f"/p/{j}"))
            elif kind < 8:  # root-relative same-host link
                links.append((f"/p/{j}", host, f"/p/{j}"))
            elif kind == 8:
                links.append(("#top", None, None))
            else:
                links.append(("mailto:team@example.com", None, None))
        body = "<html><head><title>p%d</title></head><body><p>%s</p>%s</body></html>" % (
            i, texts[i], " ".join(f'<a href="{h}">l</a>' for h, _, _ in links),
        )
        ok = status[i] == 200 and is_html[i]
        if ok:
            kept += 1
            if kinds[i] != "short":  # the Gopher gate drops exactly the short texts
                first_of_text[page_day[i]].setdefault(texts[i], i)
            src = _surt_host(host)
            for _, dh, path in links:
                if dh is None:
                    continue
                dst = _surt_host(dh)
                pair_pages.setdefault((src, dst), set()).add((f"/p/{i}", dst + ")" + path))
        ctype = "text/html" if is_html[i] else "application/pdf"
        per_day[page_day[i]].append((i, uri, int(status[i]), ctype, body))

    wdir = os.path.join(out, "warc")
    os.makedirs(wdir)
    days: dict = {}
    for d, recs in per_day.items():
        path = os.path.join(wdir, warc_file(d))
        with open(path, "wb") as fh:
            fh.write(_warc_member(
                [("WARC-Type", "warcinfo"), ("WARC-Date", "2024-04-01T00:00:00Z")],
                b"software: hydrabench\r\n",
            ))
            date = crawl_day(d) + "T00:00:00Z"
            for i, uri, st, ctype, body in recs:
                b = body.encode()
                http = (
                    f"HTTP/1.1 {st} {'OK' if st == 200 else 'X'}\r\n"
                    f"Content-Type: {ctype}; charset=utf-8\r\n"
                    f"Content-Length: {len(b)}\r\n\r\n"
                ).encode() + b
                fh.write(_warc_member([
                    ("WARC-Type", "request"), ("WARC-Date", date),
                    ("WARC-Record-ID", f"<urn:uuid:{i:012d}-req>"),
                    ("WARC-Target-URI", uri),
                ], f"GET /p/{i} HTTP/1.1\r\n\r\n".encode()))
                fh.write(_warc_member([
                    ("WARC-Type", "response"), ("WARC-Date", date),
                    ("WARC-Record-ID", f"<urn:uuid:{i:012d}>"),
                    ("WARC-Target-URI", uri),
                    ("Content-Type", "application/http; msgtype=response"),
                ], http))
        days[str(d)] = {
            "pages": len(recs),
            "kept": sum(1 for _, _, st, ct, _ in recs if st == 200 and ct == "text/html"),
            "curated": sorted(first_of_text[d].values()),
            "bytes": os.path.getsize(path),
        }
    graph = {
        f"{s}\t{t}": [len(pp), len({p for p, _ in pp})]
        for (s, t), pp in pair_pages.items()
    }
    return {
        "pages": n_pages,
        "kept_pages": kept,
        "days": days,
        "graph": graph,
        "bytes": dir_bytes(out),
    }


# ------------------------------------------------------- dedup corpus


def _vocab(rng, n: int) -> list:
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fu", "go",
           "ha", "ji", "pe", "zu", "ra", "to", "wi", "ce"]
    out = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        out.add("".join(syl[s] for s in rng.integers(0, len(syl), k)))
    return sorted(out)


_STOP = ["the", "to", "of", "and", "with", "that"]


def corpus_texts(rng, n: int) -> tuple[list, list]:
    """Page texts with planted duplicates, and each text's kind.

    8% are exact copies of an earlier base text, 12% near copies (three
    non-stop-word substitutions in 60-140 words), 6% short texts the Gopher
    gate drops; the rest are independent base texts with four distinct stop
    words.
    """
    vocab = _vocab(rng, 4000)
    vp = _zipf_probs(len(vocab), 0.9)
    texts, kinds, bases = [], [], []
    for i in range(n):
        r = rng.random()
        if bases and r < 0.08:
            texts.append(texts[bases[int(rng.integers(0, len(bases)))]])
            kinds.append("exact")
        elif bases and r < 0.20:
            words = texts[bases[int(rng.integers(0, len(bases)))]].split()
            content = [k for k, w in enumerate(words) if w not in _STOP]
            for pos in rng.choice(content, 3, replace=False):
                words[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            kinds.append("near")
        elif r < 0.26:
            k = int(rng.integers(10, 40))
            texts.append(" ".join(vocab[j] for j in rng.choice(len(vocab), k, p=vp)))
            kinds.append("short")
        else:
            k = int(rng.integers(60, 141))
            words = [vocab[j] for j in rng.choice(len(vocab), k, p=vp)]
            for pos, w in zip(rng.choice(k, 4, replace=False),
                              rng.choice(len(_STOP), 4, replace=False)):
                words[pos] = _STOP[w]
            texts.append(" ".join(words))
            kinds.append("base")
            bases.append(i)
    return texts, kinds
