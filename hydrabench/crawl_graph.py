"""crawl_graph: the paper's crawl -> hyperlink-graph pipeline, plus LLM-data
curation of the same crawl, as ``plans.Pipeline`` asset DAGs over seeded
WARC archives that arrive one crawl day at a time.

Assets, each materialized to parquet:

- crawl DAG: ``pages`` (WARC DataSource scan -> status/type gate,
  partitioned by crawl day) -> ``edges`` (``crawl.wat_outlinks``) ->
  ``graph_aggr`` (``crawl.domain_link_aggr``) -> ``ranks``
  (``graph.pagerank``);
- curation DAG, per crawl day: ``curated`` (the day's pages read as a
  stream with ``streaming.read_parquet_stream``, text NFC-normalized by the
  ``functions.udfs.nfc_normalize`` pandas UDF, Gopher-gated with
  ``text.gopher_quality_flags`` under ``run_available_now``, then
  ``dedup.fingerprint_dedup``).

The untimed warm-up is the backfill: the crawl DAG over every day, then the
curation of one day. A timed unit is one daily run: the crawl DAG reruns
one crawl-day partition via ``partition_key`` (dynamic partition overwrite;
the graph and ranks are recomputed over all days), then the day is curated.
The seed picks the order of the days. After each unit an analyst's lookup
queries run over the fresh assets (registered through the engine catalog
and hash-matched against DuckDB over the same files); they are the
workload's query latencies. Gates, per unit: the day's page count and the
whole page count, the domain edge table against the generator's closed
form, ranks against a numpy PageRank, and the day's curated ids against
the closed form.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import BenchBase, digest, parquet_bytes

SIZES = {
    "default": {"n_pages": 4000, "n_days": 4},
    "smoke": {"n_pages": 300, "n_days": 2},
}
PAGERANK_ITERS = 3
LOOKUP_ROUNDS = 8
ASSETS = ("pages", "graph_aggr", "ranks", "curated")
LOOKUPS = (
    "SELECT node, rank FROM ranks ORDER BY rank DESC, node LIMIT 10",
    "SELECT src_domain, SUM(n_links) AS links FROM graph_aggr "
    "GROUP BY src_domain ORDER BY links DESC, src_domain LIMIT 10",
    "SELECT dst_domain, n_links, n_src_pages FROM graph_aggr WHERE src_domain = '{dom}'",
    "SELECT CAST(crawl_day AS VARCHAR(10)) AS day, COUNT(*) AS n FROM pages GROUP BY crawl_day",
    "SELECT CAST(crawl_day AS VARCHAR(10)) AS day, COUNT(*) AS n, MIN(page_id) AS lo "
    "FROM curated GROUP BY crawl_day",
)


def prepare(ctx: dict) -> dict:
    size = SIZES[ctx["size"]]
    d, spec = gen.cached(
        ctx["inputs_root"], f"crawl-s{ctx['seed']}-p{size['n_pages']}-d{size['n_days']}",
        lambda out: gen.gen_crawl(out, ctx["seed"], **size),
    )
    return {"warc_dir": d, "spec": spec, "input_sizes": {
        "pages": spec["pages"], "kept_pages": spec["kept_pages"],
        "days": len(spec["days"]), "bytes": spec["bytes"],
    }}


def register(spark, ctx: dict):
    from ascii_hydra_spark.sources.warc import register_warc_source

    register_warc_source(spark)


def numpy_pagerank(pairs, iters: int = PAGERANK_ITERS, d: float = 0.85) -> dict:
    """Reference PageRank with the engine's conventions: distinct edges,
    dangling mass spread uniformly, ``iters`` rounds from 1/n."""
    nodes = sorted({x for p in pairs for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[s] for s, _ in pairs])
    dst = np.array([idx[t] for _, t in pairs])
    out_deg = np.bincount(src, minlength=n).astype(float)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(dst, weights=r[src] / out_deg[src], minlength=n)
        dangling = r[out_deg == 0].sum()
        r = (1 - d) / n + d * dangling / n + d * contrib
    return dict(zip(nodes, r))


class Bench(BenchBase):
    def __init__(self, spark, ctx, state, tracer):
        super().__init__(spark, ctx, state, tracer)
        spec = ctx["spec"]
        self.base = os.path.join(ctx["out"], "crawl")
        self.expected_graph = {
            tuple(k.split("\t")): tuple(v) for k, v in spec["graph"].items()
        }
        self.expected_ranks = numpy_pagerank(list(self.expected_graph))
        rng = np.random.default_rng(ctx["seed"])
        self.day_order = [str(d) for d in rng.permutation(len(spec["days"]))]
        sources = sorted({s for s, _ in self.expected_graph})
        dom = sources[int(rng.integers(0, len(sources)))]
        self.lookups = [q.format(dom=dom) for q in LOOKUPS]
        self.bytes_read = self.bytes_written = 0
        self._streams = 0
        self.crawl, self.curation = self._pipelines()

    def _pipelines(self) -> tuple:
        """The crawl DAG, and the per-day curation DAG over its pages."""
        from pyspark.sql import functions as F

        from ascii_hydra_spark import streaming
        from ascii_hydra_spark.functions.udfs import nfc_normalize
        from ascii_hydra_spark.operators import crawl, dedup, graph, text
        from ascii_hydra_spark.plans import Pipeline

        warc, base = os.path.join(self.ctx["warc_dir"], "warc"), self.base
        p, c = Pipeline(base_path=base), Pipeline(base_path=base)

        @p.asset("pages", partition_by=("crawl_day",))
        def pages(spark, deps, partition_key=None):
            path = warc if partition_key is None else f"{warc}/{gen.warc_file(int(partition_key))}"
            out = spark.read.format("warc").option("path", path).load().filter(
                (F.col("http_status") == 200) & (F.col("content_type") == "text/html")
            ).select(
                F.regexp_extract("target_uri", r"/p/(\d+)$", 1).cast("bigint").alias("page_id"),
                "target_uri", "body", F.substring("warc_date", 1, 10).alias("crawl_day"),
            )
            self.plan_counts(out)
            return out

        @p.asset("edges", deps=("pages",))
        def edges(spark, deps):
            out = crawl.wat_outlinks(deps["pages"])
            self.plan_counts(out)
            return out

        @p.asset("graph_aggr", deps=("edges",))
        def graph_aggr(spark, deps):
            out = crawl.domain_link_aggr(deps["edges"])
            self.plan_counts(out)
            return out

        @p.asset("ranks", deps=("graph_aggr",))
        def ranks(spark, deps):
            out = graph.pagerank(deps["graph_aggr"], iterations=PAGERANK_ITERS,
                                 src="src_domain", dst="dst_domain")
            self.plan_counts(out)
            return out

        @c.asset("curated", partition_by=("crawl_day",))
        def curated(spark, deps, partition_key):
            day = gen.crawl_day(int(partition_key))
            self._streams += 1
            d = os.path.join(self.ctx["out"], "stream", str(self._streams))
            src = streaming.read_parquet_stream(spark, f"{base}/pages/crawl_day={day}")
            docs = src.select(
                "page_id",
                nfc_normalize(F.regexp_extract("body", "<p>(.*?)</p>", 1)).alias("text"),
            )
            flags = text.gopher_quality_flags(docs, "page_id", "text", keep_cols=("text",))
            sink = streaming.run_available_now(
                flags.filter("passes").select(F.col("id").alias("page_id"), "text"),
                sink_dir=f"{d}/sink", checkpoint_dir=f"{d}/ckpt",
            )
            # commit files are named by batch id; skip Spark's .crc checksums
            self.count("streaming.batches",
                       sum(f.isdigit() for f in os.listdir(f"{d}/ckpt/commits")))
            out = dedup.fingerprint_dedup(spark.read.parquet(sink), "text", "page_id")
            out = out.withColumn("crawl_day", F.lit(day).cast("date"))
            self.plan_counts(out)
            return out

        return p, c

    # ------------------------------------------------------------ gates

    def _verify_crawl(self, reports: dict, day: str) -> None:
        spec = self.ctx["spec"]
        want = spec["days"][day]["kept"]
        self.check(reports["pages"]["row_count"] == want,
                   f"pages rows {reports['pages']['row_count']} != {want} (day={day})")
        n = self.spark.read.parquet(f"{self.base}/pages").count()
        self.check(n == spec["kept_pages"], f"pages after the day-{day} rerun: {n}")
        got = {
            (r.src_domain, r.dst_domain): (r.n_links, r.n_src_pages)
            for r in self.spark.read.parquet(f"{self.base}/graph_aggr").collect()
        }
        self.check(got == self.expected_graph, "graph_aggr differs from closed form")
        ranks = {r.node: r.rank for r in self.spark.read.parquet(f"{self.base}/ranks").collect()}
        ok = ranks.keys() == self.expected_ranks.keys() and all(
            abs(ranks[k] - v) <= 1e-9 for k, v in self.expected_ranks.items()
        )
        self.check(ok, "ranks differ from numpy PageRank")

    def _verify_curation(self, day: str) -> None:
        """The day's curated ids against the closed form."""
        want = self.ctx["spec"]["days"][day]
        path = f"{self.base}/curated/crawl_day={gen.crawl_day(int(day))}"
        keep = {r[0] for r in self.spark.read.parquet(path).select("page_id").collect()}
        self.check(keep == set(want["curated"]),
                   f"curated ids of day {day} differ from the closed form")

    def _lookups(self, timed_rounds: int) -> None:
        """The analyst's queries over the fresh assets, each result gated
        against DuckDB over the same files (one DuckDB run per query).
        The first round re-lists the rewritten files and runs ~2x slow; it
        is untimed, so the latency tail is not set by its five samples."""
        import duckdb

        from ascii_hydra_spark.catalog import Catalog

        Catalog(overrides={a: f"{self.base}/{a}" for a in ASSETS}).register_views(
            self.spark, ASSETS)
        con = duckdb.connect(config={"threads": 2})
        for a in ASSETS:
            con.execute(
                f"CREATE VIEW {a} AS SELECT * FROM read_parquet("
                f"'{self.base}/{a}/**/*.parquet', hive_partitioning = true)"
            )
        expected = {}
        for sql in self.lookups:
            cur = con.execute(sql)
            expected[sql] = digest([c[0] for c in cur.description], cur.fetchall())
        con.close()
        for i, sql in enumerate(self.lookups * (1 + timed_rounds)):
            t0 = time.perf_counter()
            with self.tracer.span("bench.query"):
                df = self.spark.sql(sql)
                self.plan_counts(df)
                with self.tracer.span("spark.action"):
                    rows = df.collect()
            if i >= len(self.lookups):
                self.op_latencies.append(time.perf_counter() - t0)
                self.op_names.append(f"lookup{i % len(self.lookups)}")
            self.check(digest(df.columns, rows) == expected[sql], f"lookup differs: {sql}")

    # ------------------------------------------------------------ phases

    def warmup(self) -> None:
        """The backfill: every day through the crawl DAG, one day curated.
        Each timed unit gates the whole page set and the graph again."""
        self.crawl.run(self.spark)
        self.curation.run(self.spark, partition_key=self.day_order[0])
        self._lookups(timed_rounds=0)

    def unit(self) -> float:
        """One daily run: rerun the day's crawl partition, curate the day."""
        day = self.day_order[len(self.units) % len(self.day_order)]
        t0 = time.perf_counter()
        with self.tracer.span("bench.pipeline"):
            reports = self.crawl.run(self.spark, partition_key=day)
            reports.update(self.curation.run(self.spark, partition_key=day))
        elapsed = time.perf_counter() - t0
        self.units.append(elapsed)
        want = self.ctx["spec"]["days"][day]
        self.records += want["pages"]  # WARC response records
        self.bytes_read += want["bytes"]
        part = f"crawl_day={gen.crawl_day(int(day))}"
        files = nbytes = 0
        for path in (f"pages/{part}", "edges", "graph_aggr", "ranks", f"curated/{part}"):
            f, b = parquet_bytes(f"{self.base}/{path}")
            files += f
            nbytes += b
        self.bytes_written += nbytes
        for name, rep in reports.items():
            self.count(f"plans.asset_s.{name}", rep["duration_sec"])
        self.count("sources.files_written", files)
        self.count("sources.mb_written", nbytes / 2**20)
        self._verify_crawl(reports, day)
        self._verify_curation(day)
        self._lookups(timed_rounds=LOOKUP_ROUNDS)
        return elapsed

    def finish(self) -> dict:
        layer = {}
        if self.ctx["trace"]:
            t0 = time.perf_counter()
            self.spark.read.format("warc").option(
                "path", os.path.join(self.ctx["warc_dir"], "warc")
            ).load().write.format("noop").mode("overwrite").save()
            layer["sources.warc_scan_s"] = time.perf_counter() - t0
        return {
            "rerun_s": self.units,
            "bytes_written": self.bytes_written,
            "bytes_read": self.bytes_read,
            "layer": layer,
        }
