"""interactive_sql: an analyst's closed loop over the star schema + events.

One client sends the next query only after the previous result has been
collected. A timed unit is one round over every query of the mix, in an
order the seed shuffles per round, so every run measures the same mix
whole; the seed also draws the template parameters.
The mix is the engine's verification-registry queries that carry oracle
SQL (relational, window, as-of, rollup, TPC-H-like and embedding-dedup
shapes) plus ``HydraEngine.sql`` templates. Every distinct (query, parameters) result
is hash-matched once against DuckDB; every timed result must then hash to
the same digest.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from common import BenchBase, digest, parquet_bytes

SIZES = {"default": 0.01, "smoke": 0.001}

# registry query -> the fixture tables it reads (input-record accounting)
REGISTRY_MIX = {
    "topk_orders": ("orders",),
    "tpch_q6_like": ("lineitem",),
    "window_running": ("orders",),
    "sessionize": ("events",),
    "asof_join_events": ("events",),
    "rollup_revenue": ("orders", "customer", "nation", "region"),
    "embedding_dedup": ("embeddings",),
}

# HydraEngine.sql templates; the same text runs on DuckDB
TEMPLATES = {
    "tpl_nation_year": (
        "SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev, "
        "COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
        "WHERE o_orderdate >= TIMESTAMP '{y}-01-01' AND o_orderdate < TIMESTAMP '{y1}-01-01' "
        "GROUP BY n_name",
        ("lineitem", "orders", "customer", "nation"),
        lambda r: {"y": (y := int(r.integers(1995, 2001))), "y1": y + 1},
    ),
    "tpl_event_window": (
        "SELECT event_type, COUNT(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-{d:02d} 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-{d2:02d} 00:00:00' AND user_id % 4 = {r} "
        "GROUP BY event_type",
        ("events",),
        lambda r: {"d": (d := int(r.integers(1, 25))), "d2": d + 5, "r": int(r.integers(0, 4))},
    ),
}

# parameter sets drawn per template: a round holds this many instances of
# each, so the median latency rests on many samples, not on one query's two
TEMPLATE_DRAWS = 3

# the analyst's saved, partitioned result (partition rerun + write path)
SAVED_SQL = (
    "SELECT r_name, n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev, "
    "COUNT(*) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
    "{where} GROUP BY r_name, n_name"
)
SAVED_TABLES = ("orders", "customer", "nation", "region")
RERUNS = 5
# untimed passes over the mix before timing, sent from nproc client threads
# at once: the JIT sees three passes' worth of calls in about the wall time
# of one serial pass, and the timed rounds run on warmer code
WARMUP_PASSES = 3


def prepare(ctx: dict) -> dict:
    sf = SIZES[ctx["size"]]
    d, spec = gen.cached(
        ctx["inputs_root"], f"star-s{ctx['seed']}-sf{sf}",
        lambda out: gen.gen_star(out, ctx["seed"], sf),
    )
    return {"star_dir": d, "spec": spec,
            "input_sizes": {"sf": sf, "rows": spec["rows"], "bytes": spec["bytes"]}}


def register(spark, ctx: dict):
    """Source registration: the engine's catalog views over the fixture."""
    from ascii_hydra_spark.catalog import Catalog
    from ascii_hydra_spark.engine import HydraEngine

    eng = HydraEngine(spark, Catalog.for_dir(ctx["star_dir"]),
                      output_root=os.path.join(ctx["out"], "saved"))
    eng.sql("SELECT 1").collect()
    return eng


class Bench(BenchBase):
    # two whole rounds in every run, however fast the host is
    min_units = 2

    def __init__(self, spark, ctx, state, tracer):
        super().__init__(spark, ctx, state, tracer)
        from ascii_hydra_spark.verification import REGISTRY

        self.registry = REGISTRY
        rng = np.random.default_rng(ctx["seed"])
        self.keys: list[tuple] = [(n, None) for n in REGISTRY_MIX]
        for t, (_, _, draw) in TEMPLATES.items():
            for _ in range(TEMPLATE_DRAWS):
                self.keys.append((t, tuple(sorted(draw(rng).items()))))
        self.order = np.random.default_rng(ctx["seed"] + 1)
        self.expected = self._oracle()
        rows = ctx["spec"]["rows"]
        self.key_records = {
            k: sum(rows[t] for t in self._tables(k[0])) for k in self.keys
        }

    def _tables(self, name: str):
        return REGISTRY_MIX[name] if name in REGISTRY_MIX else TEMPLATES[name][1]

    def _sql(self, name: str, params) -> str:
        return TEMPLATES[name][0].format(**dict(params))

    def _oracle(self) -> dict:
        """DuckDB digest for every distinct (query, parameters)."""
        import duckdb

        con = duckdb.connect(config={"threads": 2})
        for t in self.ctx["spec"]["rows"]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.ctx['star_dir'], t + '.parquet')}'"
            )
        out = {}
        for name, params in self.keys + [("__saved", None)]:
            if name == "__saved":
                sql = SAVED_SQL.format(where="")
            elif params is None:
                sql = self.registry[name].sql
            else:
                sql = self._sql(name, params)
            cur = con.execute(sql)
            out[(name, params)] = digest([c[0] for c in cur.description], cur.fetchall())
        con.close()
        return out

    def _dataframe(self, key):
        name, params = key
        if params is None:
            return self.registry[name].fn(self.spark, self.ctx["star_dir"])
        return self.state.sql(self._sql(name, params))

    def _query(self, key) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("bench.query"):
            df = self._dataframe(key)
            self.plan_counts(df)
            with self.tracer.span("spark.action"):
                rows = df.collect()
        elapsed = time.perf_counter() - t0
        self.check(digest(df.columns, rows) == self.expected[key],
                   f"wrong result: {key}")
        return elapsed

    def warmup(self) -> None:
        with ThreadPoolExecutor(self.ctx["nproc"]) as ex:
            list(ex.map(self._query, self.keys * WARMUP_PASSES))

    def unit(self) -> float:
        elapsed = 0.0
        for i in self.order.permutation(len(self.keys)):
            key = self.keys[i]
            self.op_latencies.append(self._query(key))
            self.op_names.append(key[0] if key[1] is None else f"{key[0]}{dict(key[1])}")
            elapsed += self.op_latencies[-1]
            self.records += self.key_records[key]
        self.units.append(elapsed)
        return elapsed

    def finish(self) -> dict:
        """Save the analyst's result partitioned by region, then rerun one
        region at a time (dynamic partition overwrite) and check the
        re-read dataset against the oracle."""
        eng = self.state
        path = os.path.join(eng.output_root, "saved_revenue")
        read_per_call = sum(
            os.path.getsize(os.path.join(self.ctx["star_dir"], t + ".parquet"))
            for t in SAVED_TABLES
        )
        eng.materialize(eng.sql(SAVED_SQL.format(where="")), "saved_revenue",
                        partition_by=("r_name",))
        written = parquet_bytes(path)[1]
        reruns = []
        for i in range(RERUNS):
            region = gen._REGIONS[(self.ctx["seed"] + i) % len(gen._REGIONS)]
            t0 = time.perf_counter()
            eng.materialize(
                eng.sql(SAVED_SQL.format(where=f"WHERE r_name = '{region}'")),
                "saved_revenue", partition_by=("r_name",),
            )
            reruns.append(time.perf_counter() - t0)
            written += parquet_bytes(os.path.join(path, f"r_name={region}"))[1]
        back = self.spark.read.parquet(path)
        self.check(digest(back.columns, back.collect()) == self.expected[("__saved", None)],
                   "saved dataset differs from the oracle after reruns")
        return {
            "rerun_s": reruns,
            "bytes_written": written,
            "bytes_read": read_per_call * (1 + RERUNS),
        }
