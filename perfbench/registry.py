"""``registry_mix``: registry queries over a seeded fixture, each run
once and collected as a client would, each first result checked against
the query's DuckDB oracle."""

from __future__ import annotations

import os
import statistics
import time

import fixture
import pandas as pd
from metrics import REGISTRY_QUERIES
from streams import pct

from redpanda_ais_demo_spark.dist import ensure_shipped
from redpanda_ais_demo_spark.plans import get_oracles, get_queries

QUERIES = REGISTRY_QUERIES
ITERATIVE = (
    "pagerank_customer_supplier",
    "lpa_communities_customer_supplier",
    "aipw_ate_priority_on_revenue",
    "dedup_clusters",
    "ts_paa_topk_per_key",
)
# The DuckDB oracle of aipw_ate_priority_on_revenue unrolls its IRLS
# rounds into nested CTEs that exhaust gigabytes of memory and take ~30 s
# even at sf0.001; its result is not oracle-checked here.
UNCHECKED = ("aipw_ate_priority_on_revenue",)
SCALE = 0.01
# The AIS dashboard's batch queries. After the round they run together
# REFRESHES times, as a dashboard refreshing; the median is the
# workload's refresh figure.
DASHBOARD = ("j1_dashboard_join", "w1_latest_per_key", "st_sessionize")
REFRESHES = 10
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, datetimes as microsecond strings, numbers widened,
    rows sorted: the exact cross-engine comparison the registry promises."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].map(lambda v: repr(v.tolist()) if hasattr(v, "tolist") else v)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    a, b = _normalize(got), _normalize(want)
    return list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)


class RegistryMix:
    """Every query once, in order. The first ``measure`` is each plan's
    first execution in the session (code generation, Python worker
    start-up); its results are kept for the oracle check."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.queries = get_queries()
        self.oracles = get_oracles()
        self.results, self.errors = {}, []

    def prepare(self):
        ctx = self.ctx
        ensure_shipped(ctx.spark)
        self.dir = fixture.write_tables(
            fixture.make_tables(ctx.seed, SCALE), os.path.join(ctx.work, "tables"), ctx.nproc
        )

    def setup(self):
        ctx = self.ctx
        began = time.perf_counter()
        self.prepare()
        ctx.phases["fixture_s"] = time.perf_counter() - began
        t0 = time.perf_counter()
        ctx.spark.range(1_000_000).selectExpr("sum(id)").collect()
        ctx.spark.range(1000).mapInPandas(lambda it: it, "id long").selectExpr("sum(id)").collect()
        ctx.phases["warmup_s"] = time.perf_counter() - t0
        ctx.phases["prepare_s"] = time.perf_counter() - began

    def one(self, name, traced, tag="plans"):
        """Build, (traced: plan), execute and collect; returns timings."""
        ctx = self.ctx
        with ctx.tracer.span(f"{tag}.{name}"):
            t0 = time.perf_counter()
            df = self.queries[name](ctx.spark, self.dir)
            t1 = time.perf_counter()
            if traced:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            result = df.toPandas()
            t3 = time.perf_counter()
        self.results.setdefault(name, result)
        return t1 - t0, t2 - t1, t3 - t2

    def measure(self, traced=False):
        """One round of every query, then the dashboard queries REFRESHES
        times. Throughput is the iterative queries' rate: their count over
        their summed times."""
        ctx = self.ctx
        took = {}
        with ctx.rss:
            for name in QUERIES:
                ctx.attempted += 1
                try:
                    took[name] = self.one(name, traced)
                except Exception as exc:
                    ctx.failed += 1
                    self.errors.append(f"{name}: raised {type(exc).__name__}: {str(exc)[:200]}")
            refreshes = []
            for _ in range(REFRESHES):
                ctx.attempted += len(DASHBOARD)
                refreshes.append(sum(sum(self.one(q, False, "refresh")) for q in DASHBOARD))
        ctx.phases["queries"] = len(took)
        total = {q: sum(t) for q, t in took.items()}
        iterative = [total[q] for q in ITERATIVE if q in total]
        if traced:
            m = ctx.layers
            for q, (build, plan, run) in took.items():
                m[f"plans.{q}.build_s"] = build
                m[f"plans.{q}.plan_ms"] = plan * 1000.0
                m[f"plans.{q}.exec_s"] = run
            m["plans.iterative_s"] = sum(iterative)
        return {
            "throughput_per_s": len(iterative) / sum(iterative),
            "latency_mean_s": statistics.mean(total.values()),
            "latency_p99_s": pct(list(total.values()), 99),
            "refresh_s": statistics.median(refreshes),
        }

    def check(self):
        """Compare each query's first result with its DuckDB oracle over the
        same parquet files. Runs after the measurement, so DuckDB's memory
        never counts as the engine's."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={self.ctx.nproc}")
        con.execute("SET memory_limit='2GB'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.dir, t)}.parquet')")
        errors = list(self.errors)
        for name, got in self.results.items():
            if name in UNCHECKED:
                continue
            want = con.execute(self.oracles[name]).df()
            if not same_result(got, want):
                errors.append(f"{name}: result differs from its oracle ({len(got)} vs {len(want)} rows)")
        con.close()
        return errors


def job_metrics(ctx, jobs: dict):
    """Per-query jobs, executor run time and shuffle bytes of the traced
    round, from the event log, keyed by the job groups ``one`` sets."""
    m = ctx.layers
    shuffle = 0
    for q in QUERIES:
        agg = jobs.get(f"plans.{q}", {"jobs": 0, "run_s": 0.0, "shuffle_bytes": 0})
        m[f"plans.{q}.jobs"] = agg["jobs"]
        m[f"plans.{q}.executor_run_s"] = agg["run_s"]
        shuffle += agg["shuffle_bytes"]
    m["plans.shuffle_write_mb"] = shuffle / 1e6
