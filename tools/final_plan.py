#!/usr/bin/env python
"""Capture BOTH plans for named registry queries into plans/r14/:

- the static ``explain("formatted")`` output (what the optimizer
  promises before execution), plus
- the FINAL adaptive plan after executing that same QueryExecution
  (what actually ran: AQE join rewrites, AQEShuffleRead coalescing,
  ReusedExchange — the nodes static explain cannot show). Execution
  goes through ``qe.toRdd().count()``: the same eager full-plan
  evaluation a noop write performs, but on the SAME QueryExecution
  object, so its AdaptiveSparkPlan finalizes in place and can be
  printed (a ``df.write`` would build a fresh QE whose final plan is
  only observable through listeners).

Usage: python tools/final_plan.py <tag> <query1> [query2 ...]
       SPARK_GRAFT_SF_DIR picks the fixture (default /root/testdata/sf0.1,
       rewritten to the bench's multi-row-group copy like bench.py).

The pair is the before/after evidence for optimization rounds: subtree
replays (same scan appearing N times), missing/reused exchanges and
join strategies are all visible here and diffable in git.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import bench  # noqa: E402
from redpanda_ais_demo_spark.dist import ensure_shipped  # noqa: E402
from redpanda_ais_demo_spark.plans import get_queries  # noqa: E402
from redpanda_ais_demo_spark.session import get_spark  # noqa: E402

OUT_DIR = os.environ.get(
    "SPARK_GRAFT_PLAN_DIR", os.path.join(REPO, "plans", "r15")
)


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit("usage: final_plan.py <tag> <query> [query ...]")
    tag, names = sys.argv[1], sys.argv[2:]
    sf_dir = bench.prepare_split_fixture(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name=f"final-plan-{tag}")
    ensure_shipped(spark)
    queries = get_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = queries[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        formatted = qe.explainString(mode)
        spark.sparkContext.setJobDescription(f"final_plan:{name}")
        qe.toRdd().count()  # eager full-plan execution, JVM-only
        final = qe.executedPlan().toString()
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(
                f"== {name} @ {os.path.basename(sf_dir)} [{tag}] ==\n\n"
                "---- explain(formatted), pre-execution ----\n\n"
            )
            f.write(formatted)
            f.write("\n\n---- final adaptive plan after execution ----\n\n")
            f.write(final)
            f.write("\n")
        print(f"wrote {path}")
        bench.release_pins(spark)  # free pinned lineage between queries
    spark.stop()


if __name__ == "__main__":
    main()
