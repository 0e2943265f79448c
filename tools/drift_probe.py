#!/usr/bin/env python
"""Name a bench drift with the same-JVM instrument (the ipw playbook,
COVERAGE.md §2.59/§2.63): run the drifted query MANY times in ONE JVM
alongside a phase-control query with a historically flat record, and
read the within-JVM sample trajectory.

- JIT tier-up story → samples decay monotonically toward the old value
  as the generated code re-compiles at higher tiers.
- machine-phase story → samples are flat but BOTH the target and the
  control sit a similar factor above their committed BENCH_LOCAL rows.
- real regression → target flat and high while the control matches its
  committed row.

Usage: python tools/drift_probe.py <target-query> <control-query> [n]
Prints one JSON line with both sample vectors and the committed minima.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import bench  # noqa: E402
from redpanda_ais_demo_spark.dist import ensure_shipped  # noqa: E402
from redpanda_ais_demo_spark.plans import get_queries  # noqa: E402
from redpanda_ais_demo_spark.session import get_spark  # noqa: E402


def main() -> None:
    target = sys.argv[1]
    control = sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    committed = {}
    blpath = os.path.join(REPO, "BENCH_LOCAL.json")
    if os.path.exists(blpath):
        bl = json.load(open(blpath))
        committed = {q: bl["queries"].get(q) for q in (target, control)}

    spark = get_spark(app_name="drift-probe")
    ensure_shipped(spark)
    qs = get_queries()
    d = bench.prepare_split_fixture(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )

    samples: dict[str, list[float]] = {target: [], control: []}
    for _ in range(n):
        for q in (target, control):
            t0 = time.perf_counter()
            qs[q](spark, d).write.format("noop").mode("overwrite").save()
            samples[q].append(round(time.perf_counter() - t0, 3))
            bench.release_pins(spark)
    print(
        json.dumps(
            {"samples": samples, "committed_bench_local": committed, "n": n}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
