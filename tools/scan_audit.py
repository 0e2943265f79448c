#!/usr/bin/env python
"""Registry-wide static-plan audit: count duplicated work per query.

For every registry query, build the DataFrame against a small fixture
(planning only — no execution beyond what eager operators do at
construction) and count, in the static ``explain("formatted")`` plan:

- ``Scan parquet`` locations — k scans of the same table inside ONE
  plan means a multi-consumer subtree replays k times (the r14 defect
  class: union-swap symmetrization, unpinned shared profiles);
- ``Exchange`` nodes — shuffle count;
- ``BatchEvalPython`` / ``ArrowEvalPython`` — row-at-a-time Python
  (should stay zero; Arrow hops show as ``MapInPandas``/``MapInArrow``).

Queries whose inputs are fully pinned (lazy localCheckpoint) show 0
parquet scans — their scan cost lives in the pin's one evaluation.

Usage: python tools/scan_audit.py [out.json]
       SPARK_GRAFT_SF_DIR picks the fixture (default /root/testdata/sf0.001).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import bench  # noqa: E402
from redpanda_ais_demo_spark.dist import ensure_shipped  # noqa: E402
from redpanda_ais_demo_spark.plans import get_queries  # noqa: E402
from redpanda_ais_demo_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scan_audit.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="scan-audit")
    ensure_shipped(spark)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    rows = {}
    for name, fn in get_queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 — audit must cover the rest
            rows[name] = {"error": str(exc)[:200]}
            continue
        # formatted explain lists each physical node twice (tree + the
        # numbered details section) — count only the numbered headers,
        # and attribute each scan to its table (the file name after the
        # last '/') so k scans of k DIFFERENT tables don't flag
        per_table: dict[str, int] = {}
        import re

        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if re.match(r"\(\d+\) Scan parquet", line.strip()):
                tbl = "?"
                for j in range(i + 1, min(i + 8, len(lines))):
                    lm = re.search(r"Location:.*/([^/\]]+)\]?\s*$", lines[j])
                    if lm:
                        tbl = lm.group(1)
                        break
                per_table[tbl] = per_table.get(tbl, 0) + 1
        rows[name] = {
            "scans": sum(per_table.values()),
            "max_same_table": max(per_table.values(), default=0),
            "tables": per_table,
            "exchanges": sum(
                1 for l in plan.splitlines() if re.match(r"\(\d+\) Exchange", l.strip())
            ),
            "py_row": plan.count("BatchEvalPython") // 2,
            "py_arrow": plan.count("ArrowEvalPython") // 2,
        }
        bench.release_pins(spark)  # free pinned lineage between queries
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
    flagged = {
        n: r
        for n, r in rows.items()
        if r.get("max_same_table", 0) >= 3 or r.get("py_row", 0)
    }
    print(json.dumps({"n": len(rows), "flagged": flagged}, indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
