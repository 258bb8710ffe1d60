#!/usr/bin/env python
"""Plan-smell sweep: build every registry entry's DataFrame at
$SPARK_GRAFT_SF_DIR (default sf0.01) and search its formatted physical
plan for two strings:

  - BatchEvalPython   (row-at-a-time Python UDF)
  - CartesianProduct  (accidental cross join)

Prints one JSON line: the SF dir, the count of clean entries, and
{name: [smells...]} for entries with findings. An entry whose build
raises (e.g. one that needs a streaming context) is reported as
``build-error: <message>``.

    python harness/r13_smell_sweep.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_nsql_spark import workload  # noqa: E402
from duckdb_nsql_spark.session import build_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    spark = build_spark(app_name="r13-smell-sweep", cpus=8)
    queries = workload.build_queries()
    findings: dict[str, list[str]] = {}
    n_ok = 0
    for name, fn in queries.items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            findings[name] = [f"build-error: {str(e)[:80]}"]
            continue
        smells = []
        if "BatchEvalPython" in plan:
            smells.append("BatchEvalPython")
        if "CartesianProduct" in plan:
            smells.append("CartesianProduct")
        if smells:
            findings[name] = smells
        else:
            n_ok += 1
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "clean": n_ok,
                "findings": findings,
            }
        )
    )


if __name__ == "__main__":
    main()
