"""Capture .explain("formatted") for named catalog queries into files.

    python scripts/capture_plans.py OUTDIR _before q1 q2 ...

Writes OUTDIR/<query><suffix>.txt for each query into any directory
(created if missing). The corpus is ``$SPARK_GRAFT_SF_DIR`` (default:
the sf0.1 test corpus); plans are AQE initial plans. Caches are released
between queries (cache.py's ownership contract), so each plan is
captured cold.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from flink_start_spark import cache
    from flink_start_spark.plans import QUERIES
    from flink_start_spark.session import get_spark

    spark = get_spark("capture_plans")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        cache.release()
        spark.catalog.clearCache()
        df = QUERIES[name].spark(spark, sf)
        formatted = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted)
        print(f"wrote {path} ({len(formatted)} chars)")


if __name__ == "__main__":
    main()
