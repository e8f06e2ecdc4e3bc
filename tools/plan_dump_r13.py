"""Dump `.explain("formatted")` for registry queries into plans/r13/.

Usage: python tools/plan_dump_r13.py <suffix> [sf_dir] [query ...]

suffix is `before` or `after`; files land at plans/r13/<query>_<suffix>.txt.
With no query list, dumps every registry query. explain() only PLANS the
query (no execution), so this is cheap — but queries whose construction
runs jobs (adaptive LSH counts, k-means training) still pay those.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: plan_dump_r13.py <suffix> [sf_dir] [query ...]", file=sys.stderr)
        return 2
    suffix = sys.argv[1]
    argv = sys.argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    only = argv[1:]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    out_dir = os.path.join(repo, "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark import (
        get_spark,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
        QUERIES,
    )

    spark = get_spark("plan-dump-r13")
    spark.sparkContext.setLogLevel("ERROR")

    names = only if only else list(QUERIES)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            jvm = spark._jvm  # noqa: SLF001
            plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"  # noqa: SLF001
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN FAILED: {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(f"# {name} @ {sf_dir} [{suffix}]\n\n{plan}")
        print(f"dumped {name}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
