"""bench.py's exact per-query protocol (untimed warm-up, then min-of-N
timed count() trials, clearCache between) over a SUBSET of queries —
the before/after instrument for optimization work. Does not write the
BENCH_LOCAL sidecar.

Usage: python tools/bench_subset.py [-n TRIALS] [sf_dir] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    argv = sys.argv[1:]
    trials = 2
    if argv and argv[0] == "-n":
        trials = int(argv[1])
        argv = argv[2:]
    # a lone existing directory is a data dir with no queries, not a query
    if not argv or (len(argv) == 1 and os.path.isdir(argv[0])):
        print(
            "usage: bench_subset.py [-n TRIALS] [sf_dir] query [query ...]",
            file=sys.stderr,
        )
        return 2
    takes_dir = os.path.isdir(argv[0])
    sf_dir = argv[0] if takes_dir else "/root/testdata/sf0.1"
    names = argv[1:] if takes_dir else argv

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark import (
        get_spark,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
        QUERIES,
    )

    spark = get_spark("bench-subset")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()

    times = {}
    for name in names:
        QUERIES[name](spark, sf_dir).count()
        spark.catalog.clearCache()
        best = []
        for _ in range(trials):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            best.append(time.time() - t0)
            spark.catalog.clearCache()
        times[name] = round(min(best), 3)
        print(f"bench {name}: {times[name]}s  (trials: {[round(b,2) for b in best]})",
              file=sys.stderr, flush=True)
    print(json.dumps(times))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
