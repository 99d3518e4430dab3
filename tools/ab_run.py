"""Interleaved A/B runner: times queries against the code tree given
as argv[1] (inserted at sys.path[0], so the PATCHED tree's modules are
the ones imported).

Usage: python tools/ab_run.py <repo_root> <runs> <query> [query ...]
Prints one JSON line per query: jobs, spin, noop_s list, topandas min.
"""

from __future__ import annotations

import json
import os
import sys
import time

root = os.path.abspath(sys.argv[1])
runs = int(sys.argv[2])
names = sys.argv[3:]
sys.path.insert(0, root)

from monzo_data_pipeline_spark.registry import specs  # noqa: E402
from monzo_data_pipeline_spark.session import get_spark  # noqa: E402


def _free_state(spark) -> None:
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def _spin(secs: float = 0.25) -> int:
    t0 = time.time()
    n = 0
    x = 0
    while time.time() - t0 < secs:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) % 2_147_483_648
        n += 1
    return int(n * 10 / secs)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-run")
    sel = [s for s in specs() if s.name in names]
    for spec in sel:
        spark.sparkContext.setJobDescription(f"ab:{spec.name}")
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        _free_state(spark)
        tracker = spark.sparkContext.statusTracker()
        j0 = max(tracker.getJobIdsForGroup(None) or [0])
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        jobs = max(tracker.getJobIdsForGroup(None) or [0]) - j0
        _free_state(spark)
        spin = _spin()
        ts = []
        for _ in range(runs):
            t0 = time.time()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
            _free_state(spark)
        print(
            json.dumps(
                {
                    "tree": root,
                    "query": spec.name,
                    "jobs": jobs,
                    "spin": spin,
                    "noop_s": ts,
                    "min": min(ts),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
