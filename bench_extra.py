"""Per-query isolation bench (guide §1.4): times a SUBSET of registry
queries with the noop sink, median-of-N, labeled jobs — the working
harness for the optimization loop. bench.py stays the frozen driver
contract; this file exists so individual queries can be measured without
paying for the whole headline suite.

Usage: python bench_extra.py <query> [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: the cores this process may run on)
       SPARK_GRAFT_REPEATS (default 3)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from knowledge_nexus_spark.plans.driver_queries import QUERIES
    from knowledge_nexus_spark.session import get_spark

    names = sys.argv[1:]
    unknown = [n for n in names if n not in QUERIES]
    if not names or unknown:
        if unknown:
            print(f"unknown query: {', '.join(unknown)}", file=sys.stderr)
        print(
            "usage: python bench_extra.py <query> [query ...]\nknown queries: "
            + " ".join(sorted(QUERIES)),
            file=sys.stderr,
        )
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

    spark = get_spark("knx-bench-extra")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warmup: JVM/codegen/Arrow startup not billed to the first query
    noop(QUERIES[names[0]](spark, sf_dir))

    out: dict[str, object] = {}
    samples_all: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        samples = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"{name} [{i + 1}/{repeats}]")
            t0 = time.perf_counter()
            noop(fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = round(statistics.median(samples), 3)
        samples_all[name] = samples
    print(json.dumps({"sf_dir": sf_dir, "queries": out, "samples": samples_all}))
    spark.stop()


if __name__ == "__main__":
    main()
