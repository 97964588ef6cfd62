"""One-off A/B harness: time warm run_dedup at a given core count with
arbitrary extra Spark conf, reusing the cached 500k-page corpus.

Usage: python BENCH/ab_run.py --cores 16 --runs 2 [--conf k=v ...]
Prints one line per warm run + the best. The cluster-count assert
doubles as an end-to-end parity check at 500k.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--n-docs", type=int, default=500_000)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    path = os.path.join("/tmp", f"bench_pages_{args.n_docs}")
    extra = {}
    for kv in args.conf:
        k, v = kv.split("=", 1)
        extra[k] = v

    from dedup.config import DEFAULT_CONFIG
    from dedup.pipeline import run_dedup
    from dedup.session import get_spark

    spark = get_spark(
        app_name=f"ab-{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=64,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def once() -> tuple[float, int]:
        from dedup.pipeline import job_desc

        pages = spark.read.parquet(path)
        t0 = time.perf_counter()
        res = run_dedup(pages, DEFAULT_CONFIG)
        with job_desc(spark, "dedup: clusters distinct (harness)"):
            n = res.clusters.select("cluster_id").distinct().count()
        dt = time.perf_counter() - t0
        for df in (res.docs, res.signatures, res.edges):
            df.unpersist()
        spark.catalog.clearCache()
        return dt, n

    cold, n0 = once()
    print(f"cold={cold:.2f}s clusters={n0}", flush=True)
    times = []
    for i in range(args.runs):
        dt, n = once()
        assert n == n0, (n, n0)
        times.append(dt)
        print(f"warm[{i}]={dt:.2f}s load={os.getloadavg()}", flush=True)
    print(f"BEST cores={args.cores} best_warm={min(times):.2f}s all={sorted(times)}")
    spark.stop()


if __name__ == "__main__":
    main()
