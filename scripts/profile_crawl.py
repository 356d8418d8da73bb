"""Per-round phase profile of the bench crawl job.

Runs the exact `bench.py --crawl-only` job (same synthetic graph,
seeds, config) and prints each round's phase breakdown from the
snapshot metrics, plus totals — the measurement loop for attacking
per-round driver-serial overhead (scaling-gate work).

Usage: SPARK_GRAFT_CPUS=8 SPARK_GRAFT_PAGES=4000000 \
           python scripts/profile_crawl.py
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", "1000000"))
    spark = bench.build_spark(cpus)

    from pyspark.sql import functions as F

    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.plans.crawl import FrontierCrawler
    from simplecrawler_spark.sources.fetch import TableFetcher
    from simplecrawler_spark.sources.fixtures import synthetic_graph

    graph = synthetic_graph(spark, n_pages=n_pages, n_hosts=64,
                            out_degree=8)
    graph = graph.repartition(spark.sparkContext.defaultParallelism)
    graph.persist().count()
    n_seeds = max(1, n_pages // 100)
    seeds = [r.url for r in
             graph.select("url").orderBy("url").limit(n_seeds).collect()]
    cfg = CrawlConfig(same_authority_only=False, max_rounds=6)
    root_base = "/dev/shm" if os.path.isdir("/dev/shm") else None

    # warm-up (same as bench)
    warm_graph = synthetic_graph(spark, n_pages=2000, n_hosts=4,
                                 out_degree=6)
    warm_root = tempfile.mkdtemp(prefix="prof-warm-", dir=root_base)
    warm_seed = warm_graph.agg(F.min("url")).first()[0]
    FrontierCrawler(spark, TableFetcher(warm_graph, cfg), cfg,
                    root=warm_root).crawl(warm_seed)
    import shutil
    shutil.rmtree(warm_root, ignore_errors=True)

    root = tempfile.mkdtemp(prefix="prof-crawl-", dir=root_base)
    crawler = FrontierCrawler(spark, TableFetcher(graph, cfg), cfg,
                              root=root)
    t0 = time.monotonic()
    crawler.crawl(seeds)
    wall = time.monotonic() - t0

    totals: dict[str, float] = {}
    print(f"\n== per-round phases (cpus={cpus}, pages={n_pages}) ==")
    for s in crawler.store.snapshots():
        m = s["metrics"]
        ph = m.get("phases", {})
        for k, v in ph.items():
            totals[k] = totals.get(k, 0.0) + v
        print(json.dumps({"round": m["round"],
                          "wall": round(m["wall_secs"], 2),
                          "done": m["done_new"], "phases": ph}))
    acc = sum(totals.values())
    print("\n== phase totals ==")
    for k, v in sorted(totals.items(), key=lambda kv: -kv[1]):
        print(f"  {k:28s} {v:8.2f}s")
    print(f"  {'(sum of phases)':28s} {acc:8.2f}s")
    print(f"  {'(crawl wall)':28s} {wall:8.2f}s  "
          f"(untracked: {wall - acc:.2f}s)")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
