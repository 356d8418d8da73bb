#!/usr/bin/env python
"""spark-submit job entry for the frontier crawler (north rule: "ships
via spark-submit --py-files", BASELINE.json:14).

Package the library and submit — no install step on the cluster:

    python scripts/package_pyfiles.py          # → dist/simplecrawler_spark.zip
    spark-submit --py-files dist/simplecrawler_spark.zip \
        scripts/submit_crawl.py \
        --seed http://h0.test/p/0 \
        --graph /path/to/site_graph.parquet \
        --root  /path/to/checkpoints \
        --max-rounds 16

The job never calls ``.master(...)`` — parallelism comes from
spark-submit (``--master local[8]`` / ``--master yarn --num-executors N``),
which is how the N-vs-4N scaling protocol runs the identical job at two
cluster sizes (BASELINE.md).

``--graph`` points at a site_graph parquet (FIXTURES.md §1 schema); when
omitted, a deterministic synthetic graph of ``--pages`` pages is built
in-session (bench mode — same generator as bench.py). ``--resume``
reopens the last committed snapshot in ``--root`` and finishes the
remaining rounds (exact-resume semantics, tests/test_crawl.py::
test_resume_identical_final_state).

The reference's CLI surface (/root/reference/simple_crawler/cli.py:17-47)
maps onto these flags: URL argument → --seed, --user-agent → --user-agent,
--disobey-robots → --disobey-robots, --with-query/--with-fragment →
--with-query/--with-fragment, --record-redirects → --record-redirects,
--debug → --debug (echo config, run nothing: cli.py:55-59).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--seed", action="append", default=None,
                   help="seed URL (repeatable; default: the graph's "
                        "lexicographically-first URL)")
    p.add_argument("--graph", default=None,
                   help="site_graph parquet path (FIXTURES.md §1); "
                        "omit for a synthetic graph")
    p.add_argument("--corpus", default=None,
                   help="image+caption corpus parquet; when given, "
                        "results are PSNR/caption-validated against it")
    p.add_argument("--root", default=None,
                   help="checkpoint/snapshot directory (default: temp)")
    p.add_argument("--resume", action="store_true",
                   help="resume from the last committed snapshot in --root")
    p.add_argument("--pages", type=int, default=100_000,
                   help="synthetic graph size when --graph is omitted")
    p.add_argument("--hosts", type=int, default=64)
    p.add_argument("--max-rounds", type=int, default=16)
    p.add_argument("--user-agent", default=None)
    p.add_argument("--disobey-robots", action="store_true")
    p.add_argument("--with-query", action="store_true",
                   help="keep query strings (reference --wq inverts trim_query)")
    p.add_argument("--with-fragment", action="store_true")
    p.add_argument("--record-redirects", action="store_true")
    p.add_argument("--any-authority", action="store_true",
                   help="drop the same-authority filter (multi-site crawl)")
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--transcript", action="store_true",
                   help="record the per-URL crawl_log table and echo "
                        "the reference-style CRAWLING:/VISITED:/FOUND: "
                        "lines after the crawl (crawler.py:147-179)")
    p.add_argument("--debug", action="store_true",
                   help="print config and exit (reference cli.py:55-59)")
    return p.parse_args(argv)


def build_config(a):
    from simplecrawler_spark.config import CrawlConfig
    kw = dict(
        obey_robots=not a.disobey_robots,
        trim_query=not a.with_query,
        trim_fragment=not a.with_fragment,
        record_redirects=a.record_redirects,
        same_authority_only=not a.any_authority,
        salt_buckets=a.salt_buckets,
        max_rounds=a.max_rounds,
        crawl_log=a.transcript,
    )
    if a.user_agent:
        kw["user_agent"] = a.user_agent
    return CrawlConfig(**kw)


def main(argv=None):
    a = parse_args(argv if argv is not None else sys.argv[1:])
    cfg = build_config(a)
    if a.debug:
        print(json.dumps(cfg.reference_config(), indent=2))
        return 0

    from pyspark.sql import SparkSession

    from simplecrawler_spark.plans.crawl import FrontierCrawler
    from simplecrawler_spark.sources.fetch import TableFetcher
    from simplecrawler_spark.sources.fixtures import synthetic_graph

    spark = (SparkSession.builder.appName("simplecrawler-spark-crawl")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    if a.graph:
        graph = spark.read.parquet(a.graph)
    else:
        graph = synthetic_graph(spark, n_pages=a.pages, n_hosts=a.hosts,
                                out_degree=8)
        graph = graph.repartition(spark.sparkContext.defaultParallelism)
        graph.persist().count()

    if not a.seed:
        if a.resume:
            a.seed = []
        else:
            from pyspark.sql import functions as F
            a.seed = [graph.agg(F.min("url")).first()[0]]

    fetcher = TableFetcher(graph, cfg)
    t0 = time.monotonic()
    if a.resume:
        if not a.root:
            raise SystemExit("--resume requires --root")
        crawler = FrontierCrawler.resume(spark, fetcher, a.root, cfg)
        results = crawler.continue_crawl()
    else:
        crawler = FrontierCrawler(spark, fetcher, cfg, root=a.root)
        results = crawler.crawl(a.seed)
    wall = time.monotonic() - t0

    if a.transcript:
        from simplecrawler_spark.plans.crawl import render_crawl_log
        for line in render_crawl_log(crawler.crawl_log()):
            print(line)

    if a.corpus:
        from pyspark.sql import functions as F
        corpus = spark.read.parquet(a.corpus)
        validated = crawler.validated_results(corpus)
        bad = validated.filter(
            F.col("image_id").isNotNull()
            & ~F.col("pixels_ok").eqNullSafe(True)).count()
    else:
        bad = None

    n_done = results.select("url_norm").distinct().count()
    snaps = crawler.store.snapshots()
    out = {
        "seeds": a.seed,
        "rounds": len(snaps),
        "urls_done": n_done,
        "urls_seen": sum(s["metrics"].get("new_urls", 0) for s in snaps),
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(n_done / max(wall, 1e-9), 1),
        "root": crawler.root,
    }
    if bad is not None:
        out["payload_validation_failures"] = bad
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
