#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.md scaling protocol).

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

--scaling: run the identical crawl job at local[2] and local[8]
(N vs 4N cores — the sandbox stand-in for N vs 4N executors,
BASELINE.md protocol) in fresh subprocesses, compute scaling
efficiency = (T_4N / T_N) / 4, and write the raw protocol output to
BENCH/SCALING_LATEST.md (the curated records live in BENCH/SCALING.md
+ BENCH/BASELINE.md and are merged by hand).

--crawl-only: internal mode used by --scaling (crawl job only, one
JSON line).

--imagescale: payload-scale image bench — ≥1M images (~20 GB of
pixel binary) through image_features + pHash near-dup clustering,
with per-stage task-count evidence (BENCH/IMAGESCALE.md).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time


def build_spark(cpus: str):
    from pyspark.sql import SparkSession

    # partitions per core: measured on this workload, 1 wave beats 2
    # (4M pages, local[8]: 63.2k urls/sec at factor 1 vs 55.2k at
    # factor 2 — the Arrow parse stage pays per-task more than a
    # straggler tail costs); SPARK_GRAFT_PART_FACTOR to re-test
    factor = int(os.environ.get("SPARK_GRAFT_PART_FACTOR", "1"))
    n_part = str(max(int(cpus) * factor, 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("simplecrawler-spark-bench")
        .config("spark.sql.shuffle.partitions", n_part)
        .config("spark.default.parallelism", n_part)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # opt-in event log (scripts/stage_times.py digests it into
    # per-stage executor time — the measurement loop for serial
    # overhead and scaling work)
    evdir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", evdir))
    # Shuffle/spill on tmpfs: cluster executors write shuffle to
    # node-local disks whose aggregate bandwidth scales with node
    # count; this box's single virtual disk does not, so leaving
    # spark.local.dir on it caps every run at one disk's throughput
    # regardless of core count.
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    return builder.getOrCreate()


def crawl_bench(spark, n_pages: int, n_hosts: int = 64):
    """The headline job: BFS-crawl a synthetic web graph (Zipf-skewed
    hosts). Returns (urls_done, urls_seen, wall_sec)."""
    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.plans.crawl import FrontierCrawler
    from simplecrawler_spark.sources.fetch import TableFetcher
    from simplecrawler_spark.sources.fixtures import synthetic_graph

    graph = synthetic_graph(spark, n_pages=n_pages, n_hosts=n_hosts,
                            out_degree=8)
    graph = graph.repartition(spark.sparkContext.defaultParallelism)
    graph.persist().count()  # materialise outside the timed window
    # Seeds must be real pages of the hashed-host graph. Multi-seed
    # (1% of pages) floods the BFS to full width in 2-3 rounds, so the
    # measured work is dominated by big data-parallel rounds rather
    # than tiny warm-up rounds of fixed driver-side scheduling
    # overhead (measured ~8s/round regardless of round size).
    # SPARK_GRAFT_SEEDS overrides the 1% default: at the north rule's
    # 10^10-URL regime every round is enormous, so a steadier-state
    # variant (e.g. 5% seeds → big rounds dominate from round 1) is
    # the more faithful scaling workload; the default stays 1% for
    # comparability with earlier rounds' records.
    from pyspark.sql import functions as F
    n_seeds = int(os.environ.get("SPARK_GRAFT_SEEDS",
                                 max(1, n_pages // 100)))
    seeds = [r.url for r in
             graph.select("url").orderBy("url").limit(n_seeds).collect()]

    cfg = CrawlConfig(same_authority_only=False, max_rounds=6,
                      bloom_enabled=True,
                      priority_source=os.environ.get(
                          "SPARK_GRAFT_PRIORITY", "indegree"),
                      link_extractor=os.environ.get(
                          "SPARK_GRAFT_EXTRACTOR", "stdlib"))
    fetcher = TableFetcher(graph, cfg)
    # snapshot tables on tmpfs too (same rationale as spark.local.dir)
    root_base = "/dev/shm" if os.path.isdir("/dev/shm") else None

    # warm-up: one tiny crawl outside the timed window compiles the
    # whole-stage-codegen paths and spins up the Python workers — pure
    # serial JVM warm-up (~5-10s) that would otherwise contaminate the
    # steady-state measurement of BOTH scaling legs.
    # broadcast_max_rows=0 forces the warm-up fetcher onto the SAME
    # partitioned sort-merge join path the big graph takes (a 2k-row
    # graph would otherwise warm the broadcast plan shape and leave the
    # timed round 0 paying the sort-merge codegen compile — measured
    # ~3-4s on the round-0 robots fetch, the first query of that shape)
    warm_graph = synthetic_graph(spark, n_pages=2000, n_hosts=4,
                                 out_degree=6)
    warm_root = tempfile.mkdtemp(prefix="bench-warm-", dir=root_base)
    warm_seed = warm_graph.agg(F.min("url")).first()[0]
    FrontierCrawler(spark, TableFetcher(warm_graph, cfg,
                                        broadcast_max_rows=0), cfg,
                    root=warm_root).crawl(warm_seed)
    import shutil
    shutil.rmtree(warm_root, ignore_errors=True)

    root = tempfile.mkdtemp(prefix="bench-crawl-", dir=root_base)
    crawler = FrontierCrawler(spark, fetcher, cfg, root=root)

    t0 = time.monotonic()
    crawler.crawl(seeds)
    wall = time.monotonic() - t0
    snaps = crawler.store.snapshots()
    done = sum(s["metrics"].get("done_new", 0) for s in snaps)
    seen = sum(s["metrics"].get("new_urls", 0) for s in snaps)
    graph.unpersist()
    import shutil
    shutil.rmtree(root, ignore_errors=True)  # don't leak tmpfs
    return done, seen, wall


def pipeline_benches(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as E

    timings: dict[str, float] = {}
    names = ["q_canonicalize", "q_seen_antijoin", "q_politeness_window",
             "q_dedup_exact", "q_corpus_clean", "q_lsh_pairs", "q_simhash",
             "q_lang_quality", "q_repetition", "q_cosine_topk", "q_ann_lsh",
             "q_robots_gate", "q_phash_neardup", "q_pack_shards",
             "q_mix_rebalance", "q_sessionize", "q_unigram_logprob",
             "q_decontaminate", "q_semantic_dedup", "q_quality_buckets",
             "q_substring_dedup", "q_redact_pii", "q_pagerank",
             "q_ngram_topk", "q_bm25", "q_stratified_sample",
             "q_sq8_topk", "q_hits", "q_url_traps", "q_recrawl",
             "q_chunk_docs", "q_sitemap", "q_robots_sitemaps",
             "q_anchor_text", "q_host_backoff", "q_sniff_format",
             "q_surt_keys", "q_clip_gate", "q_blocklist",
             "q_boilerplate", "q_epochs", "q_warc", "q_wet",
             "q_bpe_pairs", "q_gopher", "q_c4", "q_rrf",
             "q_corpus_stats", "q_meta_robots", "q_alloc_budget",
             "q_pack_images", "q_dedup_against", "q_linear_score",
             "q_pipeline", "q_lang_multi", "q_main_text",
             "q_wat_records", "q_warc_bytes", "q_gopher_rep",
             "q_bigram_logprob", "q_mojibake", "q_charset_meta",
             "q_recall_at_k", "q_ndcg", "q_temperature",
             "q_rel_canonical", "q_url_features", "q_readability",
             "q_diversity", "q_neardup_batch"]
    qs = E.queries()
    for name in names:
        t0 = time.monotonic()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.monotonic() - t0, 3)
    timings["curation_pipeline"] = curation_pipeline_bench(spark, sf_dir)
    timings["substring_rolling"] = substring_rolling_bench(spark, sf_dir)
    timings["warc_wet_pipeline"] = warc_wet_bench(spark, sf_dir)
    timings["bpe_train_encode"] = bpe_bench(spark, sf_dir)
    timings["image_validate"] = image_bench(spark)
    timings["image_neardup"] = image_neardup_bench(spark)
    timings["image_cluster"] = image_cluster_bench(spark)
    timings.update(expiry_bench(spark))
    timings["lsh_pairs_capped"] = lsh_capped_bench(spark)
    return timings


def curation_pipeline_bench(spark, sf_dir: str) -> float:
    """The full FineWeb-style curation chain as ONE composition:
    per-stage ablation flags (lang/quality/Gopher/C4/exact-dup) →
    keep filter → MinHash-LSH near-dup pairs over the survivors →
    token-budget shard packing of the survivors. The end-to-end
    number the per-operator entries compose into."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators import dedup as D
    from simplecrawler_spark.operators.packing import pack_sequences
    from simplecrawler_spark.operators.quality import (
        corpus_pipeline_flags,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t0 = time.monotonic()
    flags = corpus_pipeline_flags(docs)
    kept = docs.join(flags.where(F.col("keep")).select("doc_id"),
                     "doc_id")
    (D.minhash_lsh_pairs(kept)
     .write.format("noop").mode("overwrite").save())
    (pack_sequences(kept)
     .write.format("noop").mode("overwrite").save())
    return round(time.monotonic() - t0, 3)


def warc_wet_bench(spark, sf_dir: str) -> float:
    """End-to-end archive→corpus ingest: format per-source WARC shards
    (HTML-wrapped payloads), parse the records back, WET-extract the
    visible text, and run the composite corpus clean — the integrated
    Common-Crawl-style path (WARC → WET → cleaned corpus) as ONE
    lazy plan; times everything from the archive strings on."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators.dedup import clean_corpus
    from simplecrawler_spark.operators.parse import extract_visible_text
    from simplecrawler_spark.sources.warc import (
        parse_warc_text, warc_record_expr,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = F.col("doc_id").cast("string")
    html = F.concat(F.lit("<html><head><title>Doc "), d,
                    F.lit("</title></head><body><p>"), F.col("text"),
                    F.lit("</p></body></html>"))
    rec = warc_record_expr(F.lit("response"),
                           F.concat(F.lit("http://site/"), d),
                           F.lit("2026-01-01T00:00:00Z"), html)
    arch = (docs.select(F.col("source").alias("file_id"), "doc_id",
                        rec.alias("r"))
            .groupBy("file_id")
            .agg(F.array_join(F.transform(F.array_sort(F.collect_list(
                F.struct("doc_id", "r"))), lambda s: s.r), "")
                .alias("content")))
    arch.persist().count()  # stage the archives; time the ingest only
    t0 = time.monotonic()
    parsed = parse_warc_text(arch)
    wet = parsed.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long")
        .alias("doc_id"),
        extract_visible_text("payload").alias("text"))
    (clean_corpus(wet)
     .write.format("noop").mode("overwrite").save())
    wall = round(time.monotonic() - t0, 3)
    arch.unpersist()
    return wall


def bpe_bench(spark, sf_dir: str) -> float:
    """Tokenizer path end-to-end: train 100 BPE merges from the
    corpus (distributed word counts + bounded driver merge loop),
    then encode every document with the learned table (Arrow-batch,
    word-memoised)."""
    from simplecrawler_spark.functions import bpe

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t0 = time.monotonic()
    merges = bpe.bpe_train(docs, n_merges=100, max_words=200_000)
    (bpe.bpe_encode(docs, merges)
     .write.format("noop").mode("overwrite").save())
    return round(time.monotonic() - t0, 3)


def substring_rolling_bench(spark, sf_dir: str) -> float:
    """The O(n) Karp–Rabin key path for substring dedup, same params
    as q_substring_dedup (window=10, md5 of the cleaned stream) so the
    two timings isolate the key-construction cost — the md5 path is
    O(n·window) string assembly, this is a vectorised linear scan."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators import dedup as D

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t0 = time.monotonic()
    (D.substring_dedup(docs, window=10, key_fn="rolling")
     .select("doc_id", "n_tokens", "n_removed",
             F.md5("text_clean").alias("clean_md5"))
     .write.format("noop").mode("overwrite").save())
    return round(time.monotonic() - t0, 3)


def image_bench(spark, n_images: int = 4096) -> float:
    """Image+caption payload path (the graft's axis B): decode pixels,
    PSNR against the corpus bytes, phash recompute + caption check for
    n_images synthetic images; returns wall seconds."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.functions.images import validate_corpus_join
    from simplecrawler_spark.sources.fixtures import synthetic_corpus

    corpus = synthetic_corpus(spark, n_images=n_images)
    corpus = corpus.repartition(
        spark.sparkContext.defaultParallelism).persist()
    corpus.count()  # materialise generation outside the timed window
    results_like = corpus.select(
        F.col("image_id"),
        F.concat(F.lit("http://img.test/"), "image_id").alias("url_norm"))
    t0 = time.monotonic()
    v = validate_corpus_join(results_like, corpus)
    ok = v.filter(F.col("pixels_ok")).count()
    wall = time.monotonic() - t0
    assert ok == n_images, f"payload validation failed: {ok}/{n_images}"
    corpus.unpersist()
    return round(wall, 3)


def image_neardup_bench(spark, n_images: int = 4096) -> float:
    """pHash near-dup over REAL stored fingerprints (axis B × dedup):
    banded-Hamming candidate join + bit_count verify across the
    corpus' phash column. The synthetic corpus has no planted
    near-dups, so this times the full candidate/verify machinery at
    its natural selectivity; correctness of found pairs is pinned by
    tests/test_text_dedup.py on perturbed decoded images."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators.dedup import fingerprint_near_dup
    from simplecrawler_spark.sources.fixtures import synthetic_corpus

    corpus = synthetic_corpus(spark, n_images=n_images)
    fps = corpus.select(
        F.col("image_id").alias("doc_id"),
        F.col("phash").alias("fingerprint")).persist()
    fps.count()  # corpus generation outside the timed window
    t0 = time.monotonic()
    (fingerprint_near_dup(fps, max_hamming=8)
     .write.format("noop").mode("overwrite").save())
    wall = time.monotonic() - t0
    fps.unpersist()
    return round(wall, 3)


def image_cluster_bench(spark, n_images: int = 4096) -> float:
    """Image dedup CLUSTERING end-to-end (axis B × dedup clustering):
    planted perturbed near-dups (fixtures.near_dup_corpus, 1 per 3
    base images) → banded-Hamming pairs → connected components →
    survivor count. Times the pairs+CC tail; the corpus (with its
    pixel decode/encode) is materialised outside the window."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators.dedup import (
        connected_components, fingerprint_near_dup,
    )
    from simplecrawler_spark.sources.fixtures import near_dup_corpus

    fps = near_dup_corpus(spark, n_images=n_images).select(
        F.regexp_extract("image_id", r"img_0*(\d+)", 1)
        .cast("long").alias("doc_id"), "phash").persist()
    fps.count()  # generation outside the timed window
    t0 = time.monotonic()
    pairs = fingerprint_near_dup(fps, fp_col="phash", max_hamming=6)
    n_clusters = (connected_components(pairs)
                  .filter(F.col("is_survivor")).count())
    wall = round(time.monotonic() - t0, 3)
    # ~1/3 of base images have a planted variant within the gate
    # (a deterministic few land just above hamming 6)
    assert n_clusters >= n_images // 4, n_clusters
    fps.unpersist()
    return wall


def expiry_bench(spark, n_urls: int = 1_000_000) -> dict[str, float]:
    """TTL/recrawl sidecar path (round-3: shard-file cuckoo): bulk-add
    n_urls to the sharded cuckoo filter, then expire half. Both run as
    per-shard applyInPandas jobs over the SIDECAR shard files — no
    broadcast of shard tables and no table bytes through the driver
    (only shard/file-name/count rows)."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators.seen import CuckooSeen

    urls = spark.range(n_urls).select(
        "id",
        F.concat(F.lit("http://h"), (F.col("id") % 997).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string"))
        .alias("url_norm")).persist()
    urls.count()
    cf = CuckooSeen(capacity=1 << 22)
    root_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    shard_dir = tempfile.mkdtemp(prefix="bench-cuckoo-", dir=root_base)
    cf.save_shards(shard_dir)
    t0 = time.monotonic()
    n_add = cf.add_df(urls)
    t_add = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    n_del = cf.delete_df(urls.where("id % 2 = 0"))
    t_del = round(time.monotonic() - t0, 3)
    assert n_add == n_urls and n_del == n_urls // 2, (n_add, n_del)
    urls.unpersist()
    import shutil
    shutil.rmtree(shard_dir, ignore_errors=True)
    return {"cuckoo_add_1m": t_add, "cuckoo_expire_500k": t_del}


def lsh_capped_bench(spark, n_docs: int = 120_000) -> float:
    """Degenerate-bucket guard path (round-2): half the docs are one
    identical boilerplate text — uncapped, that bucket alone is ~1.8B
    pairs in one task; capped it linearises to star pairs. Timing the
    capped run IS the regression check."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators import dedup as D

    boiler = "identical boilerplate navigation footer text " * 3
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit(boiler))
        .otherwise(F.concat(F.lit("unique document number "),
                            F.col("id").cast("string"),
                            F.lit(" with distinct words "),
                            (F.col("id") % 7919).cast("string")))
        .alias("text")).repartition(spark.sparkContext.defaultParallelism)
    t0 = time.monotonic()
    n_pairs = D.minhash_lsh_pairs(docs, n_hashes=4,
                                  max_bucket=256).count()
    wall = round(time.monotonic() - t0, 3)
    assert n_pairs >= n_docs // 2 - 1, n_pairs
    return wall


def scale_pages(sf: float) -> int:
    # sf0.1 → 400k pages (×8 links ≈ 3.2M edges): large enough that
    # data-parallel rounds dominate the fixed per-round driver overhead
    return max(10_000, int(4_000_000 * sf))


def run_default():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # host-capacity context (see cpu_capacity_probe): this guest's HOST
    # is intermittently oversubscribed by other tenants; a probe pair
    # around the run lets a reader attribute slow numbers to the box.
    # probe_1w/probe_8w ~equal = healthy; probe_8w >> probe_1w = the
    # host is not delivering concurrent cores during this window.
    probe_1w = cpu_capacity_probe(1)
    probe_8w = cpu_capacity_probe(8)
    spark = build_spark(cpus)

    timings: dict[str, float] = {}
    t0 = time.monotonic()
    done, seen, wall = crawl_bench(spark, scale_pages(sf))
    timings["crawl_bfs"] = round(wall, 3)
    timings.update(pipeline_benches(spark, sf_dir))
    total = round(time.monotonic() - t0, 3)

    print(json.dumps({
        "metric": "headline crawl+pipeline wall time "
                  f"(crawl: {done} done / {seen} deduped urls, "
                  f"{round((done + seen) / max(wall, 1e-9))} urls/sec)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "host_probe_1w_sec": probe_1w,
        "host_probe_8w_sec": probe_8w,
    }))
    spark.stop()


def run_crawl_only():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", "100000"))
    spark = build_spark(cpus)
    done, seen, wall = crawl_bench(spark, n_pages)
    print(json.dumps({"cpus": int(cpus), "pages": n_pages, "done": done,
                      "seen": seen, "wall_sec": round(wall, 3),
                      "urls_per_sec": round((done + seen) / wall, 1)}))
    spark.stop()


def stage_task_report(evdir: str) -> tuple[list[dict], list[str], str]:
    """The 'no single-task stage' evidence (round-3 verdict item 7)
    from the event log at ``evdir``: its completed stages, the names
    of the 1-task stages slower than 2 s, and a markdown table of
    every stage's task count and wall time."""
    from scripts.stage_times import read_stages

    stages, _, _ = read_stages(evdir)
    single = [s["name"] for s in stages
              if s["ntask"] == 1 and s["comp"] - s["sub"] > 2000]
    table = ("| stage | tasks | wall ms | name |\n|---|---|---|---|\n"
             + "".join(f"| {s['sid']} | {s['ntask']} "
                       f"| {s['comp'] - s['sub']} | {s['name']} |\n"
                       for s in stages))
    return stages, single, table


def run_textscale():
    """Corpus-scale text bench (opt-in: bench.py --textscale).

    The per-round text entries run at sf0.1's 5,000 documents; this
    mode drives the curation chain at ≥1M documents
    (SPARK_GRAFT_DOCS, default 1M): the sf0.1 corpus fanned out with
    per-copy variant suffixes, every 10th copy repeating its base
    text verbatim so exact-dup groups exist at scale by construction.

    Phases (timed separately, one JSON line):
      gen      synthesise + stage to parquet ON DISK (real scan)
      flags    corpus_pipeline_flags over the full corpus — the
               five-stage ablation table + keep filter
      dedup    exact_dedup group/dup counts over the survivors
      minhash  MinHash-LSH banded candidate pairs over the survivors
    The claim under test: the curation chain's throughput holds at
    200× the per-round corpus with no plan change — same operators,
    same one-pass flags, same banded blocking."""
    import shutil

    n_docs = int(os.environ.get("SPARK_GRAFT_DOCS", "1000000"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    corpus_dir = os.environ.get("SPARK_GRAFT_TEXT_DIR",
                                "/tmp/textscale-corpus")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe_pre = cpu_capacity_probe(8)
    spark = build_spark(cpus)

    from pyspark.sql import functions as F

    from simplecrawler_spark.operators import dedup as D
    from simplecrawler_spark.operators.quality import (
        corpus_pipeline_flags,
    )

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_base = base.count()
    fan = max(1, n_docs // n_base)
    phases: dict[str, float] = {}

    t0 = time.monotonic()
    copies = spark.range(fan).select(F.col("id").alias("copy"))
    # sentence-wrapped multi-line bodies (q_pipeline's shape) so the
    # Gopher/C4 stages are actually exercised — raw single-line rows
    # would fail C4's 3-kept-lines floor corpus-wide; every 10th copy
    # is its base's text VERBATIM so exact-dup groups exist at scale
    variant = F.when(F.col("copy") % 10 == 0, F.lit("")).otherwise(
        F.concat(F.lit(" variant "), F.col("copy").cast("string")))
    body = F.concat(
        F.lit("This sentence about "), F.col("source"),
        F.lit(" has plenty of words.\n"), F.col("text"), variant,
        F.lit(".\nHere is another complete sentence with "
              "enough words."))
    corpus = (base.crossJoin(copies)
              .select(
                  (F.col("doc_id") * fan + F.col("copy"))
                  .alias("doc_id"),
                  "source", body.alias("text")))
    n_parts = spark.sparkContext.defaultParallelism
    shutil.rmtree(corpus_dir, ignore_errors=True)
    corpus.repartition(n_parts).write.mode("overwrite").parquet(
        corpus_dir)
    phases["gen"] = round(time.monotonic() - t0, 3)

    corpus = spark.read.parquet(corpus_dir)
    n_total = corpus.count()

    # the flags phase ends with the survivor set MATERIALISED at full
    # parallelism: AQE coalesces the tiny keep-join shuffle to one
    # partition, and the expensive per-row shingle work downstream
    # must not inherit that
    t0 = time.monotonic()
    flags = corpus_pipeline_flags(corpus)
    kept = (corpus.join(flags.where(F.col("keep")).select("doc_id"),
                        "doc_id")
            .repartition(n_parts).persist())
    n_keep = kept.count()
    phases["flags"] = round(time.monotonic() - t0, 3)

    # exact dedup over the FULL corpus (the keep filter's canonical
    # stage already collapsed duplicate groups among survivors)
    t0 = time.monotonic()
    groups = D.exact_dedup(corpus).count()
    phases["dedup"] = round(time.monotonic() - t0, 3)

    # near-dup over survivors: every base doc has ~fan near-dup
    # variants, so buckets are deep by construction — max_bucket=32
    # exercises the star-cap guard (pairs linear per bucket, the
    # documented boilerplate-corpus behaviour) instead of quadratic
    # all-pairs inside every bucket
    t0 = time.monotonic()
    n_pairs = D.minhash_lsh_pairs(kept, max_bucket=32).count()
    phases["minhash"] = round(time.monotonic() - t0, 3)
    kept.unpersist()

    probe_post = cpu_capacity_probe(8)
    wall = sum(v for k, v in phases.items() if k != "gen")
    print(json.dumps({
        "docs": n_total, "kept": n_keep, "dedup_groups": groups,
        "lsh_pairs": n_pairs, "phases": phases,
        "curation_wall_sec": round(wall, 3),
        "docs_per_sec": round(n_total / max(wall, 1e-9)),
        "probe_pre": probe_pre, "probe_post": probe_post,
    }))
    spark.stop()


def run_embscale():
    """Embedding-scale bench (opt-in: bench.py --embscale).

    Drives the full corpus-scale SemDeDup recipe at ≥1M × 64-dim
    vectors and 4096 IVF cells — the regime where the literal-inlined
    assignment cannot compile and occupancy skew decides the in-cell
    quadratic cost. Three-stage chain, each phase timed:

      gen      deterministic pseudo-random vectors (xxhash64-derived,
               pure JVM) staged to parquet on disk
      sampled  lowest-id centroid pick + BLAS assignment → occupancy
               skew + candidate-pair count of the UNREFINED quantiser
      kmeans   Lloyd refinement via the fused BLAS partial-sum engine
               (ivf_centroids_kmeans assign_mode="pandas")
      refined  re-assignment on refined centroids → occupancy skew +
               pair count (the balance the refinement buys)
      dedup    semantic_dedup(assigned=refined) end-to-end survivors

    The claim under test: refinement collapses the measured ~40×
    max/median occupancy skew — and with it the (max/median)²
    hottest-cell pair blowup — so the shipped recipe at 10^9+ vectors
    is kmeans → ivf_assign_pandas → semantic_dedup(assigned=…)."""
    import shutil

    n_vecs = int(os.environ.get("SPARK_GRAFT_VECS", "1000000"))
    dim = int(os.environ.get("SPARK_GRAFT_DIM", "64"))
    n_cells = int(os.environ.get("SPARK_GRAFT_CELLS", "4096"))
    n_iters = int(os.environ.get("SPARK_GRAFT_KMEANS_ITERS", "2"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    corpus_dir = os.environ.get("SPARK_GRAFT_EMB_DIR",
                                "/tmp/embscale-corpus")
    probe_pre = cpu_capacity_probe(8)
    spark = build_spark(cpus)

    from pyspark.sql import functions as F

    from simplecrawler_spark.operators import similarity as S

    phases: dict[str, float] = {}

    t0 = time.monotonic()
    # xxhash64-derived uniform doubles in [-1, 1): deterministic,
    # generated JVM-side, no Python in the gen path. With
    # SPARK_GRAFT_DUP_VECS=k, the last k rows are EXACT copies of
    # rows 0..k-1 (the embedding is a pure function of `src`), so the
    # dedup phase has a known answer: survivors == n_vecs.
    n_dups = int(os.environ.get("SPARK_GRAFT_DUP_VECS", "0"))
    src = F.when(F.col("id") < n_vecs, F.col("id")) \
        .otherwise(F.col("id") - n_vecs)
    cols = [((F.pmod(F.xxhash64(src, F.lit(j)), F.lit(100000))
              .cast("double") / F.lit(50000.0)) - F.lit(1.0))
            for j in range(dim)]
    vecs = spark.range(n_vecs + n_dups).select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("embedding"))
    shutil.rmtree(corpus_dir, ignore_errors=True)
    n_parts = spark.sparkContext.defaultParallelism
    vecs.repartition(n_parts).write.mode("overwrite").parquet(corpus_dir)
    phases["gen"] = round(time.monotonic() - t0, 3)
    emb = spark.read.parquet(corpus_dir)

    def occupancy(assigned):
        occ = assigned.groupBy("cell").count()
        st = occ.agg(
            F.max("count").alias("mx"),
            F.expr("percentile_approx(count, 0.5)").alias("med"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
            .alias("pairs"),
            F.count("*").alias("n_occupied")).first()
        return (int(st["mx"]), int(st["med"]), int(st["pairs"]),
                int(st["n_occupied"]))

    t0 = time.monotonic()
    cents0 = S.ivf_centroids(emb, n_cells=n_cells)
    a0 = S.ivf_assign_pandas(emb, cents0).persist()
    mx0, med0, pairs0, occ0 = occupancy(a0)
    a0.unpersist()
    phases["sampled_assign"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    cents = S.ivf_centroids_kmeans(
        emb, n_cells=n_cells, n_iters=n_iters, init=cents0,
        assign_mode="pandas")
    phases["kmeans"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    a1 = S.ivf_assign_pandas(emb, cents).persist()
    mx1, med1, pairs1, occ1 = occupancy(a1)
    phases["refined_assign"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    survivors = S.semantic_dedup(
        emb, threshold=0.999, assigned=a1.join(emb, "vec_id")).count()
    phases["dedup"] = round(time.monotonic() - t0, 3)
    a1.unpersist()

    probe_post = cpu_capacity_probe(8)
    spark.stop()
    wall = sum(v for k, v in phases.items() if k != "gen")
    print(json.dumps({
        "mode": "embscale", "n_vecs": n_vecs, "dim": dim,
        "n_dup_vecs": n_dups, "expected_survivors":
            (n_vecs if n_dups else None),
        "n_cells": n_cells, "kmeans_iters": n_iters,
        "phases": phases,
        "sampled": {"max_occ": mx0, "median_occ": med0,
                    "pairs": pairs0, "occupied": occ0,
                    "skew": round(mx0 / max(med0, 1), 1)},
        "refined": {"max_occ": mx1, "median_occ": med1,
                    "pairs": pairs1, "occupied": occ1,
                    "skew": round(mx1 / max(med1, 1), 1)},
        "pairs_ratio": round(pairs1 / max(pairs0, 1), 3),
        "dedup_survivors": survivors,
        "chain_wall_sec": round(wall, 3),
        "vecs_per_sec": round(n_vecs / max(wall, 1e-9)),
        "probe_pre": probe_pre, "probe_post": probe_post,
    }))


def run_imagescale():
    """Payload-scale image bench (opt-in: bench.py --imagescale).

    The per-round image benches run at 4k images; this mode drives the
    SAME operators at ≥1M images (SPARK_GRAFT_IMAGES, default 1M base
    + 1 planted perturbed near-dup per 3 base = 4/3M rows, ~20 GB of
    pixel payload) to demonstrate the two scale claims the small runs
    cannot: (a) capped Arrow batches keep the decode stage's memory
    flat at payload scale, and (b) the banded-Hamming near-dup +
    clustering tail reads ONLY (image_id, phash) — column pruning
    skips the pixel bytes entirely, so the dedup pass over a 20 GB
    corpus scans ~10 MB.

    Phases (each timed separately, one JSON line at the end):
      gen        synthesise + stage the corpus to parquet ON DISK
                 (not tmpfs — the payload should exercise a real scan)
      features   full pixel decode: image_features() -> noop sink
      neardup    fingerprint_near_dup + connected_components over the
                 phash column -> cluster/survivor counts
    Per-stage task counts from the event log are appended to
    BENCH/IMAGESCALE.md — the gate is that no data-bearing stage
    collapses to a single task."""
    import shutil

    n_images = int(os.environ.get("SPARK_GRAFT_IMAGES", "1000000"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    max_hamming = int(os.environ.get("SPARK_GRAFT_IMG_HAMMING", "4"))
    corpus_dir = os.environ.get("SPARK_GRAFT_IMG_DIR",
                                "/tmp/imagescale-corpus")
    evdir = tempfile.mkdtemp(prefix="imagescale-ev-")
    os.environ["SPARK_GRAFT_EVENTLOG"] = evdir
    probe_pre = cpu_capacity_probe(8)
    spark = build_spark(cpus)
    # binary rows are ~19 KB each; 1024 rows/batch ≈ 20 MB Arrow
    # batches through mapInPandas regardless of corpus size — the cap
    # under test
    arrow_batch = os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   arrow_batch)

    from pyspark.sql import functions as F

    from simplecrawler_spark.operators.dedup import (
        connected_components, fingerprint_near_dup,
    )
    from simplecrawler_spark.functions.multimodal import image_features
    from simplecrawler_spark.sources.fixtures import near_dup_corpus

    phases: dict[str, float] = {}

    # -- gen: corpus to parquet on disk ---------------------------------
    shutil.rmtree(corpus_dir, ignore_errors=True)
    t0 = time.monotonic()
    near_dup_corpus(spark, n_images=n_images).write.parquet(corpus_dir)
    phases["gen"] = round(time.monotonic() - t0, 3)
    bytes_on_disk = sum(
        os.path.getsize(os.path.join(corpus_dir, f))
        for f in os.listdir(corpus_dir) if f.endswith(".parquet"))

    corpus = spark.read.parquet(corpus_dir)
    n_rows = corpus.count()

    # -- features: full pixel decode ------------------------------------
    t0 = time.monotonic()
    image_features(corpus).write.format("noop").mode("overwrite").save()
    phases["features"] = round(time.monotonic() - t0, 3)

    # -- neardup: banded Hamming pairs + CC over phash only --------------
    t0 = time.monotonic()
    fp = corpus.select(
        F.regexp_extract("image_id", r"img_0*(\d+)", 1)
        .cast("long").alias("doc_id"), "phash")
    pairs = fingerprint_near_dup(fp, fp_col="phash",
                                 max_hamming=max_hamming, n_bits=64)
    comp = connected_components(pairs.select("id_a", "id_b"))
    stats = comp.agg(
        F.count("*").alias("n_in_clusters"),
        F.countDistinct("component").alias("n_clusters")).first()
    phases["neardup_cluster"] = round(time.monotonic() - t0, 3)
    probe_post = cpu_capacity_probe(8)
    spark.stop()

    stages, single, stage_table = stage_task_report(evdir)
    out = {
        "mode": "imagescale",
        "n_images_base": n_images,
        "n_rows": n_rows,
        "corpus_gb": round(bytes_on_disk / 1e9, 2),
        "phases": phases,
        "features_imgs_per_sec": round(n_rows / phases["features"], 1),
        "arrow_max_records_per_batch": int(arrow_batch),
        "max_hamming": max_hamming,
        "n_in_clusters": stats["n_in_clusters"],
        "n_clusters": stats["n_clusters"],
        "n_stages": len(stages),
        "slow_single_task_stages": single,
        "host_probe_pre_sec": probe_pre,
        "host_probe_post_sec": probe_post,
    }

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/IMAGESCALE.md", "w") as fh:
        fh.write(
            "# Payload-scale image bench (bench.py --imagescale)\n\n"
            f"{n_images:,} base images + 1 perturbed near-dup per 3 "
            f"base = {n_rows:,} rows, {out['corpus_gb']} GB parquet on "
            "disk (pixels as binary, input_hint schema). local"
            f"[{cpus}], Arrow batches capped at {arrow_batch} rows "
            "(~20 MB of binary per batch, flat in corpus size).\n\n"
            "| phase | wall s | notes |\n|---|---|---|\n"
            f"| gen | {phases['gen']} | synthesise + stage to parquet "
            "(untimed in headline benches; on-disk so later phases "
            "pay a real scan) |\n"
            f"| features | {phases['features']} | full decode of every "
            f"pixel ({out['features_imgs_per_sec']:,} imgs/sec) — "
            "mapInPandas, poison-pill tolerant |\n"
            f"| neardup_cluster | {phases['neardup_cluster']} | banded "
            f"Hamming (≤{max_hamming} bits) pairs + connected "
            f"components: {stats['n_clusters']:,} clusters / "
            f"{stats['n_in_clusters']:,} clustered ids; scan reads "
            "ONLY (image_id, phash) — column pruning skips the pixel "
            "bytes |\n\n"
            f"host capacity probes (8w, s/worker): {probe_pre} pre / "
            f"{probe_post} post\n\n"
            "## Per-stage task counts (event-log digest)\n\n"
            "Gate: no data-bearing stage runs as a single task "
            "(result-collect stages of driver-side aggs excepted; "
            "'slow single-task stages' below lists any 1-task stage "
            ">2 s).\n\n"
            f"slow single-task stages: {single or 'none'}\n\n"
            + stage_table)
    shutil.rmtree(evdir, ignore_errors=True)
    if os.environ.get("SPARK_GRAFT_IMG_KEEP") != "1":
        shutil.rmtree(corpus_dir, ignore_errors=True)
    print(json.dumps(out))


_PROBE_SNIPPET = (
    "import time,numpy as np;a=np.random.default_rng(1).random(2_000_000)\n"
    "for _ in range(20): a=np.sqrt(a*a+1e-9)  # warm: freq ramp, faults\n"
    "t=time.perf_counter()\n"
    "for _ in range(120): a=np.sqrt(a*a+1e-9)\n"
    "print(time.perf_counter()-t)")


def cpu_capacity_probe(workers: int) -> float:
    """Host-capacity control for the scaling protocol: run `workers`
    concurrent single-thread numpy kernels; return the median
    per-worker seconds. On a healthy box this is ~flat from 2 to 8
    workers (32 guest cores); when the HOST is oversubscribed (steal
    stays 0 under firecracker, so the guest cannot see it directly)
    the 8-worker probe inflates while the 2-worker probe does not —
    exactly the condition that depresses the 4N leg's throughput for
    reasons unrelated to the code under test."""
    import statistics
    import subprocess

    procs = [subprocess.Popen([sys.executable, "-c", _PROBE_SNIPPET],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(workers)]
    vals = [float(p.communicate()[0].strip()) for p in procs]
    return round(statistics.median(vals), 3)


# streaming sum over a 256 MiB array, far out of cache: each worker
# moves ~3 GB through the memory controller, so co-tenant BANDWIDTH
# pressure shows here even when the cache-resident CPU probe reads
# healthy (observed 2026-08-19: 4/8-core Spark legs at ~2/3 the
# per-core throughput of 1/2-core legs while cpu probes were flat —
# the crawl is allocation/shuffle-heavy and bandwidth-bound long
# before it is ALU-bound).
_BW_SNIPPET = (
    "import time,numpy as np;a=np.zeros(32_000_000)\n"
    "s=a.sum()  # warm: page faults\n"
    "t=time.perf_counter()\n"
    "for _ in range(12): s+=a.sum()\n"
    "print(time.perf_counter()-t)")


def mem_bandwidth_probe(workers: int) -> float:
    """Per-worker median seconds for the streaming-sum kernel with
    `workers` concurrent processes — the bandwidth companion to
    cpu_capacity_probe (same bracketing discipline)."""
    import statistics
    import subprocess

    procs = [subprocess.Popen([sys.executable, "-c", _BW_SNIPPET],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(workers)]
    vals = [float(p.communicate()[0].strip()) for p in procs]
    return round(statistics.median(vals), 3)


def run_scaling():
    """BASELINE.md protocol: identical job at N vs 4N cores.

    Default N=2 (local[2] vs local[8]): a real cluster scales by
    adding MACHINES, so per-executor memory bandwidth stays constant;
    oversubscribing every core of this single 32-core box conflates
    core-count scaling with single-socket bandwidth saturation
    (measured with a pure-multiprocessing parse benchmark: per-row
    Python cost rises ~28% going from 8 to 32 resident workers).
    2→8 keeps the rule's 4x factor while leaving the box headroom —
    the closest single-node stand-in for N→4N executors. Set
    SPARK_GRAFT_SCALE_CPUS=4,16 or 8,32 for the tighter variants.

    SPARK_GRAFT_TRIALS (default 3): this shared box shows ±10%
    run-to-run throughput variance (measured round 2: the identical
    local[8] job swung 53.8k→61.0k urls/sec between solo runs), and
    the efficiency quotient amplifies opposing swings of its two legs.
    The protocol therefore runs N alternating trials per leg and
    reports the per-leg MEDIAN, with every trial listed.
    """
    import statistics

    n_pages = os.environ.get("SPARK_GRAFT_PAGES", "4000000")
    lo, hi = os.environ.get("SPARK_GRAFT_SCALE_CPUS", "2,8").split(",")
    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    trials: dict[str, list[dict]] = {lo: [], hi: []}
    for t in range(n_trials):
        for cpus in (lo, hi):  # alternate legs so drift hits both alike
            # probe BEFORE and AFTER the leg: the host has been
            # observed collapsing mid-leg (round-3 notes: a leg ran 3x
            # slow while both adjacent probes looked healthy once, and
            # vice versa) — bracketing each leg bounds the window the
            # instrument can miss to the leg itself
            probe = cpu_capacity_probe(int(cpus))
            bw = mem_bandwidth_probe(int(cpus))
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
                       SPARK_GRAFT_PAGES=n_pages)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--crawl-only"],
                env=env, capture_output=True, text=True, check=True)
            probe_post = cpu_capacity_probe(int(cpus))
            bw_post = mem_bandwidth_probe(int(cpus))
            line = [l for l in out.stdout.splitlines()
                    if l.startswith("{")][-1]
            rec = json.loads(line)
            rec["probe_sec"] = probe
            rec["probe_post_sec"] = probe_post
            rec["bw_probe_sec"] = bw
            rec["bw_probe_post_sec"] = bw_post
            trials[cpus].append(rec)
            print(f"trial {t + 1} local[{cpus}]: probe={probe}/"
                  f"{probe_post} bw={bw}/{bw_post} {line}", flush=True)

    med = {c: statistics.median(r["urls_per_sec"] for r in trials[c])
           for c in (lo, hi)}
    t_lo, t_hi = med[lo], med[hi]
    # efficiency is computed PER TRIAL and the median taken across
    # trials: each trial's two legs run back-to-back, so the box's
    # slow drift (±10% over tens of minutes, see BENCH/ROUND2_NOTES.md)
    # hits both legs of a trial alike and cancels in the ratio, while
    # the median rejects a single anomalous leg. Pairing the per-leg
    # medians instead would divide throughputs measured tens of
    # minutes apart.
    per_trial_eff = [
        (trials[hi][i]["urls_per_sec"] / trials[lo][i]["urls_per_sec"]) / 4
        for i in range(n_trials)]
    eff = statistics.median(per_trial_eff)

    # host-clean classification — on the PROBE INSTRUMENT ONLY, never
    # on the measured outcome: a trial is host-clean when its four
    # bracketing probes (pre/post x both legs) agree within
    # SPARK_GRAFT_PROBE_TOL (default 1.3x min-to-max), i.e. the host
    # delivered both legs' core counts equally through the whole trial.
    # This box's failure mode is other tenants intermittently
    # oversubscribing the HOST (invisible to guest steal time under
    # firecracker); an inflated probe around one leg means that leg's
    # throughput reflects the box, not the code.
    tol = float(os.environ.get("SPARK_GRAFT_PROBE_TOL", "1.3"))

    def trial_probes(i):
        return [trials[c][i][k] for c in (lo, hi)
                for k in ("probe_sec", "probe_post_sec")]

    clean = [i for i in range(n_trials)
             if max(trial_probes(i)) / min(trial_probes(i)) <= tol]
    eff_clean = (statistics.median(per_trial_eff[i] for i in clean)
                 if clean else None)
    os.makedirs("BENCH", exist_ok=True)
    import platform
    specs = (f"{platform.machine()}, {os.cpu_count()} cores, "
             f"python {platform.python_version()}")

    # host-capacity control: per-trial ratio of the 4N leg's probe to
    # the N leg's (1.0 = host delivered both core counts equally;
    # >1 = the 4N leg ran on an oversubscribed host and its depressed
    # throughput is attributable to the box, not the code)
    probe_infl = [
        round(trials[hi][i]["probe_sec"] / trials[lo][i]["probe_sec"], 3)
        for i in range(n_trials)]

    def leg_row(c, label):
        runs = ", ".join(str(r["urls_per_sec"]) for r in trials[c])
        probes = ", ".join(f"{r['probe_sec']}/{r['probe_post_sec']}"
                           for r in trials[c])
        bws = ", ".join(
            f"{r.get('bw_probe_sec', '-')}/{r.get('bw_probe_post_sec', '-')}"
            for r in trials[c])
        d = trials[c][0]
        return (f"| local[{c}] ({label}) | {d['done']} | {d['seen']} "
                f"| {runs} | **{med[c]}** | {round(med[c] / int(c), 1)} "
                f"| {probes} | {bws} |\n")

    body = (
        "# Scaling protocol run (N vs 4N cores — BASELINE.md)\n\n"
        f"machine: {specs}; spark confs: AQE on, arrow on, "
        "shuffle.partitions = max(cores, 8), driver 16g\n\n"
        f"synthetic frontier: {n_pages} pages, out-degree 8, 64 hosts "
        f"(power-law-skewed), "
        f"{int(os.environ.get('SPARK_GRAFT_SEEDS', max(1, int(n_pages) // 100)))}"
        " seeds, "
        "identical input + job at both parallelism levels; "
        f"{n_trials} alternating trials per leg, per-leg median "
        "(this box shows ±10% run-to-run variance — every trial shown)\n\n"
        "| config | pages done | urls deduped | urls/sec per trial | "
        "median urls/sec | urls/sec per core | cpu probe s/worker | "
        "bandwidth probe s/worker |\n"
        "|---|---|---|---|---|---|---|---|\n"
        + leg_row(lo, "N") + leg_row(hi, "4N") +
        f"\nper-trial efficiency (4N/N per back-to-back pair ÷ 4): "
        f"{', '.join(f'{e:.3f}' for e in per_trial_eff)}\n\n"
        f"per-trial host-capacity inflation (4N probe ÷ N probe, "
        f"1.0 = host delivered both equally): "
        f"{', '.join(f'{p:.3f}' for p in probe_infl)}\n\n"
        "host-clean trials (all four bracketing probes — pre/post x "
        f"both legs — within {tol}x min-to-max; classification uses "
        "ONLY the probe instrument, never the measured throughput): "
        f"{[i + 1 for i in clean] or 'none'}"
        + (f"; **efficiency over host-clean trials = "
           f"{eff_clean:.2f}**\n\n" if eff_clean is not None else "\n\n")
        + f"**median per-leg urls/sec: N={t_lo}, 4N={t_hi}; scaling "
        f"efficiency (median of per-trial ratios) = {eff:.2f}** "
        "(gate: ≥ 0.8). Per-trial ratios are used because the box "
        "drifts ±10% over tens of minutes — a trial's two legs run "
        "back-to-back and share that drift, so it cancels in the "
        "ratio; pairing per-leg medians would divide numbers measured "
        "tens of minutes apart.\n\n"
        f"Why N={lo}: a cluster scales by adding machines (constant "
        "per-executor memory bandwidth); saturating every core of one "
        "32-core box adds ~28%/row slowdown from bandwidth/cache "
        "contention that no multi-machine cluster would see, so "
        f"local[{lo}]→local[{hi}] with headroom is the honest "
        "single-node stand-in for N→4N executors.\n")
    # Raw protocol output goes to its own file; BENCH/SCALING.md and
    # BENCH/BASELINE.md are curated records (history + attribution) and
    # must not be clobbered by an automated run — merge new runs into
    # them by hand after inspecting the probe classification.
    with open("BENCH/SCALING_LATEST.md", "w") as fh:
        fh.write(body)
    print(json.dumps({f"t{lo}_urls_per_sec": t_lo,
                      f"t{hi}_urls_per_sec": t_hi,
                      "trials": {c: [r["urls_per_sec"] for r in trials[c]]
                                 for c in (lo, hi)},
                      "per_trial_efficiency": [round(e, 3)
                                               for e in per_trial_eff],
                      "probe_inflation": probe_infl,
                      "host_clean_trials": [i + 1 for i in clean],
                      "scaling_efficiency_clean":
                          round(eff_clean, 3) if eff_clean else None,
                      "scaling_efficiency": round(eff, 3)}))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    elif "--crawl-only" in sys.argv:
        run_crawl_only()
    elif "--imagescale" in sys.argv:
        run_imagescale()
    elif "--embscale" in sys.argv:
        run_embscale()
    elif "--textscale" in sys.argv:
        run_textscale()
    else:
        run_default()
