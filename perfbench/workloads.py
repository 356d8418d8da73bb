"""The benchmark's workloads: inputs, warm-up, one timed job, and the
check of its output against the oracle.

A workload object is built once per run. ``make_inputs(seed)`` is pure
numpy (gen.py); ``prepare`` turns the inputs into persisted Spark
DataFrames; ``warm_up`` runs a small job of the same shape; ``run``
performs one timed job and returns an ``Iteration``. A run times at
least ``min_jobs`` jobs.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import gen
import oracle


@dataclass
class Iteration:
    wall_s: float
    items: int
    round_s: list[float]           # gaps between consecutive checkpoints
    table_bytes: int
    table_files: int
    error: str | None              # failed check, or None
    counts: dict = field(default_factory=dict)   # per-layer counts


def tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


# -- crawl workload --------------------------------------------------------

class PoliteHosts:
    """Crawl a layered graph (gen.layered_graph) to the fixpoint from a
    seed DataFrame; the visited set is checked against the numpy BFS.

    More authorities than robots_closure_max: the seeds' hosts start
    on the driver-side closure path, round 1's discoveries push the
    crawl onto the robots-table join path (and, past
    robots_delay_map_max delay hosts, the joined politeness window).
    The two hot hosts exceed their per-round budget (host 1 through
    its Crawl-delay) in the middle level, so some of their pages are
    deferred in round 1 and fetched in round 2. Three levels, so three
    rounds: every crawl round costs several seconds whatever its size,
    and a fourth made a run too long for the comparison budget."""

    name = "polite_hosts"
    min_jobs = 1
    graph_args = dict(level_sizes=(200, 1200, 800),
                      n_hosts=600, hot_quota=(60, 60), out_degree=10,
                      delay_share=10, crawl_delay=1.5)
    warm_args = dict(level_sizes=(60, 100, 100, 30),
                     n_hosts=100, hot_quota=(10, 10), out_degree=10,
                     delay_share=10, crawl_delay=1.5)
    crawl_cfg = dict(bloom_enabled=True, max_per_host_per_round=45,
                     round_seconds=60.0, robots_closure_max=250,
                     robots_delay_map_max=30, seed_state_mode="table",
                     max_rounds=100)

    def make_inputs(self, seed: int, warm: bool = False) -> gen.Graph:
        args = self.warm_args if warm else self.graph_args
        return gen.layered_graph(seed, **args)

    def config(self, **overrides):
        from simplecrawler_spark.config import CrawlConfig
        return CrawlConfig(same_authority_only=False,
                           **dict(self.crawl_cfg, **overrides))

    def prepare(self, spark, graph: gen.Graph, work: str) -> dict:
        """Graph → persisted site_graph and seed DataFrames and a
        TableFetcher over the site graph."""
        import pandas as pd

        from simplecrawler_spark.plans import schemas
        from simplecrawler_spark.sources.fetch import TableFetcher

        parts = spark.sparkContext.defaultParallelism
        site = (spark.createDataFrame(pd.DataFrame(graph.site_rows()),
                                      schemas.SITE_GRAPH)
                .repartition(parts).persist())
        site.count()
        seeds = spark.createDataFrame([(u,) for u in graph.seed_urls()],
                                      "url_raw string").persist()
        seeds.count()
        return {"graph": graph, "site": site, "seeds": seeds,
                "fetcher": TableFetcher(site, self.config())}

    def release(self, state: dict) -> None:
        state["site"].unpersist()
        state["seeds"].unpersist()

    def warm_up(self, spark, seed: int, work: str) -> None:
        state = self.prepare(spark, self.make_inputs(seed, warm=True), work)
        # one round, with both robots limits at zero so the join gate
        # and the joined politeness window compile here as well
        self._crawl(spark, state, work,
                    self.config(max_rounds=1, robots_closure_max=0,
                                robots_delay_map_max=0), None)
        self.release(state)

    def _crawl(self, spark, state: dict, work: str, cfg, tracer):
        from simplecrawler_spark.plans.crawl import FrontierCrawler

        root = tempfile.mkdtemp(prefix="crawl-", dir=work)
        crawler = FrontierCrawler(spark, state["fetcher"], cfg, root=root)
        t0 = time.time()
        with _span(tracer, "crawl"):
            crawler.crawl_df(state["seeds"])
        return crawler, root, t0, time.time()

    def run(self, spark, state: dict, work: str,
            answer: oracle.CrawlAnswer, tracer=None) -> Iteration:
        crawler, root, t0, t1 = self._crawl(spark, state, work,
                                            self.config(), tracer)
        snaps = crawler.store.snapshots()
        commits = sorted(
            os.stat(os.path.join(root, "snapshots", f"snap-{s['id']:06d}.json"))
            .st_mtime for s in snaps)
        visited = [r.url_norm for r in
                   crawler.results().select("url_norm").collect()]
        m = [s["metrics"] for s in snaps]
        counts = {"rounds": len(snaps),
                  "pages": sum(x["done_new"] for x in m),
                  "new_urls": sum(x["new_urls"] for x in m),
                  "deferred": sum(x["frontier_next"] - x["new_urls"]
                                  for x in m)}
        if tracer is not None:
            counts["authorities"] = crawler.store.read("robots").count()
            counts["blocked"] = self._blocked(crawler)
        error = oracle.check_crawl(state["graph"], answer, visited,
                                   counts["new_urls"])
        n_bytes, n_files = tree_size(root)
        shutil.rmtree(root, ignore_errors=True)
        return Iteration(
            wall_s=t1 - t0, items=len(visited),
            round_s=[b - a for a, b in zip([t0] + commits, commits)],
            table_bytes=n_bytes, table_files=n_files, error=error,
            counts=counts)

    @staticmethod
    def _blocked(crawler) -> int:
        """Discovered urls (seen table plus seeds) never fetched: at the
        fixpoint, the pages the robots gate refused."""
        found = (crawler.store.read("seen").select("url_norm")
                 .union(crawler.store.read("frontier", partition="r0")
                        .select("url_norm"))
                 .distinct())
        return found.join(crawler.results().select("url_norm"),
                          "url_norm", "left_anti").count()

    def oracle(self, graph: gen.Graph) -> oracle.CrawlAnswer:
        return oracle.crawl_bfs(graph, self.crawl_cfg["max_rounds"])

    @staticmethod
    def check_counts(it: Iteration, answer: oracle.CrawlAnswer) -> str | None:
        """The traced job's layer counts against the oracle."""
        for name, got, want in (
                ("fetch.pages", it.counts["pages"], len(answer.fetched)),
                ("seen.new_urls", it.counts["new_urls"], answer.n_seen),
                ("robots.authorities", it.counts["authorities"],
                 answer.n_authorities),
                ("robots.blocked_pages", it.counts["blocked"],
                 answer.n_blocked)):
            if got != want:
                return f"{name}: traced job {got}, oracle {want}"
        return None

    @staticmethod
    def layer_metrics(it: Iteration, rep: dict) -> dict:
        c, span = it.counts, rep["spans"]
        return {
            "crawl.rounds": c["rounds"],
            "crawl.spark_jobs": rep["jobs"],
            "crawl.jobs_per_round": rep["jobs"] / c["rounds"],
            "crawl.driver_only_s": rep["driver_only_s"],
            "crawl.exec_run_s": rep["exec_run_s"],
            "crawl.gc_s": rep["gc_s"],
            "crawl.shuffle_bytes": rep["shuffle_bytes"],
            "crawl.self_s": rep["root_self_s"],
            "fetch_stage.wall_s": rep["fetch_wall_s"],
            "fetch_stage.exec_run_s": rep["fetch_exec_s"],
            "fetch_stage.task_skew": rep["fetch_skew"],
            "fetch.pages": c["pages"],
            "tables.append.frontier_s": span("tables.append.frontier"),
            "tables.append.seen_s": span("tables.append.seen"),
            "tables.append.results_s": span("tables.append.results"),
            "tables.append.robots_s": span("tables.append.robots"),
            "tables.commit_s": span("tables.commit"),
            "tables.files": it.table_files,
            "tables.bytes": it.table_bytes,
            "seen.bloom_add_s": span("seen.bloom_add"),
            "seen.bloom_rebuilds": max(0, rep["count"]("seen.bloom_new") - 1),
            "seen.bloom_save_s": span("seen.bloom_save"),
            "seen.new_urls": c["new_urls"],
            "robots.split_missing_s": span("robots.split_missing"),
            "robots.register_s": span("robots.register"),
            "robots.authorities": c["authorities"],
            "robots.blocked_pages": c["blocked"],
            "politeness.deferred_rows": c["deferred"],
            "politeness.defer_ratio": (c["deferred"]
                                       / (c["deferred"] + c["pages"])),
        }

    @staticmethod
    def probes(spark, state: dict, answer: oracle.CrawlAnswer) -> dict:
        """The link parser and the url canonicaliser, each timed alone
        (a noop write) over this workload's page bodies and discovered
        urls; rows per second."""
        import numpy as np
        from pyspark.sql import functions as F

        from simplecrawler_spark.functions.canonical import canonicalize_df
        from simplecrawler_spark.operators.parse import (
            attach_links_canonical,
        )

        graph = state["graph"]
        pages = (state["site"].where(F.col("content_type") == "text/html")
                 .select("url_norm", F.col("url").alias("url_raw"),
                         F.regexp_extract("url", "://([^/]+)", 1)
                         .alias("authority"),
                         F.lit(0).alias("depth"), "status", "content_type",
                         "redirect_location", "image_id", "body",
                         F.lit(True).alias("_parse")))
        parse_s = _timed_noop(attach_links_canonical(pages))
        src = np.repeat(np.arange(graph.n_pages), np.diff(graph.indptr))
        found = np.unique(graph.indices[np.isin(src, answer.fetched)])
        urls = spark.createDataFrame([(graph.url(int(i)),) for i in found],
                                     "url_raw string").persist()
        urls.count()
        canon_s = _timed_noop(canonicalize_df(urls))
        urls.unpersist()
        return {"parse.probe_pages_per_s": graph.n_pages / parse_s,
                "canonical.probe_urls_per_s": len(found) / canon_s}


def _timed_noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


# -- curation workload -----------------------------------------------------

class CurateText:
    """corpus_pipeline_flags → exact_dedup → minhash_lsh_pairs
    (star-capped) → substring_dedup → pack_sequences over a fanned
    corpus; every operator's output is written, and the chain's
    planted exact-duplicate arithmetic is checked."""

    name = "curate_text"
    # a lone ~9 s chain took a burst of host load in full (one run of
    # ten read 13 s); the median of two halves it
    min_jobs = 2
    corpus_args = dict(n_base=50, fan=20)
    # a full-size warm-up: a smaller one leaves the first timed chain
    # ~30% slower (more Python workers to start, larger plans to
    # compile), and whether a run times one chain or two then moves
    # wall_s by more than the host noise
    warm_corpus_args = corpus_args
    max_bucket = 8
    window = 20

    def make_inputs(self, seed: int, warm: bool = False) -> gen.Corpus:
        args = self.warm_corpus_args if warm else self.corpus_args
        return gen.text_corpus(seed, **args)

    def prepare(self, spark, corpus: gen.Corpus, work: str) -> dict:
        import pandas as pd

        path = tempfile.mkdtemp(prefix="corpus-", dir=work)
        (spark.createDataFrame(pd.DataFrame(corpus.rows()),
                               "doc_id long, source string, text string")
         .repartition(spark.sparkContext.defaultParallelism)
         .write.mode("overwrite").parquet(path))
        return {"corpus": corpus, "path": path,
                "docs": spark.read.parquet(path)}

    def release(self, state: dict) -> None:
        shutil.rmtree(state["path"], ignore_errors=True)

    def warm_up(self, spark, seed: int, work: str) -> None:
        state = self.prepare(spark, self.make_inputs(seed, warm=True), work)
        self.run(spark, state, work, self.oracle(state["corpus"]))
        self.release(state)

    def run(self, spark, state: dict, work: str,
            answer: oracle.DedupAnswer, tracer=None) -> Iteration:
        from pyspark.sql import functions as F

        from simplecrawler_spark.operators import dedup as D
        from simplecrawler_spark.operators.packing import pack_sequences
        from simplecrawler_spark.operators.quality import (
            corpus_pipeline_flags,
        )

        out = tempfile.mkdtemp(prefix="curate-", dir=work)
        docs = state["docs"]
        n_parts = spark.sparkContext.defaultParallelism

        def p(name: str) -> str:
            return os.path.join(out, name)

        marks = [time.time()]
        with _span(tracer, "curate"):
            with _span(tracer, "quality.flags"):
                corpus_pipeline_flags(docs).write.parquet(p("flags"))
                keep = (spark.read.parquet(p("flags")).where(F.col("keep"))
                        .select("doc_id"))
                docs.join(keep, "doc_id").repartition(n_parts) \
                    .write.parquet(p("kept"))
                kept = spark.read.parquet(p("kept"))
            marks.append(time.time())
            with _span(tracer, "dedup.exact"):
                D.exact_dedup(docs).write.parquet(p("exact"))
            marks.append(time.time())
            with _span(tracer, "dedup.lsh"):
                D.minhash_lsh_pairs(kept, max_bucket=self.max_bucket) \
                    .write.parquet(p("lsh"))
            marks.append(time.time())
            with _span(tracer, "dedup.substring"):
                D.substring_dedup(kept, window=self.window) \
                    .write.parquet(p("substring"))
            marks.append(time.time())
            with _span(tracer, "packing.pack"):
                pack_sequences(spark.read.parquet(p("substring")),
                               text_col="text_clean") \
                    .write.parquet(p("packed"))
            marks.append(time.time())

        exact = spark.read.parquet(p("exact"))
        agg = exact.agg(
            F.count("*").alias("groups"), F.sum("n_dups").alias("rows"),
            F.sum((F.col("n_dups") == state["corpus"].n_verbatim)
                  .cast("int")).alias("full")).first()
        n_kept = kept.count()
        counts = {
            "kept": n_kept,
            "docs": state["corpus"].n_docs,
            "lsh_pairs": spark.read.parquet(p("lsh")).count(),
        }
        error = oracle.check_curation(
            answer, n_groups=agg["groups"], n_dup_rows=agg["rows"],
            n_full_groups=agg["full"], n_kept=n_kept,
            n_substring=spark.read.parquet(p("substring")).count(),
            n_packed=spark.read.parquet(p("packed")).count(),
            n_pairs=counts["lsh_pairs"])
        n_bytes, n_files = tree_size(out)
        shutil.rmtree(out, ignore_errors=True)
        return Iteration(
            wall_s=marks[-1] - marks[0], items=state["corpus"].n_docs,
            round_s=[b - a for a, b in zip(marks, marks[1:])],
            table_bytes=n_bytes, table_files=n_files, error=error,
            counts=counts)

    def oracle(self, corpus: gen.Corpus) -> oracle.DedupAnswer:
        return oracle.dedup_arithmetic(corpus)

    @staticmethod
    def check_counts(it: Iteration, answer: oracle.DedupAnswer) -> None:
        return None   # run() already checked every count

    @staticmethod
    def probes(spark, state: dict, answer: oracle.DedupAnswer) -> dict:
        return {}     # the crawl-layer probes have nothing to read here

    @staticmethod
    def layer_metrics(it: Iteration, rep: dict) -> dict:
        span = rep["spans"]
        return {
            "quality.flags_s": span("quality.flags"),
            "quality.kept_frac": it.counts["kept"] / it.counts["docs"],
            "dedup.exact_s": span("dedup.exact"),
            "dedup.lsh_s": span("dedup.lsh"),
            "dedup.lsh_pairs": it.counts["lsh_pairs"],
            "dedup.substring_s": span("dedup.substring"),
            "packing.pack_s": span("packing.pack"),
            "tables.files": it.table_files,
            "tables.bytes": it.table_bytes,
        }


WORKLOADS = {w.name: w for w in (PoliteHosts(), CurateText())}
