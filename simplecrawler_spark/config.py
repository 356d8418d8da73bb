"""Engine configuration.

Mirrors the reference Crawler config surface
(/root/reference/simple_crawler/crawler.py:59-101: user_agent,
max_workers, timeout, obey_robots, check_head, trim_query,
trim_fragment) and adds the scale knobs the north rule mandates
(BASELINE.json:14): politeness budgeting, salted partitioning,
checkpointing.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

DEFAULT_USER_AGENT = "PySimpleCrawler"  # reference crawler.py:24


@dataclass
class CrawlConfig:
    # --- reference-parity knobs (crawler.py:59-77) ---
    user_agent: str = DEFAULT_USER_AGENT
    obey_robots: bool = True
    check_head: bool = False          # two-phase fetch (HEAD mime probe first)
    trim_query: bool = True
    trim_fragment: bool = True
    mime_types: tuple = ("text/html",)  # requester.py:84 default gate
    record_redirects: bool = False      # crawler.py:86 (3xx Location-as-link)
    same_authority_only: bool = True    # crawler.py:140 filter_by(authority=…)

    # --- engine/scale knobs (new; BASELINE.json:6,14) ---
    max_rounds: int = 100             # BFS depth bound / runaway stop
    # politeness: per-host fetch budget per round; a host with robots
    # Crawl-delay d gets min(budget, max(1, floor(round_seconds/d))).
    round_seconds: float = 60.0
    max_per_host_per_round: int = 1_000_000
    # partitioning
    shuffle_partitions: int | None = None   # None → session default
    salt_buckets: int = 0                   # >0 → salted repartition on host hash
    # target frontier rows per fetch/parse task — caps the fan-out for
    # small rounds (a 10-row round should not launch 32 Python workers)
    rows_per_task: int = 2048
    # G6 priority source for the scheduling ORDER BY (priority asc,
    # url_hash):
    #   "indegree" — -#(links that found the url this round):
    #     heavily-linked pages first under a constrained budget;
    #   "hostrank" — -(host's aggregate in-degree this round): pages
    #     on heavily-referenced hosts first. Constant within a host,
    #     so it matters under the GLOBAL max_urls_per_round cap (the
    #     per-host window alone can't see it);
    #   "depth" — discovery depth: shallower pages first (depth-decay;
    #     orders deferred-shallow ahead of newly-found-deep);
    #   "fifo" — the reference's arrival order (priority 0.0; the
    #     window degenerates to the url_hash tie-break).
    #   "pagerank" — -(offline integer-mass PageRank score,
    #     operators/graph.py) read from the parquet table at
    #     `pagerank_path` (columns v, rank — e.g. a previous crawl's
    #     link_edges() fed through pagerank()): authoritative pages
    #     first. One left join of the round's new frontier onto the
    #     rank table; never-ranked urls get 0. AQE broadcasts the rank
    #     side while it is small; at 10^10 URLs write the rank table
    #     bucketed by its key and the join co-locates instead.
    # Every deferred row is eventually scheduled, so the visited SET
    # never changes with the source. Deferred rows keep the priority
    # computed at discovery time.
    #   "rank" — the source-agnostic form of "pagerank": reads the
    #     parquet at `rank_table_path` and orders by -`rank_column`,
    #     so ANY precomputed (v, score) table drives scheduling —
    #     e.g. hits()'s (v, hub, auth) with rank_column="auth"
    #     (authorities first) or "hub" (link-list pages first), a
    #     prior crawl's pagerank, or an external quality score.
    #     Same join shape and unranked-scores-0 semantics as
    #     "pagerank", which remains the (v, rank)-shaped alias.
    priority_source: str = "indegree"
    pagerank_path: str | None = None
    rank_table_path: str | None = None
    rank_column: str = "rank"
    # global per-round fetch cap (resource-bounded rounds): after the
    # per-host window, at most this many urls are scheduled per round
    # (cheapest priority first, distributed TakeOrdered); the rest are
    # deferred with their depth/priority intact. At/above 1_000_000
    # (UNLIMITED_BUDGET) the cap — and its extra anti-join — is off.
    max_urls_per_round: int = 1_000_000
    # how the global cap is divided when armed:
    #   "cheapest" — take the cap's cheapest (priority, url_hash)
    #     rows across ALL hosts (a hot host with good priorities can
    #     take the whole round);
    #   "fair" — Hamilton-apportion the cap across hosts by pending
    #     count (politeness.allocate_budget), then take each host's
    #     cheapest rows up to its share. A host never starves; the
    #     cap is an upper bound (a host's share can exceed its
    #     pending — those units go unused this round and its surplus
    #     rolls forward as deferred work).
    round_budget_mode: str = "cheapest"
    # retired seen-set Bloom switch: the seen set is the exact
    # anti-join alone (the crawl's Bloom prefilter was measured slower
    # on both sides of the broadcast limit — README, "Scale design"),
    # so no code reads this. It stays only because
    # perfbench/workloads.py passes it; the next benchmark change
    # drops that argument, then the field.
    bloom_enabled: bool = False
    # retired robots knobs: the robots table is the only rule source for
    # the can_fetch gate and the politeness window (operators/robots.py,
    # operators/politeness.py), so no code reads these. They stay only
    # because perfbench/workloads.py passes them; the next benchmark
    # change drops that argument, then the fields (with seed_state_mode).
    robots_closure_max: int = 10_000
    robots_delay_map_max: int = 10_000
    # fetch
    follow_redirects: bool = True
    max_redirect_hops: int = 10
    # HttpFetcher: concurrent requests per partition (the reference's
    # max_workers thread pool, crawler.py:102-110, inside each Arrow
    # batch; Spark tasks multiply this across partitions)
    fetch_concurrency: int = 8
    # checkpoint/resume
    checkpoint: bool = True
    # R5 seed state has one engine: seeds live ONLY in the r0 frontier
    # partition and completed seeds in the snapshot store's done_seeds
    # table, so done-skip and seed completion are anti-/semi-joins and
    # the driver keeps two counters. "table" is the only legal value;
    # the field stays for existing callers and will be removed.
    seed_state_mode: str = "table"
    # table maintenance cadence: every N rounds (after that round's
    # snapshot commits) merge the results table's committed append
    # dirs (SnapshotStore.compact — Iceberg rewriteDataFiles
    # analogue). 0 = off (the default; run compact/expire/vacuum
    # between crawls instead). The frontier is not merged: rounds
    # read it by partition tag and r0's footers count the seeds. So
    # the seen scan (a view of the frontier) still touches about one
    # frontier dir per past round; the old seen table merged into one.
    compact_every: int = 0
    # S5 per-URL log sink: append a crawl_log table row per
    # CRAWLING/VISITED/FOUND/ERROR/robots-blocked event (the
    # reference's console transcript, crawler.py:147-179). Off by
    # default — the transcript grain is one row per (page, href),
    # which a 10^10-URL crawl should only pay for when asked.
    crawl_log: bool = False
    # frontier hygiene: drop discovered hrefs whose url_norm trips
    # operators/traps.py::url_trap_flags (deep paths, segment loops,
    # parameter exploders, session ids, calendar pagers, over-long
    # urls) BEFORE the dedupe shuffle — trapped urls never enter the
    # frontier or the seen set. Off by default: the reference has no
    # trap defence, and visited-set parity tests depend on that.
    trap_filter: bool = False
    # link extraction: "stdlib" = html.parser.HTMLParser, exact
    # reference parity (parser.py:11-56, the default); "regex" = the
    # ~9x-faster scan in operators/parse.py::hrefs_fast — identical on
    # well-formed HTML but also matches <a> markup inside comments and
    # <script> text (divergence documented + pinned in test_parse.py).
    link_extractor: str = "stdlib"

    def __post_init__(self) -> None:
        if self.seed_state_mode != "table":
            raise ValueError(
                f"seed_state_mode={self.seed_state_mode!r}: the only "
                "seed-state engine is 'table'")

    def as_dict(self) -> dict:
        return asdict(self)

    # reference-visible config echo (crawler.py:90-101); max_workers /
    # timeout have no meaning in the engine (parallelism is Spark's,
    # termination is the frontier-empty fixpoint) but are echoed for
    # CLI-parity (--debug prints config, cli.py:55-59).
    def reference_config(self) -> dict:
        return {
            "user_agent": self.user_agent,
            "max_workers": "spark",
            "timeout": "frontier-fixpoint",
            "obey_robots": self.obey_robots,
            "check_head": self.check_head,
            "trim_query": self.trim_query,
            "trim_fragment": self.trim_fragment,
        }
