"""G5 politeness + G6 priority ordering (SURVEY.md §2.5).

Reference behaviour: a robots Crawl-delay makes the single dispatch
thread sleep before each submit (crawler.py:230-239) — a global rate
limit of ~1 URL per delay-second for the (single) site. The delay never
changes WHICH urls are visited, only when.

Engine mapping (the north rule's "groupBy(host) + window-ranked
priority queues", BASELINE.json:6): per round, each host gets a fetch
budget = max(1, floor(round_seconds / crawl_delay)) (capped by
max_per_host_per_round); frontier rows are ranked per host by
(priority, url_hash) with row_number() and rows over budget are
DEFERRED — they stay in the frontier for the next round, preserving
their discovery depth. Visited-set equivalence with the reference is
exact because every deferred row is eventually scheduled (budget ≥ 1).

Scale note: row_number over PARTITION BY host is a single shuffle on
host; hot hosts are bounded by the budget itself, so the skewed tail
never fans out into the fetch stage.

The budget's crawl_delay comes from a left join against the persisted
robots table's crawl_delay column (AQE broadcasts the delay side while
it is small and co-shuffles on authority once it isn't); the crawl
loop passes the table only once some authority carries a delay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from simplecrawler_spark.config import CrawlConfig

# cfg.max_per_host_per_round at/above this means "unconstrained" —
# matches the CrawlConfig default; set a smaller cap to force the window
UNLIMITED_BUDGET = 1_000_000


def _budget_from_delay(delay: Column, cfg: CrawlConfig) -> Column:
    """Per-row budget from a (nullable) crawl_delay seconds column."""
    budget = F.lit(int(cfg.max_per_host_per_round))
    from_delay = F.greatest(
        F.lit(1),
        F.floor(F.lit(float(cfg.round_seconds)) / delay).cast("int"))
    return F.when(delay.isNotNull(),
                  F.least(budget, from_delay)).otherwise(budget)


def schedule_budget(frontier: DataFrame, cfg: CrawlConfig,
                    robots_df: DataFrame | None = None
                    ) -> tuple[DataFrame, DataFrame]:
    """Split a round's frontier into (scheduled, deferred) by per-host
    budget. Returns both; deferred must be re-appended to the next
    round's frontier.

    * no ``robots_df`` and an unconstrained per-host cap: every row is
      scheduled — the per-host window (a shuffle on host) is skipped;
    * no ``robots_df``: every host gets the fixed cap;
    * ``robots_df`` (authority, …, crawl_delay): a row whose authority
      has a delay gets min(cap, max(1, floor(round_seconds/delay))),
      any other row the cap. The join adds no rows and the frontier's
      column shape is restored.
    """
    if robots_df is None and cfg.max_per_host_per_round >= UNLIMITED_BUDGET:
        return frontier, frontier.limit(0)
    ranked = frontier
    budget = F.lit(int(cfg.max_per_host_per_round))
    if robots_df is not None:
        delays = (robots_df.select("authority", "crawl_delay")
                  .where(F.col("crawl_delay").isNotNull()))
        ranked = frontier.join(delays, "authority", "left")
        budget = _budget_from_delay(F.col("crawl_delay"), cfg)
    w = Window.partitionBy("host").orderBy(
        F.col("priority").asc(), F.col("url_hash").asc())
    ranked = ranked.withColumn("_rank", F.row_number().over(w)) \
                   .withColumn("_budget", budget)
    cols = frontier.columns
    return (ranked.filter(F.col("_rank") <= F.col("_budget")).select(cols),
            ranked.filter(F.col("_rank") > F.col("_budget")).select(cols))


def apply_global_budget(scheduled: DataFrame, deferred: DataFrame,
                        cfg: CrawlConfig) -> tuple[DataFrame, DataFrame]:
    """Resource-bounded rounds: cap the round's TOTAL scheduled urls at
    cfg.max_urls_per_round, cheapest (priority asc, url_hash asc)
    first. This is where cross-host priority sources (hostrank) bite —
    the per-host window can't compare hosts, the global cap can.

    Scale shape: the cut is a distributed TakeOrdered (sort + limit —
    O(N log k) per partition, k rows to the driver-side job, no global
    shuffle); the complement comes from one anti-join on url_hash
    (unique within a round's frontier: R1 dedupes on url_norm and
    deferred rows can't reappear in `new`). Both costs exist only when
    the cap is armed."""
    if cfg.max_urls_per_round >= UNLIMITED_BUDGET:
        return scheduled, deferred
    if cfg.round_budget_mode == "fair":
        # fair share: Hamilton-apportion the cap across hosts by
        # pending count, take each host's cheapest rows up to its
        # share. One host-grain count agg + broadcast join + the
        # per-host window politeness already pays — no global sort.
        counts = (scheduled.groupBy("host")
                  .agg(F.count("*").alias("weight")))
        alloc = allocate_budget(counts, int(cfg.max_urls_per_round))
        w = Window.partitionBy("host").orderBy(
            F.col("priority").asc(), F.col("url_hash").asc())
        ranked = (scheduled
                  .join(F.broadcast(alloc.select("host", "budget")),
                        "host")
                  .withColumn("_rank", F.row_number().over(w)))
        take = (ranked.filter(F.col("_rank") <= F.col("budget"))
                .drop("_rank", "budget"))
        rest = (ranked.filter(F.col("_rank") > F.col("budget"))
                .drop("_rank", "budget"))
        return (take.select(scheduled.columns),
                deferred.unionByName(rest.select(deferred.columns)))
    take = (scheduled.orderBy(F.col("priority").asc(),
                              F.col("url_hash").asc())
            .limit(int(cfg.max_urls_per_round)))
    rest = scheduled.join(take.select("url_hash"), "url_hash",
                          "left_anti")
    return take, deferred.unionByName(rest.select(deferred.columns))


def host_backoff(results: DataFrame, *, host_col: str = "host",
                 status_col: str = "status",
                 threshold_scaled: int = 500_000,
                 min_fetches: int = 5,
                 scale: int = 10 ** 6) -> DataFrame:
    """Per-host error-rate circuit breaker: hosts whose recent fetch
    results are mostly failures should cool down before the next
    round burns more budget on them (and more of their capacity —
    hammering a 5xx-ing host is the impolite failure mode politeness
    delays don't cover; the reference handles errors per-URL only,
    crawler.py's try/except around one GET).

    A fetch FAILED when status is NULL (transport error) or in the
    retryable classes 429 / 5xx. Exact integer arithmetic
    (q_host_backoff twins it): error_rate_scaled =
    n_errors·scale // n_fetches; ``backoff`` = rate ≥
    ``threshold_scaled`` AND n_fetches ≥ ``min_fetches`` (small
    samples never trip the breaker).

    Returns (host, n_fetches, n_errors, error_rate_scaled, backoff).
    Scale shape: ONE map-side-combinable groupBy(host) — the same key
    grain the politeness window already shuffles on; the output joins
    the next round's frontier as a gate or a priority penalty."""
    is_err = (F.col(status_col).isNull()
              | (F.col(status_col) == 429)
              | (F.col(status_col) >= 500)).cast("long")
    agg = results.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("n_fetches"),
        F.sum(is_err).alias("n_errors"))
    return agg.select(
        "host", "n_fetches", "n_errors",
        F.expr(f"n_errors * {scale} div n_fetches")
        .cast("long").alias("error_rate_scaled"),
        ((F.expr(f"n_errors * {scale} div n_fetches")
          >= threshold_scaled)
         & (F.col("n_fetches") >= min_fetches)).alias("backoff"))


def allocate_budget(hosts: DataFrame, total_budget: int,
                    weight_col: str = "weight",
                    host_col: str = "host") -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer fetch
    budget across hosts proportional to ``weight_col`` (host rank,
    backlog depth, freshness mass — whatever the scheduler
    prioritises): every host gets floor(total·w/W), and the
    ``total − Σfloor`` leftover units go to the largest remainders
    (remainder desc, host asc tie-break). Exactly ``total_budget``
    units are handed out; the apportionment is the unique
    quota-respecting one, computed in EXACT int64 (total·w div/mod W
    — no float quota can flip a unit between engines).

    Returns (host_col, weight_col, budget).

    Scale shape: one 1-row total + broadcast back, then one
    host-grain window for the remainder rank — HOST grain, like
    every politeness op here: 10^7-10^8 rows at open-web scale, not
    corpus grain, and the sort key is (remainder, host), which is
    uniform. Caller contract: weights are non-negative int64 with a
    positive sum, and total_budget·max(w) must fit int64 (true for
    any real budget×rank combination; raise the weights' GCD if
    not)."""
    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    w = F.col(weight_col).cast("long")
    tot = hosts.agg(F.sum(w).alias("_W"))
    j = (hosts.select(F.col(host_col), w.alias(weight_col))
         .crossJoin(F.broadcast(tot))
         .select(host_col, weight_col,
                 F.expr(f"CAST({total_budget} AS BIGINT) "
                        f"* CAST({weight_col} AS BIGINT) div _W")
                 .alias("_base"),
                 F.expr(f"CAST({total_budget} AS BIGINT) "
                        f"* CAST({weight_col} AS BIGINT) % _W")
                 .alias("_rem")))
    leftover = j.agg((F.lit(total_budget)
                      - F.sum("_base")).alias("_left"))
    rank = F.row_number().over(
        Window.orderBy(F.col("_rem").desc(), F.col(host_col).asc()))
    return (j.crossJoin(F.broadcast(leftover))
            .withColumn("_rank", rank)
            .select(host_col, weight_col,
                    (F.col("_base")
                     + (F.col("_rank") <= F.col("_left"))
                     .cast("long")).alias("budget")))
