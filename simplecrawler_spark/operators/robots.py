"""robots.txt — S4 source + G4 can_fetch gate + crawl_delay extraction.

Reference semantics (crawler.py:182-194, 224-239):
  * robots.txt fetched from `{domain}/robots.txt` with a `text/plain`
    MIME gate; ANY error (4xx/5xx/wrong-mime) → empty rules (allow all).
  * fetched unconditionally, even when obey_robots=False
    (crawler.py:201-203) — the engine mirrors that: the robots table is
    always built, the gate is applied only when obey_robots.
  * can_fetch evaluated by stdlib urllib.robotparser — the engine uses
    the SAME parser for exact parity: the frontier left-joins the
    robots table on authority and each Arrow batch caches one parser
    per distinct authority.
  * crawl_delay feeds the politeness budget (G5) — parsed
    executor-side when the rules are fetched and stored as a column of
    the robots table, which the politeness window joins.

The reference is single-site (one robots fetch per crawl); the engine
generalises to one robots row per authority, built by fetching
`scheme://authority/robots.txt` through the same fetcher used for
pages. The persisted robots table is the only rule source; the driver
keeps three counters over it (RobotsState).
"""

from __future__ import annotations

import inspect
from urllib.robotparser import RobotFileParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.sources.fetch import mime_ok_expr, status_class_expr


def _fetch_robots_rows(fetcher, df: DataFrame) -> DataFrame:
    """Fetch robots.txt rows with a per-call text/plain mime gate when
    the fetcher supports one (reference crawler.py:186-189:
    ``self._requester(robots_url, mime_types=("text/plain",))``).
    A check_head HttpFetcher would otherwise HEAD-probe robots.txt
    against the page mime types (text/html) and return body=None for
    every robots file — silently disabling all disallow/crawl-delay
    rules."""
    try:
        params = inspect.signature(fetcher).parameters
    except (TypeError, ValueError):  # builtins / odd callables
        params = {}
    if "mime_types" in params:
        return fetcher(df, mime_types=("text/plain",))
    return fetcher(df)


def _gate_robots_df(fetched: DataFrame) -> DataFrame:
    """(authority, robots_txt) — 2xx text/plain bodies kept, anything
    else → empty rules (crawler.py:191-192 error→empty parity)."""
    ok = (status_class_expr(F.col("status")) == 2) & mime_ok_expr(
        F.col("content_type"), ("text/plain",))
    return fetched.select(
        "authority",
        F.when(ok, F.coalesce(F.col("body"), F.lit("")))
         .otherwise(F.lit("")).alias("robots_txt"))


def crawl_delay_col(robots_txt, user_agent: str):
    """crawl_delay seconds column parsed EXECUTOR-side from rule text
    (stdlib RobotFileParser inside an Arrow batch — the same parity
    strategy as can_fetch). Moving the parse off the driver is what
    lets robots text live only in the table (round-3 verdict item 1):
    the driver never holds a frame of every authority's rules."""
    agent = user_agent

    @F.pandas_udf(T.DoubleType())
    def delay_of(txt: pd.Series) -> pd.Series:
        out = []
        for t in txt:
            rp = RobotFileParser()
            rp.parse((t or "").splitlines())
            try:
                delay = rp.crawl_delay(agent)
            except AttributeError:  # py3.6 bug parity (crawler.py:231-238)
                delay = None
            out.append(float(delay) if delay else None)
        return pd.Series(out, dtype="float64")

    return delay_of(robots_txt)


SITEMAP_LINE_RE = (r"(?:^|\n)[ \t]*[Ss][Ii][Tt][Ee][Mm][Aa][Pp]"
                   r"[ \t]*:[ \t]*([^ \t\r\n]+)")


def sitemap_urls_expr(robots_txt) -> "F.Column":
    """array<string> of Sitemap: directive URLs from robots rule text
    — the sitemaps.org discovery hook (robotstxt.org extension every
    major crawler honours). Pure JVM regexp (directive name matched
    case-insensitively via character classes so the same pattern runs
    in DuckDB's RE2 without flags); URL case is preserved. Feeds
    operators/parse.py::extract_sitemap_entries after the sitemap
    bodies are fetched. The reference never reads Sitemap lines
    (crawler.py only calls can_fetch) — this is frontier
    bootstrapping the open-web crawl needs."""
    return F.regexp_extract_all(robots_txt, F.lit(SITEMAP_LINE_RE), 1)


def fetch_robots_table(spark, auth_scheme: dict[str, str], fetcher,
                       cfg: CrawlConfig) -> DataFrame:
    """Fetch robots.txt for a driver-side {authority: scheme} dict of
    PENDING authorities (bounded by one round's discovery, never the
    cumulative crawl) and return a (authority, robots_txt, crawl_delay)
    DataFrame ready to append to the robots table. The text and the
    delay parse stay executor-side end to end."""
    rows = [
        (f"{scheme}://{auth}/robots.txt", f"{scheme}://{auth}/robots.txt",
         auth, auth, 0, 0.0, -1)
        for auth, scheme in sorted(auth_scheme.items()) if auth
    ]
    df = spark.createDataFrame(
        rows, "url_norm string, url_raw string, host string, "
              "authority string, depth int, priority double, round int")
    gated = _gate_robots_df(_fetch_robots_rows(fetcher, df))
    return gated.select(
        "authority", "robots_txt",
        crawl_delay_col(F.col("robots_txt"), cfg.user_agent)
        .alias("crawl_delay"))


def can_fetch(frontier: DataFrame, robots_df: DataFrame,
              cfg: CrawlConfig) -> DataFrame:
    """G4: keep frontier rows the robots rules allow for cfg.user_agent.

    Rules live in a TABLE (authority, robots_txt); the frontier
    left-joins it on authority (AQE broadcasts while the table is
    small, co-shuffles on authority once it isn't — at web scale both
    sides are already partitionable by authority/host), and the stdlib
    parser evaluates each row. A frontier row with no rules — unknown
    authority or empty text — is allowed, like the reference's
    error→empty behaviour (crawler.py:191-192). The table must hold
    at most one row per authority, or the join duplicates pages."""
    if not cfg.obey_robots:
        return frontier
    agent = cfg.user_agent

    @F.pandas_udf(T.BooleanType())
    def allowed(robots_txt: pd.Series, authority: pd.Series,
                url_norm: pd.Series) -> pd.Series:
        cache: dict[str, RobotFileParser] = {}
        out = []
        for txt, auth, url in zip(robots_txt, authority, url_norm):
            if not txt:  # no rules → allow
                out.append(True)
                continue
            rp = cache.get(auth)
            if rp is None:
                rp = RobotFileParser()
                rp.parse(txt.splitlines())
                cache[auth] = rp
            out.append(bool(rp.can_fetch(agent, url)))
        return pd.Series(out)

    joined = frontier.join(
        robots_df.select("authority", "robots_txt"), "authority", "left")
    return (joined.filter(allowed(F.col("robots_txt"), F.col("authority"),
                                  F.col("url_norm")))
            .select(frontier.columns))


class RobotsState:
    """Driver-side counters over the persisted robots table, which is
    the only rule source: ``n_authorities`` (rows fetched),
    ``n_nonempty`` (rows with rule text — none means the gate can be
    skipped, since empty rules allow everything) and ``n_delays`` (rows
    with a Crawl-delay — any means the politeness window joins the
    table). Rule text and delays never live on the driver."""

    def __init__(self):
        self.n_authorities = 0
        self.n_nonempty = 0
        self.n_delays = 0

    @property
    def any_rules(self) -> bool:
        return self.n_nonempty > 0

    @property
    def any_delays(self) -> bool:
        return self.n_delays > 0

    def split_missing(self, pending: dict[str, str],
                      robots_df: DataFrame) -> dict[str, str]:
        """The subset of ``pending`` {authority: scheme} NOT yet in the
        robots table: one column-pruned anti-join collect, skipped
        while the table is empty."""
        if not pending or not self.n_authorities:
            return pending
        # a pandas frame rides Arrow into the JVM: about half the
        # cost of Python rows at a few hundred authorities
        mdf = robots_df.sparkSession.createDataFrame(
            pd.DataFrame({"authority": sorted(pending)}), "authority string")
        return {row.authority: pending[row.authority]
                for row in mdf.join(robots_df.select("authority"),
                                    "authority", "left_anti").collect()}

    def register_fetched(self, appended_df: DataFrame) -> None:
        """Fold robots rows (one round's append, or the whole table on
        resume) into the counters with one aggregate."""
        agg = appended_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.coalesce(F.col("robots_txt"), F.lit("")) != F.lit(""))
                  .cast("long")).alias("ne"),
            F.count("crawl_delay").alias("nd")).collect()[0]
        self.n_authorities += int(agg.n or 0)
        self.n_nonempty += int(agg.ne or 0)
        self.n_delays += int(agg.nd or 0)

    @classmethod
    def from_table(cls, robots_df: DataFrame) -> "RobotsState":
        """Resume path: the counters from one aggregate over the
        table."""
        st = cls()
        st.register_fetched(robots_df)
        return st


__all__ = [
    "fetch_robots_table", "crawl_delay_col", "can_fetch", "RobotsState",
]
