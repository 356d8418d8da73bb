"""Driver-side robots state: three counters over the persisted robots
table, which is the only rule source for the gate and the politeness
window. These tests pin:
  * split_missing exactness (one anti-join against the table, skipped
    while the table is empty) at 12k authorities;
  * the counter rebuild in from_table (the resume path);
  * multi-authority crawls through the table gate, including a crawl
    killed and resumed: the robots table keeps exactly one row per
    authority (a duplicate row would make the gate's left join fetch
    a page twice).

Reference semantics preserved throughout: error→empty rules allow all,
per-user-agent evaluation (/root/reference/simple_crawler/crawler.py:182-194).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.operators.robots import RobotsState
from simplecrawler_spark.plans.crawl import FrontierCrawler
from simplecrawler_spark.sources.fetch import TableFetcher
from simplecrawler_spark.sources.fixtures import (
    _row, make_html_from_links, site_graph_df,
)


def _robots_df(spark, rows):
    return spark.createDataFrame(
        rows, "authority string, robots_txt string, crawl_delay double")


def test_state_scales_past_10k_authorities(spark):
    """12k authorities fold into the counters with one aggregate and
    membership stays exact: every known authority is dropped, every
    new one kept."""
    st = RobotsState()
    # an empty table never runs the anti-join (robots_df is not read)
    assert st.split_missing({"a.test": "http"}, None) == {"a.test": "http"}
    n = 12_000
    rows_df = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".test")).alias("authority"),
        F.when(F.col("id") % 3 == 0,
               F.lit("User-agent: *\nDisallow: /private\n"))
         .otherwise(F.lit("")).alias("robots_txt"),
        F.when(F.col("id") % 100 == 0, F.lit(1.5))
         .otherwise(F.lit(None).cast("double")).alias("crawl_delay"))
    st.register_fetched(rows_df)
    assert (st.n_authorities, st.n_nonempty, st.n_delays) == (
        n, n // 3, n // 100)
    assert st.any_rules and st.any_delays
    pending = {f"h{i}.test": "http" for i in range(0, n, 7)}
    pending.update({f"new{i}.test": "https" for i in range(40)})
    assert st.split_missing(pending, rows_df) == {
        f"new{i}.test": "https" for i in range(40)}


def test_state_from_table_past_closure(spark):
    """Resume path: from_table rebuilds all three counters from the
    table with one aggregate, and split_missing reads the table."""
    rows = [(f"r{i}.test",
             "" if i % 2 else "User-agent: *\nDisallow: /no\n",
             3.0 if i == 1 else None) for i in range(20)]
    table = _robots_df(spark, rows)
    st = RobotsState.from_table(table)
    assert (st.n_authorities, st.n_nonempty, st.n_delays) == (20, 10, 1)
    assert st.split_missing({"r7.test": "http", "zz.test": "http"},
                            table) == {"zz.test": "http"}
    empty = RobotsState.from_table(_robots_df(spark, []))
    assert (empty.n_authorities, empty.any_rules, empty.any_delays) == (
        0, False, False)


# -- multi-authority crawl through the table gate ----------------------------

def _multi_authority_rows(n_auth: int):
    """n_auth authorities in a root→next-root chain; even authorities
    disallow /secret, every root links to its own /secret."""
    rows = []
    for i in range(n_auth):
        base = f"http://a{i}.test"
        nxt = f"http://a{(i + 1) % n_auth}.test/"
        robots = ("User-agent: *\nDisallow: /secret\n" if i % 2 == 0
                  else "")
        rows.append(_row(base + "/robots.txt", content_type="text/plain",
                         body=robots))
        rows.append(_row(base + "/",
                         body=make_html_from_links(["/secret", nxt])))
        rows.append(_row(base + "/secret", body=""))
    return rows


def _want(n_auth: int) -> set[str]:
    want = {f"http://a{i}.test/" for i in range(n_auth)}
    return want | {f"http://a{i}.test/secret"
                   for i in range(n_auth) if i % 2}


def _robots_rows_per_authority(crawler) -> dict[str, int]:
    counts = (crawler.store.read("robots").groupBy("authority").count()
              .collect())
    return {r.authority: r["count"] for r in counts}


@pytest.mark.parametrize("closure_max", [10_000, 2])
def test_multi_authority_crawl_join_gate_same_set(spark, tmp_path,
                                                  closure_max):
    """The table gate enforces each authority's rules. The retired
    robots_closure_max knob is still accepted and changes nothing."""
    n_auth = 8
    rows = _multi_authority_rows(n_auth)
    cfg = CrawlConfig(same_authority_only=False,
                      robots_closure_max=closure_max)
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg)
    crawler = FrontierCrawler(spark, fetcher, cfg,
                              root=str(tmp_path / "crawl"))
    crawler.crawl("http://a0.test/")
    assert crawler.result_urls() == _want(n_auth)
    assert crawler._rstate.n_authorities == n_auth
    assert crawler._rstate.n_nonempty == n_auth // 2


def test_resume_past_closure_keeps_bounded_view(spark, tmp_path):
    """A resumed crawl rebuilds the counters from the table and ends
    with the uninterrupted crawl's results."""
    rows = _multi_authority_rows(6)
    cfg = CrawlConfig(same_authority_only=False, max_rounds=2)
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg)
    crawler = FrontierCrawler(spark, fetcher, cfg,
                              root=str(tmp_path / "crawl"))
    crawler.crawl("http://a0.test/")  # partial (2 rounds)
    cfg2 = CrawlConfig(same_authority_only=False, max_rounds=50)
    resumed = FrontierCrawler.resume(
        spark, TableFetcher(site_graph_df(spark, rows), cfg2),
        crawler.root, cfg2)
    resumed.continue_crawl()
    assert resumed._rstate.n_authorities == 6
    assert resumed._rstate.n_nonempty == 3
    assert resumed.result_urls() == _want(6)


def test_robots_table_one_row_per_authority_after_kill_and_resume(
        spark, tmp_path):
    """Kill a multi-authority crawl while round 2 commits — after that
    round appended its robots rows — then resume: the robots table
    holds exactly one row per authority and the results equal the
    uninterrupted crawl."""
    n_auth = 6
    rows = _multi_authority_rows(n_auth)
    cfg = CrawlConfig(same_authority_only=False, max_rounds=50)
    root = str(tmp_path / "killed")
    killed = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg, root=root)
    commit = killed.store.commit_snapshot

    def crash_at_round_2(round_no, metrics=None):
        if round_no == 2:
            raise RuntimeError("killed")
        return commit(round_no, metrics)

    killed.store.commit_snapshot = crash_at_round_2
    with pytest.raises(RuntimeError, match="killed"):
        killed.crawl("http://a0.test/")
    assert _robots_rows_per_authority(killed) == {
        f"a{i}.test": 1 for i in range(3)}

    resumed = FrontierCrawler.resume(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), root, cfg)
    resumed.continue_crawl()
    assert _robots_rows_per_authority(resumed) == {
        f"a{i}.test": 1 for i in range(n_auth)}
    assert resumed._rstate.n_authorities == n_auth
    assert resumed.result_urls() == _want(n_auth)
    assert resumed.results().count() == len(_want(n_auth))
