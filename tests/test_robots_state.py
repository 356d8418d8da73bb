"""Driver-side robots state: three counters over the persisted robots
table, which is the only rule source for the gate and the politeness
window. These tests pin:
  * split_missing exactness (the frontier's distinct authorities
    anti-joined against the table, skipped while the table is empty)
    at 12k authorities;
  * the footer counters against an aggregate over the table (empty
    rules stored as NULL, crawl delays, a robots.txt too large for
    column statistics) and from_table over the dirs (the resume path);
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


def _write(df, path) -> str:
    df.write.parquet(str(path))
    return str(path)


def _table_counts(df) -> tuple[int, int, int]:
    """(rows, rows with rules, rows with a delay) by aggregate."""
    agg = df.agg(F.count(F.lit(1)).alias("n"),
                 F.count("robots_txt").alias("ne"),
                 F.count("crawl_delay").alias("nd")).collect()[0]
    return agg.n, agg.ne, agg.nd


def _counters(st) -> tuple[int, int, int]:
    return st.n_authorities, st.n_nonempty, st.n_delays


def _missing(st, frontier, robots_df) -> set[tuple[str, str]]:
    return {(r.authority, r.scheme)
            for r in st.split_missing(frontier, robots_df).collect()}


def test_state_scales_past_10k_authorities(spark, tmp_path):
    """12k authorities: the footer counters equal an aggregate over the
    table, and split_missing's frame stays exact — every known
    authority dropped, every new one kept with its least scheme."""
    n = 12_000
    path = _write(spark.range(n).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".test")).alias("authority"),
        F.when(F.col("id") % 3 == 0,
               F.lit("User-agent: *\nDisallow: /private\n"))
         .alias("robots_txt"),
        F.when(F.col("id") % 100 == 0, F.lit(1.5))
         .otherwise(F.lit(None).cast("double")).alias("crawl_delay"))
        .repartition(3), tmp_path / "robots")
    known = [(f"http://h{i}.test/p", f"h{i}.test") for i in range(0, n, 7)]
    new = [(f"https://new{i}.test/x", f"new{i}.test") for i in range(40)]
    # one authority reached over both schemes; one row without one
    both = [("https://mix.test/a", "mix.test"), ("http://mix.test/b",
                                                 "mix.test"),
            ("http://x.test/", "")]
    frontier = spark.createDataFrame(known + new + both,
                                     "url_norm string, authority string")
    want_new = {(a, "https") for _, a in new} | {("mix.test", "http")}
    st = RobotsState()
    # an empty table never runs the anti-join (robots_df is not read)
    assert _missing(st, frontier, None) == (
        {(a, "http") for _, a in known} | want_new)
    assert st.register_fetched([path]) == n
    robots_df = spark.read.parquet(path)
    assert _counters(st) == _table_counts(robots_df) == (
        n, n // 3, n // 100)
    assert st.any_rules and st.any_delays
    assert _missing(st, frontier, robots_df) == want_new


def test_state_from_table_past_closure(spark, tmp_path):
    """Resume path: from_table rebuilds all three counters from the
    footers of the table's dirs, and split_missing reads the table."""
    rows = [(f"r{i}.test",
             None if i % 2 else "User-agent: *\nDisallow: /no\n",
             3.0 if i == 1 else None) for i in range(20)]
    path = _write(_robots_df(spark, rows).repartition(2), tmp_path / "t")
    st = RobotsState.from_table([path])
    assert _counters(st) == (20, 10, 1)
    frontier = spark.createDataFrame(
        [("http://r7.test/a", "r7.test"), ("http://zz.test/", "zz.test")],
        "url_norm string, authority string")
    assert _missing(st, frontier, spark.read.parquet(path)) == {
        ("zz.test", "http")}
    empty = RobotsState.from_table(
        [_write(_robots_df(spark, []), tmp_path / "empty")])
    assert (empty.n_authorities, empty.any_rules, empty.any_delays) == (
        0, False, False)


def test_footer_counters_match_table_aggregate(spark, tmp_path):
    """Empty rules (NULL), rule text and crawl-delay rows count exactly
    as an aggregate over the table does. A robots.txt over 4 KB leaves
    its string chunk without statistics, so the chunk counts as
    non-empty: alone it is exact, and next to an empty row it
    over-counts, which only keeps the gate on. from_table over the
    dirs (the resume path) equals folding each append in turn."""
    big = "User-agent: *\n" + "Disallow: /x\n" * 400
    assert len(big) > 4096
    plain = _write(_robots_df(spark, [
        ("a.test", None, None), ("b.test", "User-agent: *\nDisallow: /\n",
                                 None),
        ("c.test", None, 2.0), ("d.test", "Crawl-delay: 3\n", 3.0)]),
        tmp_path / "plain")
    big_alone = _write(_robots_df(spark, [("e.test", big, None)])
                       .coalesce(1), tmp_path / "big_alone")
    big_mixed = _write(_robots_df(spark, [("f.test", big, 1.0),
                                          ("g.test", None, None)])
                       .coalesce(1), tmp_path / "big_mixed")
    empty = _write(_robots_df(spark, []), tmp_path / "empty")

    st = RobotsState()
    assert st.register_fetched([plain]) == 4
    assert _counters(st) == _table_counts(spark.read.parquet(plain)) \
        == (4, 2, 2)
    st.register_fetched([big_alone])
    assert _counters(st) == (5, 3, 2)
    st.register_fetched([big_mixed])
    assert _counters(st) == (7, 5, 3)  # g.test's NULL is not visible
    assert _table_counts(spark.read.parquet(big_mixed)) == (2, 1, 1)
    assert st.register_fetched([empty]) == 0
    assert _counters(RobotsState.from_table(
        [plain, big_alone, big_mixed, empty])) == _counters(st)


def test_fetched_rules_store_empty_as_null(spark):
    """fetch_robots_table writes NULL for empty rules (a 404, wrong
    MIME or an empty body) and keeps real rule text, so the footers'
    null count is the empty-rules count."""
    from simplecrawler_spark.operators.robots import fetch_robots_table

    rows = [_row("http://a.test/robots.txt", content_type="text/plain",
                 body="User-agent: *\nCrawl-delay: 2\n"),
            _row("http://b.test/robots.txt", content_type="text/plain",
                 body=""),
            _row("http://c.test/robots.txt", content_type="text/html",
                 body="User-agent: *\nDisallow: /\n")]
    cfg = CrawlConfig()
    missing = spark.createDataFrame(
        [("a.test", "http"), ("b.test", "http"), ("c.test", "http"),
         ("d.test", "http")], "authority string, scheme string")
    got = {r.authority: (r.robots_txt, r.crawl_delay) for r in
           fetch_robots_table(missing, TableFetcher(
               site_graph_df(spark, rows), cfg), cfg).collect()}
    assert got == {"a.test": ("User-agent: *\nCrawl-delay: 2\n", 2.0),
                   "b.test": (None, None), "c.test": (None, None),
                   "d.test": (None, None)}


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
