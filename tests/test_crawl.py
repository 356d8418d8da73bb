"""End-to-end crawl semantics — the reference's own expected sets
(tests/test_crawler.py:45-60, 96-104, 171-239) replayed against the
engine on table-driven site graphs (FIXTURES.md §1).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.plans.crawl import FrontierCrawler
from simplecrawler_spark.plans.tables import footer_counts
from simplecrawler_spark.sources.fetch import TableFetcher
from simplecrawler_spark.sources.fixtures import (
    ROBOTS_FIXTURE_TXT, cli_rows, crawler_server_rows, site_graph_df,
)

BASE = "http://fixture:9999"


def crawl(spark, tmp_path, rows, seed, cfg=None):
    cfg = cfg or CrawlConfig()
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg)
    crawler = FrontierCrawler(spark, fetcher, cfg, root=str(tmp_path / "crawl"))
    crawler.crawl(seed)
    return crawler


def test_crawler_find_all_links(spark, tmp_path):
    # reference test_crawler.py:237-239 (and :258-261 multithreaded —
    # parallelism never changes the set)
    crawler = crawl(spark, tmp_path, crawler_server_rows(BASE), BASE)
    assert crawler.result_urls() == {
        BASE + "/", BASE + "/hello", BASE + "/world",
        BASE + "/mime/text/pdf", BASE + "/mime/image/png",
        BASE + "/mime/text/css",
    }


def test_wrong_mime_visited_not_parsed(spark, tmp_path):
    crawler = crawl(spark, tmp_path, crawler_server_rows(BASE), BASE)
    rows = {r.url_norm: r for r in crawler.results().collect()}
    assert rows[BASE + "/mime/image/png"].parsed is False
    assert rows[BASE + "/hello"].parsed is True
    # errors are never done (crawler.py:168-174)
    assert BASE + "/error/400" not in rows
    assert BASE + "/error/500" not in rows


def test_bfs_depths(spark, tmp_path):
    crawler = crawl(spark, tmp_path, crawler_server_rows(BASE), BASE)
    depth = {r.url_norm: r.depth for r in crawler.results().collect()}
    assert depth[BASE + "/"] == 0
    assert depth[BASE + "/hello"] == 1
    assert depth[BASE + "/mime/text/css"] == 1
    # /world linked from both / (depth1) and /hello (depth2) → BFS keeps 1
    assert depth[BASE + "/world"] == 1


def test_user_agent_gate(spark, tmp_path):
    # reference test_crawler.py:96-104: /user-agent/<name> 500s unless
    # the crawler's UA matches
    rows = crawler_server_rows(BASE) + [{
        "url": BASE + "/user-agent/TestAgent",
        "url_norm": BASE + "/user-agent/TestAgent",
        "status": 200, "content_type": "text/html", "body": "",
        "redirect_location": None, "ua_required": "TestAgent",
        "image_id": None,
    }]
    ok = crawl(spark, tmp_path / "a", rows, BASE + "/user-agent/TestAgent",
               CrawlConfig(user_agent="TestAgent"))
    assert ok.result_urls() == {BASE + "/user-agent/TestAgent"}
    bad = crawl(spark, tmp_path / "b", rows, BASE + "/user-agent/TestAgent",
                CrawlConfig(user_agent="NotTestAgent"))
    assert bad.result_urls() == set()


def test_redirects_followed_by_default(spark, tmp_path):
    # GET /redirect/hello serves /hello's content (requests follows);
    # the crawl visits it under its own url and discovers /world
    crawler = crawl(spark, tmp_path, crawler_server_rows(BASE),
                    BASE + "/redirect/hello")
    urls = crawler.result_urls()
    assert BASE + "/redirect/hello" in urls
    assert BASE + "/world" in urls  # via /hello's body


def test_record_redirects_location_is_the_link(spark, tmp_path):
    # reference test_crawler.py:149-157
    cfg = CrawlConfig(record_redirects=False)
    cfg.record_redirects = True
    cfg.follow_redirects = False
    crawler = crawl(spark, tmp_path, crawler_server_rows(BASE),
                    BASE + "/redirect/hello", cfg)
    urls = crawler.result_urls()
    assert BASE + "/redirect/hello" in urls
    assert BASE + "/hello" in urls and BASE + "/world" in urls


def test_trim_query_fragment_collapses_variants(spark, tmp_path):
    # reference test_crawler.py:171-196 (_parse_hrefs table)
    host = "https://www.example.com"
    links = [
        f"{host}#with-fragment", f"{host}?with=query",
        f"{host}/?with=query#with-fragment", "#with-fragment", "?with=query",
        "/?with=query#with-fragment", "/some/path", "/another/path",
        f"{host}/", f"{host}/", f"{host}/third/path",
        "https://www.dont-find.com", "https://www.subdomain.example.com",
    ]
    from simplecrawler_spark.sources.fixtures import make_html_from_links
    rows = [{
        "url": host, "url_norm": host + "/", "status": 200,
        "content_type": "text/html", "body": make_html_from_links(links),
        "redirect_location": None, "ua_required": None, "image_id": None,
    }]
    for p in ["/some/path", "/another/path", "/third/path"]:
        rows.append({"url": host + p, "url_norm": host + p, "status": 200,
                     "content_type": "text/html", "body": "",
                     "redirect_location": None, "ua_required": None,
                     "image_id": None})
    crawler = crawl(spark, tmp_path, rows, host)
    assert crawler.result_urls() == {
        host + "/", host + "/some/path", host + "/another/path",
        host + "/third/path",
    }


def test_robots_disallow_and_delay(spark, tmp_path):
    # reference test_crawler.py:206-234 — Tester may not fetch
    # /hello,/world; crawl-delay=1 budgets the host
    rows = crawler_server_rows(BASE, robots_txt=ROBOTS_FIXTURE_TXT)
    cfg = CrawlConfig(user_agent="Tester", round_seconds=10.0)
    crawler = crawl(spark, tmp_path, rows, BASE, cfg)
    urls = crawler.result_urls()
    assert BASE + "/hello" not in urls
    assert BASE + "/world" not in urls
    assert BASE + "/" in urls
    assert BASE + "/mime/text/css" in urls
    # delay recorded in the robots table for the politeness budget
    assert _robots_delays(crawler) == {"fixture:9999": 1.0}


def _robots_delays(crawler):
    return {r.authority: r.crawl_delay
            for r in crawler.store.read("robots").collect()}


def test_robots_blocks_everything_for_other_agent(spark, tmp_path):
    rows = crawler_server_rows(BASE, robots_txt=ROBOTS_FIXTURE_TXT)
    cfg = CrawlConfig(user_agent="NotAnyOtherAgent")
    crawler = crawl(spark, tmp_path, rows, BASE, cfg)
    assert crawler.result_urls() == set()


def test_can_fetch_matches_robotfileparser(spark):
    """G4: can_fetch admits exactly the rows a per-row stdlib
    RobotFileParser admits, across agent-specific groups, empty
    rules and authorities with no robots row at all."""
    from urllib.robotparser import RobotFileParser

    from simplecrawler_spark.operators.robots import can_fetch

    rules = {}
    for i in range(40):
        if i % 5 == 0:
            rules[f"a{i}.test"] = ""
        elif i % 5 == 1:
            rules[f"a{i}.test"] = ("User-agent: Tester\nDisallow: /private1\n"
                                   "\nUser-agent: *\nDisallow: /private2\n")
        else:
            rules[f"a{i}.test"] = f"User-agent: *\nDisallow: /private{i % 3}\n"
    # a40..a49 have no robots row
    frontier = spark.range(600).select(
        F.concat(F.lit("a"), (F.col("id") % 50).cast("string"),
                 F.lit(".test")).alias("authority"),
        F.concat(F.lit("http://a"), (F.col("id") % 50).cast("string"),
                 F.lit(".test/private"), (F.col("id") % 4).cast("string"),
                 F.lit("/p"), F.col("id").cast("string")).alias("url_norm"),
        F.col("id"))
    robots_df = spark.createDataFrame(
        sorted(rules.items()), "authority string, robots_txt string")
    rows = frontier.collect()
    for agent in ("Tester", "Other"):
        want = set()
        for r in rows:
            rp = RobotFileParser()
            rp.parse(rules.get(r.authority, "").splitlines())
            if rp.can_fetch(agent, r.url_norm):
                want.add(r.url_norm)
        got = can_fetch(frontier, robots_df, CrawlConfig(user_agent=agent))
        assert got.columns == frontier.columns
        assert {r.url_norm for r in got.collect()} == want
        assert 0 < len(want) < 600  # the gate actually filtered


# (round, url_norm) of every fetched page of the robots fixture crawl
# as Tester — captured from the closure-gate / literal-delay-map engines
# before they were removed. round_seconds=10 leaves the Crawl-delay: 1
# budget (10 per round) unconstrained; round_seconds=1 cuts it to one
# page per round.
ROBOTS_ROUNDS_UNBUDGETED = [
    (0, BASE + "/"), (1, BASE + "/mime/image/png"),
    (1, BASE + "/mime/text/css"), (1, BASE + "/mime/text/pdf")]
ROBOTS_ROUNDS_DELAY_BUDGETED = [
    (0, BASE + "/"), (1, BASE + "/mime/text/css"),
    (2, BASE + "/mime/text/pdf"), (3, BASE + "/mime/image/png")]


def _per_round(crawler):
    return sorted((r.round, r.url_norm) for r in crawler.results().collect())


def test_crawl_robots_join_path_same_visited_set(spark, tmp_path):
    """The robots-table gate blocks /hello and /world for Tester and
    fetches the rest in the pinned rounds."""
    rows = crawler_server_rows(BASE, robots_txt=ROBOTS_FIXTURE_TXT)
    cfg = CrawlConfig(user_agent="Tester", round_seconds=10.0)
    crawler = crawl(spark, tmp_path, rows, BASE, cfg)
    assert _per_round(crawler) == ROBOTS_ROUNDS_UNBUDGETED


def test_resume_reuses_persisted_robots(spark, tmp_path):
    """Round-2: robots rules persist in the snapshot store — a resume
    re-reads them instead of re-fetching, and still enforces them."""
    rows = crawler_server_rows(BASE, robots_txt=ROBOTS_FIXTURE_TXT)
    cfg = CrawlConfig(user_agent="Tester", max_rounds=1)
    crawler = crawl(spark, tmp_path / "a", rows, BASE, cfg)  # partial
    root = crawler.root

    fetch_log = []
    inner = TableFetcher(site_graph_df(spark, rows),
                         CrawlConfig(user_agent="Tester"))

    def counting_fetcher(df, mime_types=None):
        urls = [r.url_norm for r in df.select("url_norm").collect()]
        fetch_log.extend(u for u in urls if u.endswith("/robots.txt"))
        return inner(df, mime_types=mime_types)

    resumed = FrontierCrawler.resume(
        spark, counting_fetcher, root,
        CrawlConfig(user_agent="Tester", max_rounds=50))
    resumed.continue_crawl()
    assert fetch_log == []  # rules came from the store, not the network
    urls = resumed.result_urls()
    assert BASE + "/hello" not in urls          # still enforced
    assert _robots_delays(resumed) == {"fixture:9999": 1.0}
    assert resumed._rstate.n_delays == 1


def test_disobey_robots(spark, tmp_path):
    rows = crawler_server_rows(BASE, robots_txt=ROBOTS_FIXTURE_TXT)
    cfg = CrawlConfig(user_agent="Tester", obey_robots=False)
    crawler = crawl(spark, tmp_path, rows, BASE, cfg)
    assert BASE + "/hello" in crawler.result_urls()


def test_cli_graph(spark, tmp_path):
    # reference tests/test_cli.py:80-143: 4 html pages crawled, pdf
    # visited-not-parsed, /error excluded
    crawler = crawl(spark, tmp_path, cli_rows(BASE), BASE)
    assert crawler.result_urls() == {
        BASE + "/", BASE + "/hello", BASE + "/world", BASE + "/hello/world",
        BASE + "/hello.pdf",
    }
    rows = {r.url_norm: r for r in crawler.results().collect()}
    assert rows[BASE + "/hello.pdf"].parsed is False


def test_politeness_budget_defers_not_drops(spark, tmp_path):
    # budget of 1/host/round must still visit everything eventually
    cfg = CrawlConfig(max_per_host_per_round=1, max_rounds=50)
    crawler = crawl(spark, tmp_path, crawler_server_rows(BASE), BASE, cfg)
    assert len(crawler.result_urls()) == 6
    # it must have taken extra rounds (6 pages, 1 fetch per round)
    assert len(crawler.store.snapshots()) >= 6


def _python_split(rows, delays, cfg):
    """Reference G5 split: per host, rows ranked by (priority,
    url_hash); budget = min(cap, max(1, floor(round_seconds/delay)))
    for a delayed authority, else the cap."""
    import math

    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    scheduled, deferred = set(), set()
    for host_rows in by_host.values():
        host_rows.sort(key=lambda r: (r.priority, r.url_hash))
        for rank, r in enumerate(host_rows, 1):
            delay = delays.get(r.authority)
            budget = cfg.max_per_host_per_round
            if delay is not None:
                budget = min(budget,
                             max(1, math.floor(cfg.round_seconds / delay)))
            (scheduled if rank <= budget else deferred).add(r.url_norm)
    return scheduled, deferred


def test_schedule_budget_matches_python_split(spark):
    """G5: schedule_budget splits the frontier exactly like a
    pure-Python per-host ranking, on all three paths — fast path (no
    delays, no cap), fixed cap, and delays joined from the robots
    table (authorities with and without a delay row, and the cap
    interaction)."""
    from simplecrawler_spark.operators.politeness import schedule_budget

    delays = {f"a{i}.test": float(1 + i % 4) for i in range(0, 40, 2)}
    delays["a2.test"] = 0.3  # floor(10/0.3) = 33 > cap: the cap wins
    frontier = spark.range(600).select(
        F.concat(F.lit("a"), (F.col("id") % 50).cast("string"),
                 F.lit(".test")).alias("authority"),
        F.concat(F.lit("a"), (F.col("id") % 50).cast("string"),
                 F.lit(".test")).alias("host"),
        F.concat(F.lit("http://a"), (F.col("id") % 50).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("url_norm"),
        F.col("id").alias("url_hash"),
        (F.col("id") % 7).cast("double").alias("priority"))
    rows = frontier.collect()
    robots_df = spark.createDataFrame(
        [(f"a{i}.test", "", delays.get(f"a{i}.test")) for i in range(45)],
        "authority string, robots_txt string, crawl_delay double")

    def split(cfg, robots=None):
        s, d = schedule_budget(frontier, cfg, robots)
        assert s.columns == frontier.columns == d.columns
        return ({r.url_norm for r in s.collect()},
                {r.url_norm for r in d.collect()})

    cfg = CrawlConfig(round_seconds=10.0, max_per_host_per_round=7)
    want = _python_split(rows, delays, cfg)
    assert split(cfg, robots_df) == want
    assert want[1]  # the budget actually deferred rows
    assert split(cfg) == _python_split(rows, {}, cfg)
    unlimited = CrawlConfig(round_seconds=10.0)
    assert split(unlimited) == ({r.url_norm for r in rows}, set())
    assert split(unlimited, robots_df) == _python_split(rows, delays,
                                                        unlimited)


def test_crawl_politeness_join_path_same_visited_set(spark, tmp_path):
    """With Crawl-delay: 1 and round_seconds=1 the budget joined from
    the robots table fetches one page per round, in the pinned
    rounds."""
    rows = crawler_server_rows(BASE, robots_txt=ROBOTS_FIXTURE_TXT)
    cfg = CrawlConfig(user_agent="Tester", round_seconds=1.0)
    crawler = crawl(spark, tmp_path, rows, BASE, cfg)
    assert _per_round(crawler) == ROBOTS_ROUNDS_DELAY_BUDGETED


def test_resume_identical_final_state(spark, tmp_path):
    cfg = CrawlConfig(max_per_host_per_round=2, max_rounds=2)
    rows = crawler_server_rows(BASE)
    crawler = crawl(spark, tmp_path / "killed", rows, BASE, cfg)
    partial = crawler.result_urls()

    # resume with the full budget from the same root
    cfg2 = CrawlConfig(max_per_host_per_round=2, max_rounds=50)
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg2)
    resumed = FrontierCrawler.resume(
        spark, fetcher, str(tmp_path / "killed" / "crawl"), cfg2)
    resumed.continue_crawl()

    full = crawl(spark, tmp_path / "full", rows, BASE,
                 CrawlConfig(max_per_host_per_round=2, max_rounds=50))
    assert resumed.result_urls() == full.result_urls()
    assert partial.issubset(resumed.result_urls())


def test_resume_with_incompatible_bloom_scheme(spark, tmp_path,
                                              no_broadcast):
    """A checkpoint whose bloom.npz was written under a different
    position scheme must not abort the resume: the load raises
    ValueError (cross-scheme bitsets false-negative → duplicate
    crawls), resume drops the filter, and continue_crawl rebuilds it
    from the seen table — same path as a missing sidecar."""
    import numpy as np

    cfg = CrawlConfig(max_per_host_per_round=2, max_rounds=2,
                      bloom_enabled=True)
    rows = crawler_server_rows(BASE)
    crawler = crawl(spark, tmp_path / "killed", rows, BASE, cfg)

    # rewrite the sidecar as if an older build (per-k-seed scheme) had
    # checkpointed it
    z = dict(np.load(crawler._bloom_path))
    z["scheme"] = "per-k-seed"
    np.savez(crawler._bloom_path[:-4], **z)

    cfg2 = CrawlConfig(max_per_host_per_round=2, max_rounds=50,
                       bloom_enabled=True)
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg2)
    resumed = FrontierCrawler.resume(
        spark, fetcher, str(tmp_path / "killed" / "crawl"), cfg2)
    assert resumed.bloom is None  # stale filter dropped, not loaded
    resumed.continue_crawl()
    assert resumed.bloom is not None  # rebuilt from the seen table

    full = crawl(spark, tmp_path / "full", rows, BASE,
                 CrawlConfig(max_per_host_per_round=2, max_rounds=50))
    assert resumed.result_urls() == full.result_urls()


def test_resume_over_orphan_stage_dir(spark, tmp_path):
    """A crash BETWEEN the round's staging write and its snapshot
    commit leaves stage/fetched-r{r} behind (fixed name, unlike table
    appends which go to fresh uuid dirs the manifest never points at).
    The resumed crawl replays round r and must clobber the orphan —
    mode=overwrite on the staging write — instead of dying on
    path-already-exists, and still reach the uninterrupted final
    state."""
    cfg = CrawlConfig(max_per_host_per_round=2, max_rounds=2)
    rows = crawler_server_rows(BASE)
    crawler = crawl(spark, tmp_path / "killed", rows, BASE, cfg)

    # simulate the crashed attempt's leftover: the resumed crawl's
    # first round is latest_round+1, and its stage write targets this
    # exact path. Junk content proves it is overwritten, not read.
    nxt = crawler.store.latest_round() + 1
    orphan = os.path.join(crawler.store.root, "stage", f"fetched-r{nxt}")
    spark.range(3).write.parquet(orphan)

    cfg2 = CrawlConfig(max_per_host_per_round=2, max_rounds=50)
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg2)
    resumed = FrontierCrawler.resume(
        spark, fetcher, str(tmp_path / "killed" / "crawl"), cfg2)
    resumed.continue_crawl()

    full = crawl(spark, tmp_path / "full", rows, BASE,
                 CrawlConfig(max_per_host_per_round=2, max_rounds=50))
    assert resumed.result_urls() == full.result_urls()


def test_expire_and_recrawl(spark, tmp_path):
    """Engine-new TTL/recrawl (BASELINE.json:14): expire old seen
    entries, cuckoo-delete them from the sidecar, requeue, and verify
    the urls are fetched again with identical final visited set."""
    from simplecrawler_spark.operators.seen import CuckooSeen

    crawler = crawl(spark, tmp_path, crawler_server_rows(), BASE + "/")
    first = crawler.result_urls()
    assert first  # sanity
    rounds_before = len(crawler.store.snapshots())

    # attach a cuckoo sidecar mirroring the seen set, then expire all
    crawler.cuckoo = CuckooSeen(capacity=1 << 12)
    crawler.cuckoo.add_df(crawler.store.read("seen"))
    some_url = next(iter(first))
    assert some_url in crawler.cuckoo or True  # seed may not be in seen

    expired = crawler.expire_seen(before_round=10_000)  # everything
    n_expired = expired.count()
    assert n_expired > 0
    assert crawler.store.read("seen").count() == 0
    # cuckoo deletions happened (no rebuild): expired urls are gone
    gone = [r.url_norm for r in expired.limit(5).collect()]
    assert all(u not in crawler.cuckoo for u in gone)

    # requeue and finish: everything is refetched, same visited set
    assert crawler.requeue(expired) == n_expired
    crawler.store.commit_snapshot(crawler.store.latest_round() or 0, {})
    second = crawler.continue_crawl()
    assert crawler.result_urls() == first
    assert len(crawler.store.snapshots()) > rounds_before
    expired.unpersist()


def test_indegree_priority_schedules_hot_pages_first(spark, tmp_path):
    """G6 (round-2 verdict item 6): with priority_source='indegree' and
    a constrained per-host budget, a page discovered by many links must
    be fetched in an earlier round than a page discovered by one —
    non-FIFO, non-degenerate ordering. The visited SET stays identical
    to FIFO."""
    from pyspark.sql import functions as F
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    # hubs sit on three distinct hosts (all schedulable in one round at
    # budget 1/host); every hub links to target-host /hot, one hub also
    # links to /cold — so round 2's target-host frontier is
    # {hot: indegree 3, cold: indegree 1} against a budget of 1
    seed = "http://h0.test/"
    hubs = [f"http://h{i}.test/hub" for i in (1, 2, 3)]
    tgt = "http://tgt.test"
    rows = [_row(seed, body=make_html_from_links(hubs))]
    rows.append(_row(hubs[0],
                     body=make_html_from_links([tgt + "/hot",
                                                tgt + "/cold"])))
    for h in hubs[1:]:
        rows.append(_row(h, body=make_html_from_links([tgt + "/hot"])))
    rows.append(_row(tgt + "/hot", body=""))
    rows.append(_row(tgt + "/cold", body=""))

    def rounds_by_url(priority_source):
        cfg = CrawlConfig(max_per_host_per_round=1, max_rounds=30,
                          same_authority_only=False,
                          priority_source=priority_source)
        crawler = FrontierCrawler(
            spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
            root=str(tmp_path / f"p-{priority_source}"))
        crawler.crawl(seed)
        return {r.url_norm: r.round
                for r in crawler.results().select("url_norm", "round")
                .collect()}

    got = rounds_by_url("indegree")
    assert got[tgt + "/hot"] < got[tgt + "/cold"]
    fifo = rounds_by_url("fifo")
    assert set(fifo) == set(got)  # same visited set either way


def test_pagerank_priority_schedules_ranked_pages_first(spark, tmp_path):
    """G6 (round-3 verdict item 6): the full offline loop — crawl with
    the log sink on, pagerank(link_edges()) to a parquet table, then a
    budget-constrained recrawl with priority_source='pagerank' fetches
    the high-rank page in an earlier round than the unranked-or-low
    one. Visited set identical to fifo."""
    from pyspark.sql import functions as F
    from simplecrawler_spark.operators.graph import pagerank
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    seed = "http://h0.test/"
    hubs = [f"http://h{i}.test/hub" for i in (1, 2, 3)]
    tgt = "http://tgt.test"
    rows = [_row(seed, body=make_html_from_links(hubs))]
    rows.append(_row(hubs[0],
                     body=make_html_from_links([tgt + "/hot",
                                                tgt + "/cold"])))
    for h in hubs[1:]:
        rows.append(_row(h, body=make_html_from_links([tgt + "/hot"])))
    rows.append(_row(tgt + "/hot", body=""))
    rows.append(_row(tgt + "/cold", body=""))

    # pass 1: unconstrained discovery crawl, full FOUND edge multigraph
    cfg1 = CrawlConfig(same_authority_only=False, crawl_log=True)
    c1 = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows),
                                             cfg1), cfg1,
                         root=str(tmp_path / "pass1"))
    c1.crawl(seed)
    edges = c1.link_edges()
    # /hot carries 3 in-edges, /cold 1 — pagerank must reflect that
    rank_path = str(tmp_path / "ranks.parquet")
    ranks = pagerank(edges, n_iter=5)
    ranks.write.parquet(rank_path)
    got_rank = {r.v: r.rank for r in ranks.collect()}
    assert got_rank[tgt + "/hot"] > got_rank[tgt + "/cold"]

    # pass 2: budget 1/host, rank-driven ordering
    def rounds_by_url(priority_source):
        cfg = CrawlConfig(max_per_host_per_round=1, max_rounds=30,
                          same_authority_only=False,
                          priority_source=priority_source,
                          pagerank_path=(rank_path if priority_source
                                         == "pagerank" else None))
        crawler = FrontierCrawler(
            spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
            root=str(tmp_path / f"p2-{priority_source}"))
        crawler.crawl(seed)
        return {r.url_norm: r.round
                for r in crawler.results().select("url_norm", "round")
                .collect()}

    got = rounds_by_url("pagerank")
    assert got[tgt + "/hot"] < got[tgt + "/cold"]
    fifo = rounds_by_url("fifo")
    assert set(fifo) == set(got)

    # misconfiguration is loud, not silently-fifo
    import pytest
    with pytest.raises(ValueError, match="pagerank_path"):
        FrontierCrawler(
            spark, None, CrawlConfig(priority_source="pagerank"),
            root=str(tmp_path / "bad"))

    # log-less crawls still expose a well-defined edge set (frontier
    # first-discovery spanning subgraph, seeds excluded)
    cfg3 = CrawlConfig(same_authority_only=False)
    c3 = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows),
                                             cfg3), cfg3,
                         root=str(tmp_path / "pass3"))
    c3.crawl(seed)
    fr_edges = c3.link_edges()
    assert fr_edges.columns == ["src", "dst"]
    n_results = c3.results().count()
    assert fr_edges.count() == n_results - 1  # every page but the seed
    assert fr_edges.where(F.col("src").isNull()).count() == 0


def test_hostrank_priority_under_global_budget(spark, tmp_path):
    """G6 (round-2 verdict item 8): priority_source='hostrank' ranks
    by the host's aggregate in-degree — constant within a host, so it
    bites under the GLOBAL max_urls_per_round cap: both pages of the
    heavily-referenced host are fetched before the cold host's page.
    Visited set identical to fifo; every round ≤ the cap."""
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    seed = "http://seed.test/"
    hot, cold = "http://hot.test", "http://cold.test"
    rows = [
        _row(seed, body=make_html_from_links(
            [hot + "/a", hot + "/b", cold + "/x"])),
        _row(hot + "/a", body=""),
        _row(hot + "/b", body=""),
        _row(cold + "/x", body=""),
    ]

    def rounds_by_url(priority_source):
        cfg = CrawlConfig(max_urls_per_round=1, max_rounds=30,
                          same_authority_only=False,
                          priority_source=priority_source)
        crawler = FrontierCrawler(
            spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
            root=str(tmp_path / f"g-{priority_source}"))
        crawler.crawl(seed)
        return {r.url_norm: r.round
                for r in crawler.results().select("url_norm", "round")
                .collect()}

    got = rounds_by_url("hostrank")
    # hot.test aggregate in-degree 2 vs cold.test 1 → both hot pages
    # scheduled (cap 1/round) before the cold page
    assert max(got[hot + "/a"], got[hot + "/b"]) < got[cold + "/x"]
    # the global cap really bounded every round to one fetch
    assert len(set(got.values())) == len(got)
    fifo = rounds_by_url("fifo")
    assert set(fifo) == set(got)  # same visited set either way


def test_depth_priority_schedules_shallow_first(spark, tmp_path):
    """G6 depth-decay: under a 1/host/round budget, deferred shallow
    pages are all fetched before a deeper page discovered mid-crawl on
    the same host."""
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    seed = "http://s.test/"
    t = "http://t.test"
    shallow = [f"{t}/s{i}" for i in range(6)]
    rows = [_row(seed, body=make_html_from_links(shallow))]
    rows.append(_row(shallow[0],
                     body=make_html_from_links([t + "/deep"])))
    for p in shallow[1:]:
        rows.append(_row(p, body=""))
    rows.append(_row(t + "/deep", body=""))

    cfg = CrawlConfig(max_per_host_per_round=1, max_rounds=40,
                      same_authority_only=False, priority_source="depth")
    crawler = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
        root=str(tmp_path / "depth"))
    crawler.crawl(seed)
    got = {r.url_norm: r.round
           for r in crawler.results().select("url_norm", "round")
           .collect()}
    assert all(got[t + "/deep"] > got[p] for p in shallow)
    assert set(got) == {seed, *shallow, t + "/deep"}


def test_requeue_rederives_authority_from_first_scheme_sep(spark, tmp_path):
    """Regression (round-2 ADVICE): requeue rows lacking an authority
    column must split url_norm on the FIRST '://' — a kept query that
    embeds a url (trim_query=False) must not corrupt the derived
    authority/host politeness keys."""
    from pyspark.sql import functions as F

    crawler = crawl(spark, tmp_path, crawler_server_rows(), BASE + "/")
    tricky = spark.createDataFrame(
        [("http://a.test/p?to=http://evil.example/x", ),
         ("https://user@b.test:8080/q", )],
        "url_norm string").withColumn("url_hash", F.xxhash64("url_norm"))
    crawler.requeue(tricky)
    nxt = (crawler.store.latest_round() or 0) + 1
    rows = {r.url_norm: (r.authority, r.host)
            for r in crawler.store.read("frontier", partition=f"r{nxt}")
            .where(F.col("round") == nxt).collect()}
    assert rows["http://a.test/p?to=http://evil.example/x"] == (
        "a.test", "a.test")
    assert rows["https://user@b.test:8080/q"] == (
        "user@b.test:8080", "b.test:8080")


def test_host_backoff_breaker(spark):
    """operators/politeness.py host_backoff: NULL/429/5xx are errors,
    2xx/3xx are not; the breaker needs BOTH the rate and the sample
    floor."""
    from simplecrawler_spark.operators.politeness import host_backoff

    rows = (
        # bad.test: 4/6 errors (null, 429, 503, 500) -> 666666, trips
        [("bad.test", None), ("bad.test", 429), ("bad.test", 503),
         ("bad.test", 500), ("bad.test", 200), ("bad.test", 301)]
        # ok.test: 1/6 errors -> 166666, under threshold
        + [("ok.test", 200)] * 5 + [("ok.test", 503)]
        # tiny.test: 2/2 errors but below min_fetches -> no trip
        + [("tiny.test", 500), ("tiny.test", None)]
    )
    df = spark.createDataFrame(rows, "host string, status long")
    got = {r.host: r for r in host_backoff(
        df, threshold_scaled=500_000, min_fetches=5).collect()}
    b = got["bad.test"]
    assert (b.n_fetches, b.n_errors, b.error_rate_scaled,
            b.backoff) == (6, 4, 666666, True)
    assert not got["ok.test"].backoff
    assert got["ok.test"].n_errors == 1
    t = got["tiny.test"]
    assert (t.n_errors, t.backoff) == (2, False)


def test_allocate_budget_largest_remainder(spark):
    """Hamilton apportionment: quotas 1000*{5,3,2}/10 are exact ->
    no leftovers; 100*{1,1,1}/3 leaves one unit to the largest
    remainder with host-asc tie-break; total is always exact."""
    from simplecrawler_spark.operators.politeness import (
        allocate_budget,
    )

    exact = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "host string, weight long")
    got = {r.host: r.budget for r in
           allocate_budget(exact, 1000).collect()}
    assert got == {"a": 500, "b": 300, "c": 200}

    ties = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "host string, weight long")
    got = {r.host: r.budget for r in
           allocate_budget(ties, 100).collect()}
    assert sum(got.values()) == 100
    assert got == {"a": 34, "b": 33, "c": 33}  # host-asc tie-break

    skew = spark.createDataFrame(
        [("big", 997), ("s1", 1), ("s2", 1), ("s3", 1)],
        "host string, weight long")
    got = {r.host: r.budget for r in
           allocate_budget(skew, 10).collect()}
    assert sum(got.values()) == 10 and got["big"] >= 9


def test_allocate_budget_validates(spark):
    from simplecrawler_spark.operators.politeness import (
        allocate_budget,
    )

    h = spark.createDataFrame([("a", 1)], "host string, weight long")
    with pytest.raises(ValueError):
        allocate_budget(h, -1)


def test_fair_round_budget_no_host_starvation(spark):
    """round_budget_mode='fair': a hot host with the best priorities
    cannot eat the whole round cap — every pending host gets its
    Hamilton share of the cap, cheapest rows first within the host;
    'cheapest' mode (the default) demonstrably starves the others on
    the same input."""
    from types import SimpleNamespace

    from simplecrawler_spark.operators.politeness import (
        apply_global_budget,
    )

    rows = ([("hot", f"http://hot/{i}", 0, i) for i in range(100)]
            + [(f"h{j}", f"http://h{j}/{i}", 50, 1000 + j * 10 + i)
               for j in range(5) for i in range(10)])
    sched = spark.createDataFrame(
        rows, "host string, url_norm string, priority long, url_hash long")
    deferred = sched.limit(0)

    cfg_fair = SimpleNamespace(max_urls_per_round=50,
                               round_budget_mode="fair")
    take, rest = apply_global_budget(sched, deferred, cfg_fair)
    got = {r["host"]: r["n"] for r in
           take.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # Hamilton shares of 50 over weights {100, 10x5}: hot ~ 33, each
    # small host ~ 3; nobody starves, total <= cap
    assert all(got.get(f"h{j}", 0) >= 3 for j in range(5))
    assert got["hot"] <= 34
    assert sum(got.values()) <= 50
    assert take.count() + rest.count() == 150  # nothing lost
    # within-host order: hot's cheapest priorities first
    hot_rows = take.filter(F.col("host") == "hot") \
        .select("url_hash").collect()
    assert {r.url_hash for r in hot_rows} == set(range(len(hot_rows)))

    cfg_cheap = SimpleNamespace(max_urls_per_round=50,
                                round_budget_mode="cheapest")
    take2, _ = apply_global_budget(sched, deferred, cfg_cheap)
    got2 = {r["host"]: r["n"] for r in
            take2.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert got2 == {"hot": 50}  # the starvation fair mode prevents


# --------------------------------------------------------------------------
# R5 seed state: seeds in the r0 frontier, completed seeds in the
# snapshot store's done_seeds table (round-4 verdict item 4: seeds off
# the driver)
# --------------------------------------------------------------------------

def _done_seed_urls(crawler) -> list[str]:
    return sorted(r.url_norm for r in
                  crawler.store.read("done_seeds").collect())


def _seed_loop_rows(n=5):
    """``n`` seeds on one host, each page linking to every seed."""
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    seeds = [f"http://loop.test/p{i}" for i in range(n)]
    return seeds, [_row(s, body=make_html_from_links(seeds))
                   for s in seeds]


def test_deferred_rediscovered_seed_fetched_once(spark, tmp_path):
    """A seed the per-host budget defers and a page rediscovers in the
    same round sits twice in the next frontier (a seed is not in
    seen until rediscovered); it must still be fetched once, at the
    seed's depth 0, and counted once as a done seed."""
    seeds, rows = _seed_loop_rows()
    cfg = CrawlConfig(max_per_host_per_round=3, obey_robots=False)
    c = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows), cfg),
                        cfg, root=str(tmp_path / "crawl"))
    c.crawl(seeds)
    got = sorted((r.url_norm, r.depth) for r in c.results().collect())
    assert got == [(s, 0) for s in seeds]
    assert _done_seed_urls(c) == seeds


def test_round0_stream_rows_keep_seed_check_running(spark, tmp_path):
    """A stream batch swept in at round 0 joins the seed table; the
    seed counter must count it too, or its completion stops the seed
    check while a budget-deferred seed is still pending."""
    from simplecrawler_spark.sources.fixtures import _row

    seeds = ["http://a.test/s0", "http://a.test/s1"]
    late = "http://b.test/late"
    rows = [_row(u, body="") for u in seeds + [late]]
    cfg = CrawlConfig(max_per_host_per_round=1, obey_robots=False,
                      same_authority_only=False)
    root = str(tmp_path / "crawl")
    spark.createDataFrame(
        [(late, late, "b.test", "b.test")],
        "url_norm string, url_raw string, authority string, host string"
    ).write.parquet(os.path.join(root, "stream_pending", "batch-0"))
    c = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows), cfg),
                        cfg, root=root)
    c.crawl(seeds)
    assert sorted(r.url_norm for r in c.results().collect()) \
        == sorted(seeds + [late])
    assert _done_seed_urls(c) == sorted(seeds + [late])


def test_resume_refuses_checkpoint_without_done_seeds(spark, tmp_path):
    """A checkpoint whose seeds have no committed done_seeds table (an
    older build kept completed seeds elsewhere) must not resume with
    every seed silently pending again."""
    import glob
    import json

    seeds, rows = _seed_loop_rows()
    cfg = CrawlConfig(max_per_host_per_round=3, obey_robots=False,
                      max_rounds=1)
    root = str(tmp_path / "crawl")
    FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows), cfg),
                    cfg, root=root).crawl(seeds)
    for path in glob.glob(os.path.join(root, "**", "snap-*.json"),
                          recursive=True):
        with open(path) as fh:
            snap = json.load(fh)
        snap["tables"].pop("done_seeds")
        with open(path, "w") as fh:
            json.dump(snap, fh)
    resumed = FrontierCrawler.resume(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), root, cfg)
    with pytest.raises(RuntimeError, match="no done_seeds table"):
        resumed.continue_crawl()


def test_crawl_df_seed_entry(spark, tmp_path):
    """crawl_df: seeds arrive as a DataFrame (the sitemap-scale
    entry) — blank/duplicate seeds drop via the relational dedupe,
    and the final state matches crawl(list)."""
    rows = crawler_server_rows(BASE)
    cfg = CrawlConfig()
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg)
    c = FrontierCrawler(spark, fetcher, cfg,
                        root=str(tmp_path / "dfseed" / "crawl"))
    seeds = spark.createDataFrame(
        [(BASE,), (BASE,), ("   ",), (BASE + "/",)], "url_raw string")
    c.crawl_df(seeds)
    assert c.store.read("frontier", partition="r0").count() == 1
    assert _done_seed_urls(c) == [BASE + "/"]
    ref = crawl(spark, tmp_path / "lst", rows, BASE)
    assert c.result_urls() == ref.result_urls()


def test_seed_state_kill_and_resume(spark, tmp_path):
    """Kill the crawl while round 1 commits: its done-seed appends die
    with its results, the resumed crawler reads the done_seeds table
    the round-0 snapshot committed (exactly the seeds in the committed
    results), and the final state equals an uninterrupted crawl."""
    seeds, rows = _seed_loop_rows()
    cfg = CrawlConfig(max_per_host_per_round=3, obey_robots=False)
    root = str(tmp_path / "killed" / "crawl")
    killed = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg, root=root)
    commit = killed.store.commit_snapshot

    def crash_at_round_1(round_no, metrics=None):
        if round_no == 1:
            raise RuntimeError("killed")
        return commit(round_no, metrics)

    killed.store.commit_snapshot = crash_at_round_1
    with pytest.raises(RuntimeError, match="killed"):
        killed.crawl(seeds)

    resumed = FrontierCrawler.resume(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), root, cfg)
    committed = sorted(r.url_norm for r in resumed.results().collect())
    assert len(committed) == 3  # the budget's round-0 share
    assert _done_seed_urls(resumed) == committed
    resumed.continue_crawl()

    full = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
        root=str(tmp_path / "full" / "crawl"))
    full.crawl(seeds)

    def state(c):
        return (sorted((r.url_norm, r.depth) for r in c.results().collect()),
                _done_seed_urls(c),
                sorted(r.url_norm for r in c.store.read("seen").collect()))

    assert state(resumed) == state(full)
    assert _done_seed_urls(resumed) == seeds


# -- seeds the robots gate refuses ------------------------------------------

BLOCKED_SEED = "http://loop.test/blocked/s"


def _blocked_seed_rows(n=4):
    """``n`` fetchable seeds on one host plus BLOCKED_SEED, which the
    host's robots.txt disallows; every seed links to every seed and to
    /q, /q links to /r — so the crawl runs three rounds."""
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    seeds = [f"http://loop.test/p{i}" for i in range(n)]
    links = seeds + [BLOCKED_SEED, "http://loop.test/q"]
    rows = [_row(s, body=make_html_from_links(links)) for s in seeds]
    rows += [_row(BLOCKED_SEED, body=""),
             _row("http://loop.test/q",
                  body=make_html_from_links(["/r"])),
             _row("http://loop.test/r", body=""),
             _row("http://loop.test/robots.txt", content_type="text/plain",
                  body="User-agent: *\nDisallow: /blocked\n")]
    return seeds, rows


def _round_metrics(c) -> dict[int, dict]:
    return {s["round"]: s["metrics"] for s in c.store.snapshots()}


def _done_seed_rounds(c) -> list[int]:
    """Rounds whose snapshot committed a done_seeds append."""
    return sorted(s["round"] for s in c.store.snapshots()
                  if s["new_lineage"].get("done_seeds"))


def test_blocked_seed_stops_seed_check(spark, tmp_path):
    """A seed robots refuses can never be fetched, so it stops counting
    as pending: once round 0 has fetched every other seed, no later
    round appends to done_seeds. The visited set and the per-gate
    counts in each round's metrics are pinned; quiet rounds of this
    cross-authority crawl leave no robots dir behind."""
    seeds, rows = _blocked_seed_rows(2)
    cfg = CrawlConfig(same_authority_only=False)
    c = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows), cfg),
                        cfg, root=str(tmp_path / "crawl"))
    c.crawl(seeds + [BLOCKED_SEED])
    assert _per_round(c) == [
        (0, seeds[0]), (0, seeds[1]), (1, "http://loop.test/q"),
        (2, "http://loop.test/r")]
    assert _done_seed_urls(c) == seeds
    assert _done_seed_rounds(c) == [0]
    m = _round_metrics(c)
    assert m[0]["seeds_blocked"] == 1
    assert all("seeds_blocked" not in m[r] for r in (1, 2))
    assert [(m[r]["robots_new"], m[r]["fetched"], m[r]["deferred"])
            for r in (0, 1, 2)] == [(1, 2, 0), (0, 1, 0), (0, 1, 0)]
    assert len(c.store.paths("robots")) == 1


def test_budget_deferred_seed_recorded_when_fetched(spark, tmp_path,
                                                   monkeypatch):
    """Next to a blocked seed, a seed the per-host budget defers in
    round 0 stays pending: round 1 fetches it once, at depth 0, and
    records it in done_seeds; round 2 (its rediscovered copy, skipped
    as done) appends nothing. The fetch stage and the deferred append
    both read the politeness split, which caches the gated, ranked
    frontier once: the rows a counting filter stacked on can_fetch
    sees equal the rows fetched plus the rows deferred."""
    import simplecrawler_spark.plans.crawl as crawl_mod

    log = str(tmp_path / "gate.log")
    can_fetch = crawl_mod.can_fetch

    def counting_can_fetch(frontier, robots_df, cfg):
        @F.pandas_udf("boolean")
        def mark(url: pd.Series) -> pd.Series:
            with open(log, "a") as fh:
                fh.write(f"{len(url)}\n")
            return pd.Series([True] * len(url), dtype=bool)

        # nondeterministic: the optimizer may not merge it into the
        # gate's own filter, so it sees only the rows the gate admits
        return can_fetch(frontier, robots_df, cfg).filter(
            mark.asNondeterministic()(F.col("url_norm")))

    monkeypatch.setattr(crawl_mod, "can_fetch", counting_can_fetch)
    seeds, rows = _blocked_seed_rows(4)
    cfg = CrawlConfig(max_per_host_per_round=3, priority_source="depth")
    c = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows), cfg),
                        cfg, root=str(tmp_path / "crawl"))
    c.crawl(seeds + [BLOCKED_SEED])
    got = _per_round(c)
    assert sorted(u for _, u in got) == sorted(
        seeds + ["http://loop.test/q", "http://loop.test/r"])
    late = [u for rnd, u in got if rnd == 1 and u in seeds]
    assert len(late) == 1
    assert sorted((r.url_norm, r.depth) for r in c.results().collect()
                  if r.url_norm in seeds) == [(s, 0) for s in seeds]
    assert _done_seed_urls(c) == seeds
    assert _done_seed_rounds(c) == [0, 1]
    m = _round_metrics(c)
    assert (m[0]["seeds_blocked"], m[0]["fetched"], m[0]["deferred"]) \
        == (1, 3, 1)
    with open(log) as fh:
        gated = sum(int(line) for line in fh)
    assert gated == sum(x["fetched"] + x["deferred"] for x in m.values())
    # rounds that deferred or discovered nothing leave no empty dir
    assert all(footer_counts([p])[0] for p in c.store.paths("frontier"))


def test_blocked_seed_count_survives_kill_and_resume(spark, tmp_path):
    """Kill the crawl while round 1 commits (round 0 committed):
    continue_crawl reads seeds_blocked back from round 0's metrics and
    ends in the uninterrupted crawl's state, with no done_seeds append
    after the deferred seed's round."""
    seeds, rows = _blocked_seed_rows(4)
    cfg = CrawlConfig(max_per_host_per_round=3, priority_source="depth")
    root = str(tmp_path / "killed" / "crawl")
    killed = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg, root=root)
    commit = killed.store.commit_snapshot

    def crash_at_round_1(round_no, metrics=None):
        if round_no == 1:
            raise RuntimeError("killed")
        return commit(round_no, metrics)

    killed.store.commit_snapshot = crash_at_round_1
    with pytest.raises(RuntimeError, match="killed"):
        killed.crawl(seeds + [BLOCKED_SEED])
    resumed = FrontierCrawler.resume(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), root, cfg)
    resumed.continue_crawl()
    full = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
        root=str(tmp_path / "full" / "crawl"))
    full.crawl(seeds + [BLOCKED_SEED])

    def state(c):
        return (_per_round(c), _done_seed_urls(c),
                sorted(r.url_norm for r in c.store.read("seen").collect()))

    assert state(resumed) == state(full)
    assert resumed._n_seeds_blocked == full._n_seeds_blocked == 1
    assert _done_seed_rounds(resumed) == _done_seed_rounds(full) == [0, 1]


def test_seed_state_mode_single_valued():
    assert CrawlConfig().seed_state_mode == "table"
    with pytest.raises(ValueError, match="seed_state_mode"):
        CrawlConfig(seed_state_mode="driver")


def test_million_seed_crawl_no_driver_seed_state(spark, tmp_path):
    """Forced 10^6-seed crawl through crawl_df: the seed list never
    reaches the driver (only footer counts do) and every seed lands
    in results and in done_seeds exactly once."""
    n = 1_000_000
    graph = spark.range(n).select(
        F.concat(F.lit("http://big.test/p"), F.col("id")).alias("url"),
        F.concat(F.lit("http://big.test/p"), F.col("id"))
        .alias("url_norm"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        F.lit("").alias("body"),
        F.lit(None).cast("string").alias("redirect_location"),
        F.lit(None).cast("string").alias("ua_required"),
        F.lit(None).cast("string").alias("image_id"))
    cfg = CrawlConfig(obey_robots=False)
    fetcher = TableFetcher(graph, cfg)
    c = FrontierCrawler(spark, fetcher, cfg,
                        root=str(tmp_path / "mega" / "crawl"))
    seeds = spark.range(n).select(
        F.concat(F.lit("http://big.test/p"), F.col("id"))
        .alias("url_raw"))
    c.crawl_df(seeds)
    assert c.store.rows("done_seeds") == n
    assert c.store.read("done_seeds").distinct().count() == n
    assert c.results().count() == n


def test_fractional_rank_scores_order_scheduling(spark, tmp_path):
    """priority_source='rank' with scores in [0, 1] (an external
    quality score): the higher-scored page fetches first under a
    1/host budget — even against the url_hash tie-break, which is all
    that is left if the scores truncate to 0."""
    from simplecrawler_spark.functions.canonical import url_hash
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    seed = "http://q.test/"
    pages = ["http://q.test/a", "http://q.test/b"]
    rows = [_row(seed, body=make_html_from_links(pages))]
    rows += [_row(p, body="") for p in pages]
    # give the higher score to the page the tie-break schedules last
    by_hash = [r.u for r in spark.createDataFrame(
        [(p,) for p in pages], "u string")
        .select("u", url_hash(F.col("u")).alias("h"))
        .orderBy("h").collect()]
    rank_path = str(tmp_path / "quality.parquet")
    spark.createDataFrame([(by_hash[0], 0.25), (by_hash[1], 0.75)],
                          "v string, quality double"
                          ).write.parquet(rank_path)
    cfg = CrawlConfig(max_per_host_per_round=1, priority_source="rank",
                      rank_table_path=rank_path, rank_column="quality")
    c = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows), cfg),
                        cfg, root=str(tmp_path / "crawl"))
    c.crawl(seed)
    rounds = {r.url_norm: r.round
              for r in c.results().select("url_norm", "round").collect()}
    assert rounds[by_hash[1]] < rounds[by_hash[0]]


def test_hits_authority_priority_schedules_ranked_pages_first(
        spark, tmp_path):
    """G6 round-4 verdict item 7: priority_source='rank' feeds ANY
    precomputed (v, score) table into scheduling — here hits()'s auth
    column: the 3-in-edge authority fetches in an earlier round than
    the 1-in-edge page under a 1/host budget; visited set unchanged."""
    from simplecrawler_spark.operators.graph import hits
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links,
    )

    seed = "http://h0.test/"
    hubs = [f"http://h{i}.test/hub" for i in (1, 2, 3)]
    tgt = "http://tgt.test"
    rows = [_row(seed, body=make_html_from_links(hubs))]
    rows.append(_row(hubs[0],
                     body=make_html_from_links([tgt + "/hot",
                                                tgt + "/cold"])))
    for h in hubs[1:]:
        rows.append(_row(h, body=make_html_from_links([tgt + "/hot"])))
    rows.append(_row(tgt + "/hot", body=""))
    rows.append(_row(tgt + "/cold", body=""))

    cfg1 = CrawlConfig(same_authority_only=False, crawl_log=True)
    c1 = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows),
                                             cfg1), cfg1,
                         root=str(tmp_path / "pass1"))
    c1.crawl(seed)
    rank_path = str(tmp_path / "hits.parquet")
    h = hits(c1.link_edges(), n_iter=3)
    h.write.parquet(rank_path)
    got = {r.v: r.auth for r in h.collect()}
    assert got[tgt + "/hot"] > got[tgt + "/cold"]

    cfg2 = CrawlConfig(max_per_host_per_round=1, max_rounds=30,
                       same_authority_only=False,
                       priority_source="rank",
                       rank_table_path=rank_path, rank_column="auth")
    c2 = FrontierCrawler(spark, TableFetcher(site_graph_df(spark, rows),
                                             cfg2), cfg2,
                         root=str(tmp_path / "pass2"))
    c2.crawl(seed)
    rounds = {r.url_norm: r.round
              for r in c2.results().select("url_norm", "round").collect()}
    assert rounds[tgt + "/hot"] < rounds[tgt + "/cold"]

    import pytest
    with pytest.raises(ValueError, match="rank_table_path"):
        FrontierCrawler(
            spark, None, CrawlConfig(priority_source="rank"),
            root=str(tmp_path / "bad"))


def test_compact_after_crawl_preserves_state(spark, tmp_path):
    """Table maintenance between crawls: compacting the seen/results
    tables changes file layout only — result set identical, resume
    from the compacted manifest reaches the same fixpoint."""
    rows = crawler_server_rows(BASE)
    crawler = crawl(spark, tmp_path / "c", rows, BASE)
    before = crawler.result_urls()
    out_r = crawler.store.compact("results", min_dirs=1)
    out_s = crawler.store.compact("seen", min_dirs=1)
    assert out_r["dirs_after"] <= out_r["dirs_before"]
    assert out_s["dirs_after"] <= out_s["dirs_before"]
    assert crawler.result_urls() == before
    crawler.store.commit_snapshot(99)

    cfg2 = CrawlConfig()
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg2)
    resumed = FrontierCrawler.resume(
        spark, fetcher, str(tmp_path / "c" / "crawl"), cfg2)
    resumed.continue_crawl()
    assert resumed.result_urls() == before


def test_compact_every_round_parity(spark, tmp_path):
    """compact_every=1 (in-loop table maintenance) reaches the same
    visited set and depths as the default crawl, and the compacted
    checkpoint resumes cleanly."""
    rows = crawler_server_rows(BASE)
    a = crawl(spark, tmp_path / "plain", rows, BASE)
    b = crawl(spark, tmp_path / "compacted", rows, BASE,
              CrawlConfig(compact_every=1))
    assert a.result_urls() == b.result_urls()
    da = {r.url_norm: r.depth for r in a.results().collect()}
    db = {r.url_norm: r.depth for r in b.results().collect()}
    assert da == db
    # the compacted root still resumes (nothing left to crawl)
    cfg2 = CrawlConfig(compact_every=1)
    fetcher = TableFetcher(site_graph_df(spark, rows), cfg2)
    resumed = FrontierCrawler.resume(
        spark, fetcher, str(tmp_path / "compacted" / "crawl"), cfg2)
    resumed.continue_crawl()
    assert resumed.result_urls() == a.result_urls()


# -- the seen-set Bloom switches on once seen outgrows a broadcast join -----

_BLOOM_CFG = CrawlConfig(same_authority_only=False, max_rounds=20,
                         bloom_enabled=True)


def _bloom_crawl(spark, root, graph, seed):
    c = FrontierCrawler(spark, TableFetcher(graph, _BLOOM_CFG), _BLOOM_CFG,
                        root=str(root))
    c.crawl(seed)
    return c


@pytest.fixture(scope="module")
def bloom_graph(spark, tmp_path_factory):
    """A graph a cross-host crawl covers in six rounds, its seed, and
    that crawl, with the filter asked for, run at the session's
    default broadcast limit."""
    from simplecrawler_spark.sources.fixtures import synthetic_graph

    graph = synthetic_graph(spark, n_pages=300, n_hosts=4, out_degree=5)
    seed = graph.agg(F.min("url")).first()[0]
    return graph, seed, _bloom_crawl(
        spark, tmp_path_factory.mktemp("plain"), graph, seed)


def _seen_state(c):
    return (_per_round(c),
            sorted(r.url_norm for r in c.store.read("seen").collect()))


def _switch_on_limit(plain) -> int:
    """A broadcast limit a few bytes above the seen bytes round 0
    writes: round 1 still tests below it and round 2 above it, so
    round 2 builds the filter and round 3 is the first to consult it."""
    return _round_metrics(plain)[1]["seen_bytes"] + 64


def test_small_crawl_builds_no_bloom(spark, tmp_path, bloom_graph,
                                     broadcast_limit):
    """While seen fits a broadcast join the filter saves no shuffle:
    a crawl of a small graph that asks for it at the default limit
    builds none, writes no bloom sidecar and tests the seen bytes
    every round. With broadcasts off the filter is on from round 1,
    and every round fetches the same pages. Without bloom_enabled no
    round tests anything."""
    graph, seed, plain = bloom_graph
    assert plain.bloom is None
    assert not os.path.exists(plain._bloom_path)
    m = _round_metrics(plain)
    assert len(m) == 6
    assert not any(x["bloom"] for x in m.values())
    assert m[0]["seen_bytes"] == 0
    assert all(m[r]["seen_bytes"] > m[r - 1]["seen_bytes"]
               for r in range(1, 6))

    broadcast_limit(-1)
    filtered = _bloom_crawl(spark, tmp_path, graph, seed)
    assert filtered.bloom is not None
    assert os.path.exists(filtered._bloom_path)
    mf = _round_metrics(filtered)
    assert [mf[r]["bloom"] for r in range(6)] == [False] + [True] * 5
    assert [mf[r]["seen_bytes"] for r in range(6)] == [0] + [None] * 5
    assert _per_round(filtered) == _per_round(plain)

    cfg = CrawlConfig(same_authority_only=False, max_rounds=20)
    off = FrontierCrawler(spark, TableFetcher(graph, cfg), cfg,
                          root=str(tmp_path / "off"))
    off.crawl(seed)
    assert off.bloom is None
    assert all(x["seen_bytes"] is None and not x["bloom"]
               for x in _round_metrics(off).values())
    assert _per_round(off) == _per_round(plain)


def test_bloom_switches_on_mid_crawl(spark, tmp_path, bloom_graph,
                                     broadcast_limit):
    graph, seed, plain = bloom_graph
    limit = _switch_on_limit(plain)
    broadcast_limit(limit)
    c = _bloom_crawl(spark, tmp_path, graph, seed)
    m = _round_metrics(c)
    assert [m[r]["bloom"] for r in range(6)] == [False] * 3 + [True] * 3
    assert m[1]["seen_bytes"] <= limit < m[2]["seen_bytes"]
    assert all(m[r]["seen_bytes"] is None for r in (3, 4, 5))
    # every seen row reached the filter: built from the table, then
    # each later round's admissions added
    assert c.bloom.added == c.store.read("seen").count()
    assert _seen_state(c) == _seen_state(plain)


def test_bloom_switch_on_survives_kill_and_resume(spark, tmp_path,
                                                  bloom_graph,
                                                  broadcast_limit):
    """Kill the crawl while round 2 builds the filter (round 1
    committed, no sidecar written): the committed seen table is past
    the limit, so continue_crawl rebuilds the filter from it before
    replaying round 2, and the crawl ends in the uninterrupted state."""
    graph, seed, plain = bloom_graph
    broadcast_limit(_switch_on_limit(plain))
    cfg = _BLOOM_CFG
    root = str(tmp_path / "killed")
    killed = FrontierCrawler(spark, TableFetcher(graph, cfg), cfg, root=root)

    def crash():
        raise RuntimeError("killed")

    killed._bloom_from_seen = crash
    with pytest.raises(RuntimeError, match="killed"):
        killed.crawl(seed)
    assert killed.store.latest_round() == 1

    resumed = FrontierCrawler.resume(
        spark, TableFetcher(graph, cfg), root, cfg)
    assert resumed.bloom is None  # nothing to load
    resumed.continue_crawl()
    m = _round_metrics(resumed)
    assert [m[r]["bloom"] for r in range(6)] == [False] * 2 + [True] * 4
    assert resumed.bloom.added == resumed.store.read("seen").count()
    assert _seen_state(resumed) == _seen_state(plain)


@pytest.mark.parametrize("value, limit", [
    (None, 10 << 20), ("10m", 10 << 20), ("256KB", 256 << 10),
    ("4096", 4096), ("-1", -1)])
def test_broadcast_limit_reads_byte_sizes(spark, broadcast_limit,
                                          value, limit):
    """The switch-on test reads the broadcast limit through the public
    session conf and parses its byte-size units as Spark does (None:
    the default, which the conf prints as 10485760b)."""
    from simplecrawler_spark.plans.crawl import _broadcast_limit

    if value is not None:
        broadcast_limit(value)
    assert _broadcast_limit(spark) == limit
