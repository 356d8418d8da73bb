"""Independent answers for every workload, computed from the generated
arrays alone (numpy, no Spark, no package code).

Crawl workloads: a level-synchronous BFS over the edge list with the
crawler's round semantics. Round r fetches the allowed part of
frontier r (robots-disallowed pages are discovered but never fetched
or expanded); every link target of a fetched page joins the seen set
the first time it appears; the next frontier is the targets not seen
before. The crawl stops at ``max_rounds`` or at the fixpoint.
Politeness deferral changes when a page is fetched, never whether, so
the oracle ignores it (crawl-to-fixpoint workloads only).

Curation: the planted exact-duplicate arithmetic of the fanned corpus.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np


@dataclass
class CrawlAnswer:
    fetched: np.ndarray       # sorted page ids fetched (the results set)
    n_seen: int               # rows the seen table ends with
    n_blocked: int            # distinct pages the robots gate refused
    n_authorities: int        # authorities whose robots.txt was fetched
    rounds: int               # rounds that committed a snapshot


def crawl_bfs(graph, max_rounds: int) -> CrawlAnswer:
    n = graph.n_pages
    blocked = graph.blocked()
    src = np.repeat(np.arange(n), np.diff(graph.indptr))
    fetched = np.zeros(n, dtype=bool)
    seen = np.zeros(n, dtype=bool)
    refused = np.zeros(n, dtype=bool)
    # robots.txt is fetched at the start of the round that first holds
    # a url of the authority: seeds' hosts first, then the hosts of
    # every round's new urls
    auth_fetched = np.zeros(graph.n_hosts, dtype=bool)
    frontier = np.unique(graph.seeds)
    rounds = 0
    while rounds < max_rounds and frontier.size:
        auth_fetched[graph.host[frontier]] = True
        todo = frontier[~fetched[frontier]]
        refused[todo[blocked[todo]]] = True
        now = np.zeros(n, dtype=bool)
        now[todo[~blocked[todo]]] = True
        fetched |= now
        targets = np.unique(graph.indices[now[src]])
        new = targets[~seen[targets]]
        seen[new] = True
        frontier = new
        rounds += 1
    return CrawlAnswer(fetched=np.flatnonzero(fetched),
                       n_seen=int(seen.sum()),
                       n_blocked=int(refused.sum()),
                       n_authorities=int(auth_fetched.sum()),
                       rounds=rounds)


def url_set_digest(urls) -> str:
    """Order-independent digest of a set of url strings: the sum of
    their 64-bit blake2b values, modulo 2^64, beside the count."""
    acc = 0
    n = 0
    for u in urls:
        acc += int.from_bytes(
            hashlib.blake2b(u.encode(), digest_size=8).digest(), "little")
        n += 1
    return f"{n}:{acc % (1 << 64):016x}"


def check_crawl(graph, answer: CrawlAnswer, visited_urls: list[str],
                n_seen: int) -> str | None:
    """None when the crawl's visited set and seen count match the
    oracle, else the name of the first failing check and its detail."""
    want = [graph.url(int(i)) for i in answer.fetched]
    if len(visited_urls) != len(want):
        return (f"visited_count: crawl fetched {len(visited_urls)} pages, "
                f"oracle {len(want)}")
    got_d, want_d = url_set_digest(visited_urls), url_set_digest(want)
    if got_d != want_d:
        missing = sorted(set(want) - set(visited_urls))[:3]
        return (f"visited_digest: {got_d} != oracle {want_d}; "
                f"first missing {missing}")
    if n_seen != answer.n_seen:
        return f"seen_count: crawl seen {n_seen}, oracle {answer.n_seen}"
    return None


@dataclass
class DedupAnswer:
    n_docs: int
    n_groups: int             # exact_dedup fingerprint groups
    n_full_groups: int        # groups holding every verbatim copy of a base


def dedup_arithmetic(corpus) -> DedupAnswer:
    """Each base's verbatim copies collapse into one group; every
    variant copy is its own group."""
    extra = corpus.n_base * (corpus.n_verbatim - 1)
    return DedupAnswer(n_docs=corpus.n_docs,
                       n_groups=corpus.n_docs - extra,
                       n_full_groups=corpus.n_base)


def check_curation(answer: DedupAnswer, *, n_groups: int, n_dup_rows: int,
                   n_full_groups: int, n_kept: int, n_substring: int,
                   n_packed: int, n_pairs: int) -> str | None:
    if n_groups != answer.n_groups:
        return f"exact_groups: {n_groups}, planted {answer.n_groups}"
    if n_dup_rows != answer.n_docs:
        return f"exact_rows: groups cover {n_dup_rows} docs, {answer.n_docs} generated"
    if n_full_groups != answer.n_full_groups:
        return (f"exact_full_groups: {n_full_groups} groups hold every "
                f"verbatim copy, planted {answer.n_full_groups}")
    if not 0 < n_kept <= answer.n_docs:
        return f"kept_count: {n_kept} of {answer.n_docs}"
    if n_substring != n_kept:
        return f"substring_rows: {n_substring} rows for {n_kept} kept docs"
    if n_packed != n_kept:
        return f"packed_rows: {n_packed} rows for {n_kept} kept docs"
    if n_pairs <= 0:
        return "lsh_pairs: no candidate pairs despite planted variants"
    return None
