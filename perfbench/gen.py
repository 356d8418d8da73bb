"""Seeded input generators for the benchmark workloads.

Every generator is plain numpy driven by the workload seed, so the
oracle (oracle.py) sees exactly the edges and rules the program is
given. The program only ever receives the Spark DataFrames built from
these arrays; nothing here imports the package's own fixture module,
so a change there cannot move the inputs.

``digest()`` fingerprints the generated arrays. ``input_digests.json``
records the digest of every workload for seeds 0-19; a run whose seed
is recorded fails its input check when the digest differs.
Regenerate the record (only after a deliberate generator change) with

    python3 perfbench/gen.py --write-digests
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

DIGEST_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "input_digests.json")
RECORDED_SEEDS = range(20)


@dataclass
class Graph:
    """A link graph in CSR form: page i lives on host ``host[i]`` and
    links to ``indices[indptr[i]:indptr[i + 1]]``. Page i sits under
    path section ``s{i % sections}``; every host serves a robots.txt
    that disallows one section, and some set a Crawl-delay."""
    host: np.ndarray          # int64[n]
    indptr: np.ndarray        # int64[n + 1]
    indices: np.ndarray       # int64[edges]
    seeds: np.ndarray         # int64[k], sorted, distinct
    n_hosts: int
    delay_hosts: np.ndarray   # bool[n_hosts]
    sections: int = 8
    crawl_delay: float = 1.0
    host_prefix: str = "a"

    @property
    def n_pages(self) -> int:
        return len(self.host)

    def links(self, i: int) -> np.ndarray:
        return self.indices[self.indptr[i]:self.indptr[i + 1]]

    def url(self, i: int) -> str:
        return f"http://{self.authority(int(self.host[i]))}{self.path(i)}"

    def authority(self, h: int) -> str:
        return f"{self.host_prefix}{h}.test"

    def path(self, i: int) -> str:
        return f"/s{i % self.sections}/p{i}"

    def blocked(self) -> np.ndarray:
        """bool[n]: the page's own host disallows its section."""
        idx = np.arange(self.n_pages)
        return (idx % self.sections) == (self.host % self.sections)

    def robots_txt(self, h: int) -> str:
        lines = ["User-agent: *", f"Disallow: /s{h % self.sections}/"]
        if self.delay_hosts[h]:
            lines.append(f"Crawl-delay: {self.crawl_delay:g}")
        return "\n".join(lines) + "\n"

    def body(self, i: int) -> str:
        """Out-links as anchors: same-host targets as relative paths
        (so the parser resolves them), others absolute."""
        h = self.host[i]
        hrefs = [self.path(int(t)) if self.host[t] == h else self.url(int(t))
                 for t in self.links(i)]
        anchors = "<br>".join(f'<a href="{x}">x</a>' for x in hrefs)
        return f"<html><head></head><body>{anchors}</body></html>"

    def site_rows(self) -> dict[str, list]:
        """Columns of the program's site_graph schema: every page plus
        one text/plain robots.txt row per host."""
        urls = [self.url(i) for i in range(self.n_pages)]
        bodies = [self.body(i) for i in range(self.n_pages)]
        ctype = ["text/html"] * self.n_pages
        urls += [f"http://{self.authority(h)}/robots.txt"
                 for h in range(self.n_hosts)]
        bodies += [self.robots_txt(h) for h in range(self.n_hosts)]
        ctype += ["text/plain"] * self.n_hosts
        n = len(urls)
        return {"url": urls, "url_norm": urls, "status": [200] * n,
                "content_type": ctype, "body": bodies,
                "redirect_location": [None] * n, "ua_required": [None] * n,
                "image_id": [None] * n}

    def seed_urls(self) -> list[str]:
        return [self.url(int(i)) for i in self.seeds]

    def digest(self) -> str:
        h = hashlib.sha256()
        for arr in (self.host, self.indptr, self.indices, self.seeds,
                    self.delay_hosts):
            h.update(np.ascontiguousarray(arr, dtype=np.int64).tobytes())
        h.update(f"{self.host_prefix}|{self.sections}|"
                 f"{self.crawl_delay}".encode())
        return h.hexdigest()[:16]


def layered_graph(seed: int, level_sizes: tuple[int, ...], n_hosts: int,
                  hot_quota: tuple[int, ...], out_degree: int,
                  delay_share: int, crawl_delay: float) -> Graph:
    """A graph whose BFS from level 0 (the seeds) takes exactly one
    round per level, whatever the seed.

    * Level k holds ``level_sizes[k]`` consecutive page ids. Hot host
      j (j < len(hot_quota)) owns ``hot_quota[j]`` random pages of
      every level except the first and the last; all other pages sit
      on uniformly random cold hosts.
    * Every page of level k+1 gets two in-links from allowed (not
      robots-disallowed) cold pages of level k, so it is discovered in
      round k even when the hot hosts' pages are deferred by their
      budget. Further random links, up to ``out_degree`` per page, go
      forward to level k+1 or back to levels already crawled; the last
      level links back only, so round L-1 finds nothing new.
    * Host 1 and every ``delay_share``-th cold host set a Crawl-delay.
    """
    rng = np.random.default_rng([seed, sum(level_sizes), n_hosts])
    bounds = np.concatenate([[0], np.cumsum(level_sizes)])
    n, n_levels, n_hot = int(bounds[-1]), len(level_sizes), len(hot_quota)
    host = rng.integers(n_hot, n_hosts, size=n)
    for k in range(1, n_levels - 1):
        ids = rng.permutation(np.arange(bounds[k], bounds[k + 1]))
        at = 0
        for j, q in enumerate(hot_quota):
            host[ids[at:at + q]] = j
            at += q
    sections = 8
    blocked = (np.arange(n) % sections) == (host % sections)
    links: list[list[int]] = [[] for _ in range(n)]
    for k in range(n_levels - 1):
        lvl = np.arange(bounds[k], bounds[k + 1])
        cover = rng.permutation(lvl[(host[lvl] >= n_hot) & ~blocked[lvl]])
        nxt = np.arange(bounds[k + 1], bounds[k + 2])
        for t_i, t in enumerate(nxt):
            links[cover[(2 * t_i) % len(cover)]].append(int(t))
            links[cover[(2 * t_i + 1) % len(cover)]].append(int(t))
    for k in range(n_levels):
        # back-links may reach the seeds (a done-skip next round) only
        # where that next round exists anyway
        back_lo = bounds[0] if k <= n_levels - 3 else bounds[1]
        for i in range(bounds[k], bounds[k + 1]):
            extra = max(2, out_degree - len(links[i]))
            fwd = k < n_levels - 1
            for _ in range(extra):
                if fwd and rng.random() < 0.5:
                    links[i].append(int(rng.integers(bounds[k + 1],
                                                     bounds[k + 2])))
                elif bounds[k + 1] > back_lo:
                    links[i].append(int(rng.integers(back_lo, bounds[k + 1])))
    indptr = np.concatenate([[0], np.cumsum([len(x) for x in links])])
    indices = np.fromiter((t for x in links for t in x), dtype=np.int64,
                          count=int(indptr[-1]))
    delay_hosts = np.zeros(n_hosts, dtype=bool)
    delay_hosts[n_hot::delay_share] = True
    if n_hot > 1:
        delay_hosts[1] = True
    return Graph(host=host, indptr=indptr, indices=indices,
                 seeds=np.arange(bounds[0], bounds[1]), n_hosts=n_hosts,
                 delay_hosts=delay_hosts, sections=sections,
                 crawl_delay=crawl_delay)


# -- text corpus ---------------------------------------------------------

VOCAB = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data join vector customer the a of index").split()


@dataclass
class Corpus:
    """Base documents fanned out ``fan`` times. Copy c of base b has
    doc_id b * fan + c; copies with c % 10 == 0 repeat the base text
    verbatim (planted exact duplicates), the others append a
    ``variant c`` suffix (planted near duplicates)."""
    base_words: list[str]
    sources: list[str]
    fan: int

    @property
    def n_base(self) -> int:
        return len(self.base_words)

    @property
    def n_docs(self) -> int:
        return self.n_base * self.fan

    @property
    def n_verbatim(self) -> int:
        return len(range(0, self.fan, 10))

    def rows(self) -> dict[str, list]:
        ids, srcs, texts = [], [], []
        for b, (words, src) in enumerate(zip(self.base_words, self.sources)):
            for c in range(self.fan):
                variant = "" if c % 10 == 0 else f" variant {c}"
                ids.append(b * self.fan + c)
                srcs.append(src)
                texts.append(f"This sentence about {src} has plenty of "
                             f"words.\n{words}{variant}.\nHere is another "
                             "complete sentence with enough words.")
        return {"doc_id": ids, "source": srcs, "text": texts}

    def digest(self) -> str:
        h = hashlib.sha256()
        for words, src in zip(self.base_words, self.sources):
            h.update(f"{src}\t{words}\n".encode())
        h.update(str(self.fan).encode())
        return h.hexdigest()[:16]


def text_corpus(seed: int, n_base: int, fan: int) -> Corpus:
    """Distinct base texts of 8-90 words over a small vocabulary (the
    shape of the sf0.1 documents table), ten sources."""
    rng = np.random.default_rng([seed, n_base, fan])
    # the same multiset of lengths for every seed keeps the corpus
    # volume (and so every per-document rate) seed-independent
    lengths = rng.permutation(np.resize(np.arange(8, 91), n_base))
    texts: list[str] = []
    seen: set[str] = set()
    for n_words in lengths:
        words = " ".join(rng.choice(VOCAB, size=int(n_words)))
        while words in seen:
            words = " ".join(rng.choice(VOCAB, size=int(n_words)))
        seen.add(words)
        texts.append(words)
    sources = [f"src{b % 10}" for b in range(n_base)]
    return Corpus(base_words=texts, sources=sources, fan=fan)


def load_recorded() -> dict:
    if not os.path.exists(DIGEST_FILE):
        return {}
    with open(DIGEST_FILE) as fh:
        return json.load(fh)


def check_digest(workload: str, seed: int, digest: str) -> str | None:
    """None when the digest matches the record (or the seed is not
    recorded), else the failure reason."""
    want = load_recorded().get(workload, {}).get(str(seed))
    if want is None or want == digest:
        return None
    return f"input_digest: {workload} seed {seed} is {digest}, recorded {want}"


def main() -> None:
    import argparse

    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write-digests", action="store_true")
    args = ap.parse_args()
    table = {name: {str(s): w.make_inputs(s).digest() for s in RECORDED_SEEDS}
             for name, w in WORKLOADS.items()}
    if args.write_digests:
        with open(DIGEST_FILE, "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(json.dumps(table, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
