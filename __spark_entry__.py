"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the FrontierCrawler BFS fixpoint over a
site graph derived from sf0.001 lineitem edges.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 plus the training-data pipeline ops; every oracle is exact
ANSI SQL over the same parquet views. Portability contracts used
throughout (see simplecrawler_spark/functions/text.py):
  * md5 is identical in Spark and DuckDB;
  * 64-bit hashes ride as 16-hex-char strings (lexicographic == numeric
    order) or via hex→BIGINT casts;
  * no cross-row float aggregation is ever compared (floats are
    floor-scaled per row to integers);
  * every computed column is aliased identically on both sides.

q_image_features carries a PARTIAL oracle: the relational residue
(image_id format, fmt rule, caption equality, decode_ok/phash_ok
invariants) is regenerated in pure SQL; the pixel residue (PSNR, luma
stats) is verified against plain-numpy recomputation in
tests/test_multimodal.py instead. q_ann_lsh's oracle inlines the
deterministic md5-derived hyperplanes as literals and recomputes
signatures/probing/ranking fully in SQL (_ann_lsh_oracle).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.functions import text as X
from simplecrawler_spark.functions.canonical import (
    canonicalize_df, filter_by, resolve, trim_query_fragment_expr,
)
from simplecrawler_spark.operators import dedup as D
from simplecrawler_spark.operators import graph as G
from simplecrawler_spark.operators import similarity as SIM
from simplecrawler_spark.operators.parse import extract_hrefs
from simplecrawler_spark.operators.politeness import schedule_budget
from simplecrawler_spark.operators.seen import anti_join_seen
from simplecrawler_spark.plans.crawl import FrontierCrawler
from simplecrawler_spark.sources.fetch import (
    TableFetcher, mime_ok_expr, status_class_expr,
)
from simplecrawler_spark.sources.fixtures import graph_from_edges

N_BFS_NODES = 500
_EMB_DIM = 64       # embeddings.parquet dim at every sf (TESTDATA.md)
_ANN_PLANES = 6
# q_mojibake's oracle repair chain — emitted from the same
# MOJIBAKE_PAIRS table the Spark expression uses
_MOJIBAKE_SQL = X.mojibake_sql("text2")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# shared derivations (Spark side)
# --------------------------------------------------------------------------

def _dirty_urls(orders: DataFrame) -> DataFrame:
    """Deterministic 'dirty' URLs from orders — uppercase scheme/host,
    trailing-dot host, space in path, unsorted query params."""
    url_raw = F.concat(
        F.lit("HTTP://SRC"), (F.col("o_custkey") % 20).cast("string"),
        F.lit(".Example.COM./p "), (F.col("o_orderkey") % 50).cast("string"),
        F.lit("?b="), (F.col("o_orderkey") % 3).cast("string"),
        F.lit("&a="), (F.col("o_custkey") % 5).cast("string"),
    )
    return orders.select(url_raw.alias("url_raw"),
                         "o_orderkey", "o_custkey")


_ORACLE_URL_NORM = (
    "'http://src' || (o_custkey % 20)::VARCHAR || '.example.com/p%20' || "
    "(o_orderkey % 50)::VARCHAR || '?a=' || (o_custkey % 5)::VARCHAR || "
    "'&b=' || (o_orderkey % 3)::VARCHAR"
)

_ORACLE_TOKS = ("list_filter(regexp_split_to_array(lower(text), "
                "'[^a-z0-9]+'), x -> x <> '')")

_ORACLE_FP = ("md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', "
              "'g')))")


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# the synthetic corpus' caption vocab (functions/images.py:42-46),
# inlined as SQL list literals for the q_image_features oracle
from simplecrawler_spark.functions.images import _ADJ, _NOUN, _VERB  # noqa: E402

_SQL_ADJ = _sql_list(_ADJ)
_SQL_NOUN = _sql_list(_NOUN)
_SQL_VERB = _sql_list(_VERB)


def _sql_dims(n: int) -> str:
    """VALUES literal of the deterministic corpus' (k, w, h) —
    images.synth_dims replays synth_pixels' dimension draws, the same
    inlining stance as the caption vocab above (the oracle checks the
    RELATIONAL logic on identical inputs; pixel generation itself is
    pytest-pinned)."""
    from simplecrawler_spark.functions.images import synth_dims

    return ", ".join(f"({k}, {w}, {h})"
                     for k in range(n)
                     for (h, w) in [synth_dims(k)])


def _sql_neardup_phashes(n: int, every: int = 3) -> str:
    """VALUES literal of the near-dup corpus' (id, phash) — built from
    the SAME fixtures.corpus_record rows the Spark fixture emits
    (deterministic numpy; the phash computation itself is pinned by
    tests/test_images.py + the q_image_features phash_ok oracle row).
    The SQL twin then re-runs the band-blocking + Hamming + connected-
    components RELATIONAL logic independently."""
    from simplecrawler_spark.sources.fixtures import corpus_record

    rows = []
    for k in range(n):
        rows.append(corpus_record(k))
        if k % every == 0:
            rows.append(corpus_record(k, perturbed=True))
    return ", ".join(
        f"({int(r['image_id'].split('_')[1])}, {r['phash']}::BIGINT)"
        for r in rows)


def _sql_aspect_buckets() -> str:
    """VALUES literal of multimodal.ASPECT_BUCKETS with the integer
    distance multiplier LCM/rh pre-computed (see
    assign_aspect_bucket's exact-rational argmin)."""
    import math

    from simplecrawler_spark.functions.multimodal import ASPECT_BUCKETS

    lcm = math.lcm(*[rh for _, _, rh, _, _ in ASPECT_BUCKETS])
    return ", ".join(
        f"({i}, '{name}', {rw}, {rh}, {tw}, {th}, {lcm // rh})"
        for i, (name, rw, rh, tw, th) in enumerate(ASPECT_BUCKETS))


def _sql_cluster_bands() -> str:
    """VALUES literal of the 7 contiguous band masks
    fingerprint_near_dup derives for n_bits=64, max_hamming=6
    (operators/dedup.py _band_masks — masks, never shifts)."""
    from simplecrawler_spark.operators.dedup import _band_masks

    return ", ".join(f"({i}, {m}::BIGINT)"
                     for i, m in enumerate(_band_masks(64, 7)))


def _bfs_crawler(spark: SparkSession, sf_dir: str, n_nodes: int,
                 max_rounds: int = 20) -> FrontierCrawler:
    edges = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % n_nodes).alias("src"),
        (F.col("l_partkey") % n_nodes).alias("dst")).distinct()
    graph = graph_from_edges(spark, edges, n_nodes)
    cfg = CrawlConfig(max_rounds=max_rounds)
    fetcher = TableFetcher(graph, cfg)
    return FrontierCrawler(spark, fetcher, cfg,
                           root=tempfile.mkdtemp(prefix="entry-crawl-"))


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: frontier BFS crawl of the lineitem-derived site graph
    at sf0.001 (SURVEY.md §3.4)."""
    crawler = _bfs_crawler(spark, "/root/testdata/sf0.001", 200)
    crawler.crawl("http://graph.test/p0")
    return crawler.results().select("url_norm", "depth", "status")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:

    def q_canonicalize(spark, sf):
        urls = _dirty_urls(_t(spark, sf, "orders"))
        return (canonicalize_df(urls).groupBy("url_norm")
                .agg(F.count("*").alias("n_raw")))

    def q_url_dedupe(spark, sf):
        urls = canonicalize_df(_dirty_urls(_t(spark, sf, "orders")))
        return (urls.groupBy("host")
                .agg(F.countDistinct("url_norm").alias("n_urls")))

    def q_seen_antijoin(spark, sf):
        urls = canonicalize_df(_dirty_urls(_t(spark, sf, "orders")))
        frontier = (urls.where(F.col("o_orderkey") % 50 < 40)
                    .select("url_norm", "url_hash").distinct())
        seen = (urls.where(F.col("o_orderkey") % 50 < 20)
                .select("url_norm", "url_hash").distinct())
        return anti_join_seen(frontier, seen).select("url_norm")

    def q_politeness_window(spark, sf):
        ev = _t(spark, sf, "events").select(
            F.col("user_id").cast("string").alias("host"),
            F.col("user_id").cast("string").alias("authority"),
            # ts is TIMESTAMP_NTZ in the parquet; cast for unix_micros.
            # priority is only an ordering key, and the cast is a
            # monotonic map, so order parity with epoch_us(ts) holds.
            F.unix_micros(F.col("ts").cast("timestamp")).cast("double")
            .alias("priority"),
            F.col("event_id").alias("url_hash"),
            F.col("event_id"))
        cfg = CrawlConfig(max_per_host_per_round=5)
        scheduled, _ = schedule_budget(ev, cfg)
        return scheduled.select("host", "event_id")

    def q_crawl_bfs(spark, sf):
        crawler = _bfs_crawler(spark, sf, N_BFS_NODES)
        crawler.crawl("http://graph.test/p0")
        return crawler.results().select("url_norm", "depth")

    def q_mime_gate(spark, sf):
        return _t(spark, sf, "part").select(
            "p_partkey",
            mime_ok_expr(F.col("p_type"), ("economy", "brush"))
            .alias("mime_ok"))

    def q_status_class(spark, sf):
        status = (F.lit(200) + F.col("o_orderkey") % 400)
        return (_t(spark, sf, "orders")
                .select(status_class_expr(status).alias("status_class"))
                .groupBy("status_class").agg(F.count("*").alias("n")))

    def q_extract_hrefs(spark, sf):
        docs = _t(spark, sf, "documents")
        body = F.concat(
            F.lit('<html><body><a href="/p/'),
            (F.col("doc_id") % 50).cast("string"),
            F.lit('">x</a><a href="/q/'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('">y</a></body></html>'))
        return (docs.select(F.explode(extract_hrefs(body)).alias("href_raw"))
                .groupBy("href_raw").agg(F.count("*").alias("n")))

    def q_trim_resolve(spark, sf):
        ev = _t(spark, sf, "events")
        href = F.concat(F.lit("/p"), (F.col("event_id") % 7).cast("string"),
                        F.lit("?q="), (F.col("event_id") % 3).cast("string"),
                        F.lit("#sec"))
        trimmed = trim_query_fragment_expr(href, trim_query=False,
                                           trim_fragment=True)
        resolved = resolve(F.lit("http://h.test/a/b"), trimmed)
        return (canonicalize_df(ev.select(resolved.alias("url_resolved")),
                                url_col="url_resolved")
                .select("url_norm").distinct())

    def q_filter_by(spark, sf):
        """R3 general filter_by: multi-kwarg component filter with
        driver-side constant folding (HTTP→http, @shop3.EXAMPLE.com→
        shop3.example.com, query param sort)."""
        orders = _t(spark, sf, "orders")
        url_raw = F.concat(
            F.when(F.col("o_orderkey") % 2 == 0, F.lit("HTTP"))
             .otherwise(F.lit("https")),
            F.lit("://Shop"), (F.col("o_custkey") % 5).cast("string"),
            F.lit(".Example.COM./cat/"),
            (F.col("o_orderkey") % 20).cast("string"),
            F.lit("?b=2&a=1"))
        df = canonicalize_df(
            orders.select(url_raw.alias("url_raw"), "o_orderkey"))
        return filter_by(df, scheme="HTTP", authority="@shop3.EXAMPLE.com.",
                         query="b=2&a=1").select("o_orderkey", "url_norm")

    def q_dedup_exact(spark, sf):
        return D.exact_dedup(_t(spark, sf, "documents"))

    def q_corpus_clean(spark, sf):
        """Composite pipeline stage: lang gate → quality gate → exact
        dup collapse in one declarative plan (operators/dedup.py
        clean_corpus)."""
        return D.clean_corpus(_t(spark, sf, "documents"),
                              lang="en", min_quality=0.5)

    def q_minhash(spark, sf):
        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
        return D.minhash_signature(docs, n_hashes=4)

    def q_lsh_pairs(spark, sf):
        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
        return D.minhash_lsh_pairs(docs, n_hashes=4, band_rows=2)

    def q_dedup_components(spark, sf):
        """Dedup clustering: LSH candidate pairs → connected
        components → one survivor (min id) per component
        (operators/dedup.py connected_components — iterative min-label
        propagation, one join+min-agg shuffle per round)."""
        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
        pairs = D.minhash_lsh_pairs(docs, n_hashes=4, band_rows=2)
        return D.connected_components(pairs)

    def q_neardup_batch(spark, sf):
        """Batch twin of the INCREMENTAL streaming near-dup dedup
        (streaming/neardup_stream.py neardup_survivors — round-4
        verdict item 6): LSH band collisions → connected components →
        min-id survivor per component; docs colliding with nothing
        survive as singletons. The streamed path is pinned equal to
        this twin by tests/test_streaming.py."""
        from simplecrawler_spark.streaming.neardup_stream import (
            neardup_survivors,
        )
        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
        return neardup_survivors(docs, n_hashes=4, band_rows=2)

    def q_ngram_jaccard(spark, sf):
        docs = _t(spark, sf, "documents")
        pairs = (docs.where(F.col("doc_id") % 10 == 0)
                 .select(F.col("doc_id").alias("id_a"),
                         (F.col("doc_id") + 1).alias("id_b")))
        j = D.ngram_jaccard(pairs, docs)
        return j.select("id_a", "id_b",
                        F.floor(F.col("jaccard") * 1000000)
                        .cast("long").alias("jac_scaled"))

    def q_containment(spark, sf):
        """k-gram containment (operators/dedup.py ngram_containment):
        the asymmetric companion to q_ngram_jaccard over the same
        (d, d+1) candidate pairs — |A∩B| relative to EACH side
        separately (quotation/inclusion detection); counts exact
        int64, ratios by integer DIV in both engines."""
        docs = _t(spark, sf, "documents")
        pairs = (docs.where(F.col("doc_id") % 10 == 0)
                 .select(F.col("doc_id").alias("id_a"),
                         (F.col("doc_id") + 1).alias("id_b")))
        return D.ngram_containment(pairs, docs)

    def q_substring_dedup(spark, sf):
        """Exact-substring dedup, fixed-window relaxation of Lee et
        al.'s suffix-array ExactSubstr (operators/dedup.py
        substring_dedup): every 10-token span occurring more than once
        corpus-wide is removed from all but its first occurrence. The
        cleaned token stream is compared via md5."""
        docs = _t(spark, sf, "documents")
        out = D.substring_dedup(docs, window=10)
        return out.select("doc_id", "n_tokens", "n_removed",
                          F.md5("text_clean").alias("clean_md5"))

    def q_decontaminate(spark, sf):
        """Benchmark decontamination (operators/dedup.py
        decontaminate): docs with doc_id % 50 == 0 stand in as the
        held-out eval set; the rest are the training side. n=3 keeps
        the synthetic corpus discriminating (the 13-gram default
        yields ~no overlap at this scale); output is the contaminated
        ids with their distinct-overlapping-gram counts."""
        docs = _t(spark, sf, "documents")
        bench = docs.where(F.col("doc_id") % 50 == 0)
        # test-scale plumbing: the sf tables are single parquet files,
        # so without this the training-side gram explode runs on one
        # core (a real corpus arrives already multi-partitioned)
        train = (docs.where(F.col("doc_id") % 50 != 0)
                 .repartition(spark.sparkContext.defaultParallelism))
        out = D.decontaminate(train, bench, n=3)
        return out.where(F.col("contaminated")).select("doc_id", "n_hits")

    def q_simhash(spark, sf):
        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
        return D.simhash(docs, n_bits=16)

    def q_phash_neardup(spark, sf):
        """Band-blocked Hamming near-dup over an int64 fingerprint —
        the image-pHash near-dup operator. The oracle-checked twin
        runs it over SQL-regenerable SimHash-32 fingerprints (the real
        pHash input needs pixel decode, which is pytest-pinned:
        tests/test_dedup.py exercises the same operator on perturbed
        decoded images)."""
        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
        fp = D.simhash(docs, n_bits=32)
        return D.fingerprint_near_dup(fp, fp_col="simhash",
                                      max_hamming=2, n_bits=32)

    def q_lang_quality(spark, sf):
        docs = _t(spark, sf, "documents")
        q = X.quality_score_expr(F.col("text"))
        return (docs.select(X.lang_id_expr(F.col("text")).alias("lang_pred"),
                            (q >= 0.7).alias("high_q"))
                .groupBy("lang_pred")
                .agg(F.count("*").alias("n_docs"),
                     F.sum(F.col("high_q").cast("long")).alias("n_highq")))

    def q_token_stats(spark, sf):
        docs = _t(spark, sf, "documents")
        return (docs.select(
                    "lang", X.token_count_expr(F.col("text")).alias("tc"),
                    X.fingerprint_expr(F.col("text")).alias("fp"))
                .groupBy("lang")
                .agg(F.sum(F.col("tc").cast("long")).alias("total_tokens"),
                     F.countDistinct("fp").alias("n_fp")))

    def q_repetition(spark, sf):
        """Gopher-style repetition filters (functions/text.py): dup-
        token fraction + top-2-gram fraction, floor-scaled to int64
        for engine-portable comparison; keep-flag derived from the
        scaled values so both engines threshold identical integers."""
        docs = _t(spark, sf, "documents")
        dup = F.floor(X.dup_token_frac_expr(F.col("text")) * 1000000) \
               .cast("long")
        top = F.floor(X.top_bigram_frac_expr(F.col("text")) * 1000000) \
               .cast("long")
        return (docs.select("doc_id", dup.alias("dup_scaled"),
                            top.alias("topbg_scaled"))
                .withColumn("keep", (F.col("dup_scaled") <= 300000)
                            & (F.col("topbg_scaled") <= 200000)))

    def q_hash_split(spark, sf):
        """Deterministic train/val/test assignment from the stable
        doc_id key (functions/text.py split_assign_expr): pure
        per-row expression, no shuffle, stable under corpus growth."""
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            X.split_assign_expr(
                F.col("doc_id"),
                {"train": 0.8, "val": 0.1, "test": 0.1}).alias("split"))

    def q_pack_shards(spark, sf):
        """Token-budget shard packing (operators/packing.py
        pack_sequences): deterministic md5 hash-range layout, global
        token offset via a two-phase distributed prefix sum (per-range
        window cumsum + an n_ranges-row offset agg broadcast back),
        shard_id = floor(preceding-token offset / budget)."""
        from simplecrawler_spark.operators.packing import pack_sequences

        return pack_sequences(_t(spark, sf, "documents"),
                              budget_tokens=4096, n_ranges=8)

    def q_mix_rebalance(spark, sf):
        """Domain-mix rebalancing (operators/packing.py
        rebalance_mix): per-source keep probability from a tiny count
        agg (scale = min_s n_s/frac_s), selection by per-row md5
        bucket threshold — no document row shuffles, no per-source
        rank window (the skew trap at 10^10 rows)."""
        from simplecrawler_spark.operators.packing import rebalance_mix

        return rebalance_mix(_t(spark, sf, "documents"),
                             {"src0": 0.5, "src1": 0.3, "src2": 0.2})

    def q_span_dedup(spark, sf):
        """C4-style cross-document span dedup (operators/dedup.py
        span_dedup). The synthetic documents carry no newlines, so
        both engines first inject deterministic line breaks (after
        every 'table ' token) — the operator then keeps one corpus-
        wide occurrence per distinct span and reassembles documents."""
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.regexp_replace("text", "table ", "table\n").alias("text"))
        return D.span_dedup(docs, min_chars=20)

    def q_cosine_topk(spark, sf):
        emb = _t(spark, sf, "embeddings")
        dim = len(emb.select("embedding").first().embedding)
        query = [1.0] + [0.0] * (dim - 1)
        c = SIM.cosine_expr(F.col("embedding"), query)
        return (emb.select("vec_id", c.alias("c"))
                .orderBy(F.col("c").desc(), "vec_id").limit(10)
                .select("vec_id", F.floor(F.col("c") * 100000)
                        .cast("long").alias("cos_scaled")))

    def q_embedding_norms(spark, sf):
        emb = _t(spark, sf, "embeddings").where(F.col("vec_id") < 50)
        n = SIM._norm(F.col("embedding"))
        return emb.select("vec_id", F.floor(n * 1000000)
                          .cast("long").alias("norm_scaled"))

    def q_ann_lsh(spark, sf):
        """Hyperplane-LSH bucketed ANN with a full DuckDB twin: the
        md5-derived planes are deterministic, so the oracle recomputes
        the same signatures, probes the same multiprobe bucket set, and
        ranks by the same cosine (floor-scaled)."""
        emb = _t(spark, sf, "embeddings")
        query = [1.0] + [0.0] * (_EMB_DIM - 1)
        planes = SIM.hyperplanes(_EMB_DIM, _ANN_PLANES)
        q_sig = 0
        for b, plane in enumerate(planes):
            if plane[0] > 0:  # query dot = plane[0] (unit basis query)
                q_sig |= 1 << b
        probe = sorted({q_sig} | {q_sig ^ (1 << b)
                                  for b in range(_ANN_PLANES)})
        c = SIM.cosine_expr(F.col("embedding"), query)
        sig = emb.withColumn(
            "_sig", SIM.lsh_signature_expr(F.col("embedding"), planes))
        return (sig.where(F.col("_sig").isin(probe))
                .select("vec_id", c.alias("c"))
                .orderBy(F.col("c").desc(), "vec_id").limit(10)
                .select("vec_id", F.floor(F.col("c") * 100000)
                        .cast("long").alias("cos_scaled")))

    def q_cosine_pairs(spark, sf):
        emb = _t(spark, sf, "embeddings").where(F.col("vec_id") < 200)
        pairs = SIM.cosine_pairs_exact(emb, threshold=0.3)
        return pairs.select(
            "id_a", "id_b",
            F.floor(F.col("cosine") * 100000).cast("long")
            .alias("cos_scaled"))

    def q_ivf_assign(spark, sf):
        emb = _t(spark, sf, "embeddings")
        cents = SIM.ivf_centroids(emb, n_cells=8)
        return (SIM.ivf_assign(emb, cents)
                .groupBy("cell").agg(F.count("*").alias("n")))

    def q_ann_ivf_batch(spark, sf):
        """Batched IVF ANN (operators/similarity.py ann_ivf_topk_join,
        round-3 verdict item 5): top-5 neighbours for EACH of the 5
        lowest-id corpus rows used as a query TABLE, probing 2 of 8
        cells — per-query ranks on the rounded cosine with vec_id
        tie-break. The oracle replays assignment, per-query probe-cell
        selection, the cell-blocked join and the window rank in SQL."""
        emb = _t(spark, sf, "embeddings")
        queries = (emb.orderBy("vec_id").limit(5)
                   .select(F.col("vec_id").alias("query_id"), "embedding"))
        out = SIM.ann_ivf_topk_join(emb, queries, k=5, n_cells=8,
                                    nprobe=2)
        return out.select(
            "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("cosine") * 100000).cast("long")
            .alias("cos_scaled"))

    def q_semantic_dedup(spark, sf):
        """SemDeDup-style semantic dedup (operators/similarity.py
        semantic_dedup): IVF-cell blocking + pairwise keep-lowest-id
        at cosine >= 0.4 (the synthetic embeddings carry no planted
        near-dups; in-cell cosines top out ~0.49, so 0.4 exercises
        both drop and survive paths)."""
        emb = _t(spark, sf, "embeddings")
        return SIM.semantic_dedup(emb, n_cells=8, threshold=0.4)

    def q_robots_gate(spark, sf):
        """G4: stdlib-robotparser can_fetch gate vs a first-match-wins
        prefix-rule oracle (rule order matters: Allow /p/12 precedes
        Disallow /p/1, so /p/12* stays fetchable)."""
        robots_txt = ("User-agent: *\n"
                      "Allow: /p/12\n"
                      "Disallow: /p/1\n"
                      "Disallow: /q\n")
        urls = _t(spark, sf, "events").select(
            F.concat(
                F.lit("http://rb.test"),
                F.when(F.col("event_id") % 3 == 0, F.lit("/p/"))
                 .otherwise(F.lit("/q/")),
                (F.col("event_id") % 25).cast("string")).alias("url_norm"),
            "event_id")
        # authority parsed from the url, as in a frontier: a literal
        # would fold the join key away into a nested-loop join
        urls = urls.withColumn("authority",
                               F.split("url_norm", "/").getItem(2))
        rules = spark.createDataFrame([("rb.test", robots_txt)],
                                      "authority string, robots_txt string")
        from simplecrawler_spark.operators.robots import can_fetch
        return (can_fetch(urls, F.broadcast(rules), CrawlConfig())
                .select("event_id"))

    def q_image_features(spark, sf):
        """P4 with a PARTIAL oracle (round-2 verdict item 3): the
        relational residue — image_id format, fmt assignment, caption
        equality, and the decode invariants (every image decodes;
        recomputed phash equals the stored phash) — is verified
        against a pure-SQL regeneration of the deterministic corpus.
        The pixel-level residue (PSNR values, luma stats) stays
        pytest-pinned (tests/test_multimodal.py numpy recompute)."""
        from simplecrawler_spark.functions.multimodal import image_features
        from simplecrawler_spark.sources.fixtures import synthetic_corpus

        corpus = synthetic_corpus(spark, n_images=64)
        feats = image_features(corpus)
        stored = corpus.select(
            "image_id", F.col("phash").alias("phash_stored"), "caption")
        return (feats.join(stored, "image_id").select(
            "image_id", "fmt", "caption",
            F.col("decode_ok"),
            (F.col("phash") == F.col("phash_stored")).alias("phash_ok")))

    def q_aspect_buckets(spark, sf):
        """Aspect-ratio bucketing for batched image training
        (multimodal.assign_aspect_bucket): nearest SDXL-style bucket
        per image by EXACT integer rational distance — both engines
        compute the identical int64, so the argmin can never flip on
        float rounding. Dims enter the oracle as inlined literals
        (images.synth_dims replays the corpus draws)."""
        from simplecrawler_spark.functions.multimodal import (
            assign_aspect_bucket,
        )
        from simplecrawler_spark.sources.fixtures import synthetic_corpus

        return assign_aspect_bucket(synthetic_corpus(spark, n_images=256))

    def q_caption_gate(spark, sf):
        """Joint caption+image metadata gate
        (multimodal.caption_image_gate): token-count bounds on the
        caption (truncated for every 5th image so the caption gate
        actually splits), min-dimension, exact-integer aspect bound,
        and format whitelist — all metadata-only, so at scale this
        prunes BEFORE any pixel decode."""
        from simplecrawler_spark.functions.multimodal import (
            caption_image_gate,
        )
        from simplecrawler_spark.sources.fixtures import synthetic_corpus

        corpus = synthetic_corpus(spark, n_images=256).withColumn(
            "caption",
            F.when(
                F.regexp_extract("image_id", r"img_0*(\d+)", 1)
                .cast("long") % 5 == 0,
                F.substring("caption", 1, 9),
            ).otherwise(F.col("caption")))
        return caption_image_gate(corpus, min_tokens=4)

    def q_event_window_rollup(spark, sf):
        """Tumbling-window event rollup (streaming/rollup.py) run in
        BATCH mode — the identical transformation also runs as a
        Structured Streaming query with a watermark
        (stream_event_rollup); batch/stream parity is pinned by
        tests/test_streaming.py::test_stream_rollup_matches_batch.
        Value sums are floor-scaled per row BEFORE the sum (long
        arithmetic — order-independent), windows exported as epoch
        seconds."""
        from simplecrawler_spark.streaming.rollup import (
            event_window_rollup,
        )

        return event_window_rollup(_t(spark, sf, "events"))

    def q_sessionize(spark, sf):
        """Gap-based sessionization, batch twin
        (streaming/sessions.py sessionize_batch): lag + running-sum
        windows partitioned by user — one shuffle, parallel over
        keys. The applyInPandasWithState streaming twin emits the
        identical closed sessions (parity pinned by
        tests/test_streaming.py::test_stream_sessionize_matches_batch;
        stateful streaming itself is not SQL-expressible)."""
        from simplecrawler_spark.streaming.sessions import (
            sessionize_batch,
        )

        return sessionize_batch(_t(spark, sf, "events"), gap_sec=86400)

    def q_unigram_logprob(spark, sf):
        """CCNet-style LM quality scoring (operators/quality.py):
        mean unigram log-probability per document under an
        additive-smoothed model estimated from the corpus itself.
        Floor-scaled to int64 for engine-portable comparison."""
        from simplecrawler_spark.operators.quality import unigram_logprob

        docs = _t(spark, sf, "documents")
        s = unigram_logprob(docs, ln_scale=10**9)
        return s.select(
            "doc_id", "n_tokens",
            F.floor(F.col("logprob") * 1000000).cast("long")
            .alias("lp_scaled"))

    def q_bigram_logprob(spark, sf):
        """Interpolated bigram LM scoring (operators/quality.py
        bigram_logprob, λ=0.75 α=1): mean ln of the
        bigram/unigram-interpolated probability per document, model
        estimated from the corpus itself. The per-bigram ln runs once
        per distinct (doc, bigram) with a PINNED expression shape
        (identical parenthesisation in the oracle), floor-scales to
        int64, and the doc sum is long arithmetic — the
        q_unigram_logprob discipline one order up."""
        from simplecrawler_spark.operators.quality import (
            bigram_logprob,
        )

        docs = _t(spark, sf, "documents")
        s = bigram_logprob(docs, ln_scale=10**9)
        return s.select(
            "doc_id", "n_bigrams",
            F.floor(F.col("logprob") * 1000000).cast("long")
            .alias("lp_scaled"))

    def q_pagerank(spark, sf):
        """Integer-mass PageRank (operators/graph.py) over a
        deterministic 40-vertex edge set derived from orders; 3
        iterations, exact int64 masses — the oracle unrolls the same
        integer arithmetic per iteration."""
        orders = _t(spark, sf, "orders")
        edges = orders.select(
            (F.col("o_custkey") % 40).alias("src"),
            (F.col("o_orderkey") % 40).alias("dst"),
        ).where(F.col("src") != F.col("dst"))
        return G.pagerank(edges, n_iter=3)

    def q_hits(spark, sf):
        """Integer-mass HITS (operators/graph.py hits) over the same
        deterministic 40-vertex edge set as q_pagerank; 3 iterations,
        exact int64 hub/authority shares — the oracle unrolls the
        identical normalised-by-floored-quotient arithmetic."""
        orders = _t(spark, sf, "orders")
        edges = orders.select(
            (F.col("o_custkey") % 40).alias("src"),
            (F.col("o_orderkey") % 40).alias("dst"),
        ).where(F.col("src") != F.col("dst"))
        return G.hits(edges, n_iter=3)

    def q_url_traps(spark, sf):
        """Crawl-trap flags (operators/traps.py url_trap_flags): the
        query synthesises one URL per order spanning all six trap
        classes plus clean rows (identically in the oracle) and
        verifies every flag column exactly."""
        from simplecrawler_spark.operators.traps import url_trap_flags

        orders = _t(spark, sf, "orders")
        k = F.col("o_orderkey") % 7
        url = F.concat(
            F.lit("http://h"), (F.col("o_custkey") % 20).cast("string"),
            F.lit(".test"),
            F.when(k == 0, F.concat(
                F.lit("/p/"), (F.col("o_orderkey") % 100).cast("string")))
            .when(k == 1, F.lit("/a/b/c/d/e/f/g/h/i/j/k/l/m"))
            .when(k == 2, F.lit("/x/y/x/y/x"))
            .when(k == 3, F.lit("/p?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6"
                                "&p7=7&p8=8&p9=9&p10=10&p11=11"))
            .when(k == 4, F.concat(F.lit("/p?phpsessid=s"),
                                   F.col("o_orderkey").cast("string")))
            .when(k == 5, F.lit("/2024/05/2023/06"))
            .otherwise(F.concat(F.lit("/"), F.repeat(F.lit("x"), 2100))))
        df = orders.select("o_orderkey", url.alias("url"))
        return df.withColumns(url_trap_flags(F.col("url"))).select(
            "o_orderkey", "depth", "n_params", "trap_deep",
            "trap_repeat", "trap_params", "trap_session",
            "trap_calendar", "trap_long", "is_trap")

    def q_recrawl(spark, sf):
        """Freshness scheduling (operators/freshness.py
        recrawl_priority): events replay as a fetch log (user_id =
        url, event_type = content fingerprint), change-rate × age
        priority in exact int64 — the oracle twins the lag window,
        the rational λ and the staleness product."""
        from simplecrawler_spark.operators.freshness import (
            recrawl_priority,
        )

        log = _t(spark, sf, "events").select(
            F.col("user_id").alias("url_id"),
            F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
            .cast("long").alias("ts_s"),
            F.col("event_type").alias("fingerprint"),
            "event_id")
        return recrawl_priority(log, url_col="url_id", ts_col="ts_s",
                                order_cols=("event_id",))

    def q_chunk_docs(spark, sf):
        """Sliding-window training chunks (functions/text.py
        chunk_docs): 16-token windows, stride 12, chunk text hashed —
        the oracle twins the split/range/slice arithmetic."""
        docs = _t(spark, sf, "documents")
        c = X.chunk_docs(docs, chunk_tokens=16, stride=12)
        return c.select("doc_id", "chunk_id", "start_tok",
                        "n_chunk_tokens",
                        F.md5("chunk_text").alias("chunk_md5"))

    def q_sitemap(spark, sf):
        """Sitemap seed discovery (operators/parse.py
        extract_sitemap_entries): each order synthesises one urlset
        body — two entries, one optional lastmod, padded whitespace —
        identically in the oracle; extraction must match exactly."""
        from simplecrawler_spark.operators.parse import (
            extract_sitemap_entries,
        )

        orders = _t(spark, sf, "orders")
        host = (F.col("o_custkey") % 20).cast("string")
        body = F.concat(
            F.lit('<?xml version="1.0"?><urlset><url><loc> http://s'),
            host, F.lit(".test/p"),
            (F.col("o_orderkey") % 100).cast("string"),
            F.lit(" </loc>"),
            F.when(F.col("o_orderkey") % 3 == 0,
                   F.concat(F.lit("<lastmod>2024-0"),
                            ((F.col("o_orderkey") % 9) + 1)
                            .cast("string"),
                            F.lit("-01</lastmod>")))
            .otherwise(F.lit("")),
            F.lit("</url><url><loc>http://s"), host, F.lit(".test/q"),
            (F.col("o_orderkey") % 7).cast("string"),
            F.lit("</loc></url></urlset>"))
        df = orders.select("o_orderkey", body.alias("body"))
        e = extract_sitemap_entries(df, id_cols=("o_orderkey",))
        # the operator's NULL lastmod is the right API; the gate's
        # value-sort can't order None against str, so export ''
        return e.select("o_orderkey", "loc",
                        F.coalesce("lastmod", F.lit(""))
                        .alias("lastmod"))

    def q_robots_sitemaps(spark, sf):
        """Sitemap discovery from robots rule text (operators/
        robots.py sitemap_urls_expr): synthesised robots.txt bodies —
        one, two (mixed-case directives), or zero Sitemap lines per
        row — identical in the oracle; explode to (key, sitemap_url)
        rows."""
        from simplecrawler_spark.operators.robots import (
            sitemap_urls_expr,
        )

        orders = _t(spark, sf, "orders")
        host = F.concat(F.lit("http://s"),
                        (F.col("o_custkey") % 20).cast("string"),
                        F.lit(".test/"))
        k = F.col("o_orderkey") % 3
        txt = (F.when(k == 0, F.concat(
                   F.lit("User-agent: *\nDisallow: /private\n"
                         "Sitemap: "), host, F.lit("sm"),
                   (F.col("o_orderkey") % 50).cast("string"),
                   F.lit(".xml\n")))
               .when(k == 1, F.concat(
                   F.lit("sitemap: "), host, F.lit("a.xml\nSITEMAP:\t"),
                   host, F.lit("b"),
                   (F.col("o_orderkey") % 9).cast("string"),
                   F.lit(".xml")))
               .otherwise(F.lit("User-agent: *\nDisallow:")))
        df = orders.select(
            "o_orderkey", sitemap_urls_expr(txt).alias("_sms"))
        return df.select(
            "o_orderkey",
            F.explode("_sms").alias("sitemap_url"))

    def q_anchor_text(spark, sf):
        """Anchor-text aggregation (operators/parse.py
        anchor_text_agg): synthesised (href, text) pairs — hot targets
        collect several competing strings — aggregated to the modal
        anchor per target with exact (count DESC, text ASC)
        tie-breaks; the oracle twins the two-level agg + window.
        (The HTML→pairs extraction itself is the Arrow-batch stdlib
        parser, pinned by tests/test_parse.py::test_anchor_*.)"""
        from simplecrawler_spark.operators.parse import anchor_text_agg

        li = _t(spark, sf, "lineitem")
        pairs = li.select(
            F.concat(F.lit("/t"),
                     (F.col("l_orderkey") % 30).cast("string"))
            .alias("href"),
            F.element_at(
                F.array(F.lit("click here"), F.lit("read more"),
                        F.lit("details"), F.lit("home")),
                ((F.col("l_partkey") % 4) + 1).cast("int"))
            .alias("text"))
        return anchor_text_agg(pairs)

    def q_host_backoff(spark, sf):
        """Per-host error-rate circuit breaker (operators/
        politeness.py host_backoff): events replay as fetch results —
        'error' events map to NULL/429/5xx statuses, the rest to
        2xx/3xx — exact integer error rate + breaker flag."""
        from simplecrawler_spark.operators.politeness import (
            host_backoff,
        )

        ev = _t(spark, sf, "events")
        status = (F.when(F.col("event_type") == "error",
                         F.when(F.col("event_id") % 3 == 0,
                                F.lit(None).cast("long"))
                         .when(F.col("event_id") % 3 == 1, F.lit(429))
                         .otherwise(F.lit(503)))
                  .when(F.col("event_type") == "view", F.lit(301))
                  .otherwise(F.lit(200)))
        results = ev.select(
            F.col("user_id").cast("string").alias("host"),
            status.alias("status"))
        return host_backoff(results, threshold_scaled=300_000,
                            min_fetches=5)

    def q_sniff_format(spark, sf):
        """Magic-number payload sniffing (functions/multimodal.py
        sniff_format_expr): binary payloads synthesised from hex —
        every format class plus truncated/garbage rows — identically
        in the oracle (both engines compare the hexed 16-byte
        prefix)."""
        from simplecrawler_spark.functions.multimodal import (
            sniff_format_expr,
        )

        orders = _t(spark, sf, "orders")
        k = F.col("o_orderkey") % 7
        tail = F.hex(F.concat(
            F.lit("t"), (F.col("o_custkey") % 97).cast("string")))
        hexes = (F.when(k == 0, F.concat(F.lit("FFD8FFE0"), tail))
                 .when(k == 1, F.concat(F.lit("89504E470D0A1A0A"),
                                        tail))
                 .when(k == 2, F.concat(F.lit("474946383961"), tail))
                 .when(k == 3, F.concat(F.lit("52494646AABBCCDD"
                                              "57454250"), tail))
                 .when(k == 4, F.concat(F.lit("424D"), tail))
                 .when(k == 5, tail)            # garbage
                 .otherwise(F.lit("FF")))       # truncated 1 byte
        df = orders.select("o_orderkey",
                           F.unhex(hexes).alias("payload"))
        return df.select(
            "o_orderkey",
            sniff_format_expr(F.col("payload")).alias("fmt_sniffed"))

    def q_surt_keys(spark, sf):
        """SURT index keys (functions/canonical.py surt_key_expr)
        over the canonicalised dirty-URL fixture: the oracle rebuilds
        the same reversed-host)/path?query key from the known
        canonical form — every key byte-exact."""
        from simplecrawler_spark.functions.canonical import (
            surt_key_expr,
        )

        urls = canonicalize_df(_dirty_urls(_t(spark, sf, "orders")))
        return (urls.select(
            "url_norm",
            surt_key_expr(F.col("host"), F.col("path"),
                          F.col("query")).alias("surt"))
            .groupBy("url_norm", "surt")
            .agg(F.count("*").alias("n")))

    def q_redact_pii(spark, sf):
        """PII scrub (functions/text.py redact_pii_exprs): the
        synthetic docs carry no PII, so the query injects a
        deterministic email + phone + IPv4 per doc (identically in
        the oracle) and verifies counts plus the redacted text md5."""
        docs = _t(spark, sf, "documents")
        # fixed-width phone tail (ADVICE r3): the last group is always
        # 2 digits, so '+1-555-01xx' matches PII_PHONE's \d{3,4}\b for
        # EVERY doc_id — each row exercises the phone redaction path
        injected = F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"))
        e = X.redact_pii_exprs(injected)
        return docs.select(
            "doc_id", e["n_emails"].alias("n_emails"),
            e["n_ipv4"].alias("n_ipv4"),
            e["n_phones"].alias("n_phones"),
            F.md5(e["text_redacted"]).alias("redacted_md5"))

    def q_quality_buckets(spark, sf):
        """CCNet-style head/middle/tail bucketing per source
        (operators/quality.py quality_buckets): score-grain terciles
        over the quantised unigram logprob — the window runs on the
        per-source score HISTOGRAM, never a row-grain ntile sort."""
        from simplecrawler_spark.operators.quality import quality_buckets

        docs = _t(spark, sf, "documents")
        b = quality_buckets(docs, n_buckets=3)
        return b.select(
            "doc_id", "source", "bucket",
            F.floor(F.col("logprob") * 1000000).cast("long")
            .alias("lp_scaled"))

    def q_ngram_topk(spark, sf):
        """Corpus vocabulary builder (operators/retrieval.py
        ngram_topk): top-50 bigrams by count, deterministic tie-break
        (count DESC, gram ASC). One combinable count agg + TakeOrdered
        — no global sort shuffle."""
        from simplecrawler_spark.operators.retrieval import ngram_topk

        return ngram_topk(_t(spark, sf, "documents"), n=2, k=50)

    def q_bm25(spark, sf):
        """Okapi BM25 retrieval scoring (operators/retrieval.py
        bm25_score) against a fixed probe query; per-(doc,term) score
        floor-scaled to int64 before the sum (order-independent long
        arithmetic — the quality.unigram_logprob discipline). 'quantum'
        never occurs, exercising the df=0 no-contribution path."""
        from simplecrawler_spark.operators.retrieval import bm25_score

        docs = _t(spark, sf, "documents")
        s = bm25_score(docs, ["spark", "join", "window", "quantum"],
                       ln_scale=10**9)
        return s.select(
            "doc_id", "n_tokens",
            F.floor(F.col("bm25") * 1000000).cast("long")
            .alias("bm25_scaled"))

    def q_stratified_sample(spark, sf):
        """Deterministic per-source sample (operators/retrieval.py
        stratified_sample): the 20 smallest-md5(doc_id) rows per
        source — uniform in expectation, exactly reproducible, stable
        under corpus growth (a doc's rank key never changes)."""
        from simplecrawler_spark.operators.retrieval import (
            stratified_sample,
        )

        docs = _t(spark, sf, "documents")
        return (stratified_sample(docs, n_per_group=20)
                .select("doc_id", "source", "sample_rank"))

    def q_caption_dups(spark, sf):
        """LAION-style caption-collision clustering on the image
        corpus (functions/multimodal.py caption_dup_clusters):
        captions are re-synthesised from a 40-value base pool (~6-7
        images per base) with the per-image '#<k>' tag kept, so the
        operator's normalisation (lowercase, strip tag, collapse
        whitespace) is what actually produces the collisions."""
        from simplecrawler_spark.functions import images as I
        from simplecrawler_spark.functions.multimodal import (
            caption_dup_clusters,
        )
        from simplecrawler_spark.sources.fixtures import synthetic_corpus

        corpus = synthetic_corpus(spark, n_images=256)
        k = (F.regexp_extract("image_id", r"img_0*(\d+)", 1)
             .cast("long"))
        k2 = k % 40
        adj = F.array(*[F.lit(a) for a in I._ADJ])
        noun = F.array(*[F.lit(a) for a in I._NOUN])
        verb = F.array(*[F.lit(a) for a in I._VERB])
        cap = F.concat(
            F.lit("a "),
            F.element_at(adj, (k2 % 8 + 1).cast("int")), F.lit(" "),
            F.element_at(noun, (F.floor(k2 / 8).cast("long") % 8 + 1)
                         .cast("int")), F.lit(" "),
            F.element_at(verb, (F.floor(k2 / 64).cast("long") % 8 + 1)
                         .cast("int")),
            F.lit(" #"), F.lpad(k.cast("string"), 8, "0"))
        return caption_dup_clusters(corpus.withColumn("caption", cap))

    def q_sq8_topk(spark, sf):
        """Scalar-quantised (SQ8) approximate cosine top-k
        (operators/similarity.py sq8_cosine_topk): per-dimension
        min/max bounds → int8 codes → bin-centre reconstruction →
        cosine vs the unit-basis query. The 4x-smaller code column is
        what scans at 10^10-vector scale; the oracle recomputes
        bounds, codes and the reconstruction in SQL with list-ordered
        sums (DuckDB list_aggregate matches Spark's left fold)."""
        emb = _t(spark, sf, "embeddings")
        query = [1.0] + [0.0] * (_EMB_DIM - 1)
        return SIM.sq8_cosine_topk(emb, query, k=10)

    def q_image_dedup_cluster(spark, sf):
        """pHash near-dup CLUSTERING end-to-end on images: planted
        perturbed copies (fixtures.near_dup_corpus) → banded Hamming
        pairs (dedup.fingerprint_near_dup, exact recall by pigeonhole)
        → connected components → one survivor per cluster. The oracle
        twin re-runs the band/Hamming/CC relational logic in SQL over
        the same deterministic (id, phash) rows inlined as literals
        (the phash computation itself is pinned by q_image_features'
        phash_ok and tests/test_images.py)."""
        from simplecrawler_spark.sources.fixtures import near_dup_corpus

        corpus = near_dup_corpus(spark, n_images=48)
        fp = corpus.select(
            F.regexp_extract("image_id", r"img_0*(\d+)", 1)
            .cast("long").alias("doc_id"), "phash")
        pairs = D.fingerprint_near_dup(fp, fp_col="phash",
                                       max_hamming=6, n_bits=64)
        return D.connected_components(pairs.select("id_a", "id_b"))

    def q_clip_gate(spark, sf):
        """LAION-style CLIP image–text alignment gate
        (functions/multimodal.clip_alignment_gate): every 4th pair
        gets a deliberately mismatched caption embedding (the
        (vec_id+37) mod N row), the rest are self-paired (alignment
        ~1.0) — so the 0.3 threshold exercises both keep and drop.
        Both engines compute the identical double expression
        (sequential dot / norm product — the q_semantic_dedup float
        discipline), so the threshold decision never flips; the
        exported score is floor-scaled."""
        from simplecrawler_spark.functions.multimodal import (
            clip_alignment_gate,
        )

        emb = _t(spark, sf, "embeddings")
        n = emb.count()
        txt = emb.select(F.col("vec_id").alias("txt_id"),
                         F.col("embedding").alias("txt_emb"))
        pairs = (emb.select(
            "vec_id", F.col("embedding").alias("img_emb"),
            F.when(F.col("vec_id") % 4 == 0,
                   (F.col("vec_id") + 37) % n)
            .otherwise(F.col("vec_id")).alias("txt_id"))
            .join(txt, "txt_id"))
        out = clip_alignment_gate(pairs, id_col="vec_id", threshold=0.3)
        return out.select(
            "vec_id",
            F.floor(F.col("alignment") * 100000).cast("long")
            .alias("cos_scaled"),
            "keep")

    def q_blocklist(spark, sf):
        """C4-style domain blocklist gate (operators/traps.py
        blocklist_gate): hosts synthesised across a blocked ad
        subdomain zone, a blocked parent domain, and a clean zone
        with one exact-host entry — exercises subdomain suffix
        matching, longest-match (most-specific) reporting, and the
        keep flag. Suffix explode + equi hash join in both engines,
        never a LIKE join."""
        from simplecrawler_spark.operators.traps import blocklist_gate

        ev = _t(spark, sf, "events")
        host = F.concat(
            F.lit("h"), (F.col("event_id") % 50).cast("string"),
            F.when(F.col("event_id") % 3 == 0, F.lit(".ads.example.com"))
            .when(F.col("event_id") % 3 == 1, F.lit(".example.com"))
            .otherwise(F.lit(".clean.org")))
        urls = ev.select("event_id", F.concat(F.lit("http://"), host,
                                              F.lit("/p")).alias("url"))
        bl = spark.createDataFrame(
            [("ads.example.com",), ("example.com",), ("tracker.net",),
             ("h7.clean.org",)], "domain string")
        out = blocklist_gate(urls, bl)
        # NULL-free export: the driver's rowset sort can't order
        # NULL-vs-str; clean rows export '' (keep carries the signal)
        return out.select(
            "event_id", "url",
            F.coalesce("blocked_domain", F.lit(""))
            .alias("blocked_domain"), "keep")

    def q_boilerplate(spark, sf):
        """CCNet-style line-level boilerplate removal
        (operators/quality.py strip_boilerplate): deterministic
        injections give every doc a per-source footer (boilerplate in
        every group), every 3rd doc a shared subscribe banner
        (boilerplate once >= 3 docs of a source carry it), and every
        7th a 5-char line under the min_line_chars=6 exemption (kept
        even though frequent). Body lines are unique and survive.
        Cleaned text exports as md5 — the full reassembled string is
        compared, not just counts."""
        from simplecrawler_spark.operators.quality import (
            strip_boilerplate,
        )

        docs = _t(spark, sf, "documents")
        text2 = F.concat(
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("SUBSCRIBE TO OUR NEWSLETTER\n"))
            .otherwise(F.lit("")),
            F.col("text"),
            F.lit("\n(c) 2026 "), F.col("source"),
            F.lit(" media group"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("\nshort"))
            .otherwise(F.lit("")))
        injected = docs.select("doc_id", "source", text2.alias("text"))
        out = strip_boilerplate(injected, min_docs=3, min_line_chars=6)
        return out.select(
            "doc_id", "source", "n_lines", "n_stripped",
            F.md5("text_clean").alias("clean_md5"))

    def q_epochs(spark, sf):
        """Weighted epoch assembly (operators/packing.py
        assemble_epochs): src0 x2.25 (integer copies + md5-bucket
        fractional 3rd copy), src1 x1, src2 x0.5 (downsample), src3
        x3 (pure upsample); other sources dropped. Both engines
        replay the identical md5 bucket + copy fan-out + order-key
        derivation, so the full (id, copy, order_key) rowset
        hash-matches."""
        from simplecrawler_spark.operators.packing import (
            assemble_epochs,
        )

        docs = _t(spark, sf, "documents")
        return assemble_epochs(
            docs, {"src0": 2.25, "src1": 1.0, "src2": 0.5, "src3": 3.0})

    def q_warc(spark, sf):
        """WARC source roundtrip (sources/warc.py): format one
        text-mode WARC archive per source from the documents table
        (records concatenated in doc_id order), then parse the
        archives back into records — header fields, Content-Length
        payload carve, and per-archive record numbering all verified;
        the payload survives byte-exact (md5 of the carved payload ==
        md5 of the original text, including multiline bodies)."""
        from simplecrawler_spark.sources.warc import (
            parse_warc_text, warc_record_expr,
        )

        docs = _t(spark, sf, "documents")
        rec = warc_record_expr(
            F.lit("response"),
            F.concat(F.lit("http://site/"),
                     F.col("doc_id").cast("string")),
            F.lit("2026-01-01T00:00:00Z"), F.col("text"))
        arch = (docs.select(F.col("source").alias("file_id"),
                            "doc_id", rec.alias("r"))
                .groupBy("file_id")
                .agg(F.array_join(F.transform(F.array_sort(
                    F.collect_list(F.struct("doc_id", "r"))),
                    lambda s: s.r), "").alias("content")))
        out = parse_warc_text(arch)
        return out.select(
            "file_id", "record_no", "warc_type", "url",
            "content_length", F.md5("payload").alias("payload_md5"))

    def q_warc_bytes(spark, sf):
        """Byte-mode WARC reader (sources/warc.py parse_warc_bytes):
        archives are BINARY, Content-Length counts OCTETS, and every
        9th payload embeds a decoy 'WARC/1.0' version line — the two
        cases text-mode marker splitting cannot represent. Every
        payload gets a multi-byte suffix (' — café №<id>') so octet
        length != char length on every row; the oracle recomposes the
        expected record table directly from documents
        (expected-composition discipline, q_wet) via
        octet_length(encode(...)), with DuckDB's md5-of-UTF-8 equal
        to Spark's md5 over the carved binary payload."""
        from simplecrawler_spark.sources.warc import (
            parse_warc_bytes, warc_record_bytes_expr,
        )

        docs = _t(spark, sf, "documents")
        payload = F.concat(
            F.col("text"), F.lit(" — café №"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 9 == 0,
                   F.lit("\nWARC/1.0\nWARC-Type: decoy\n\n"
                         "not a record"))
            .otherwise(F.lit("")))
        rec = warc_record_bytes_expr(
            F.lit("response"),
            F.concat(F.lit("http://site/"),
                     F.col("doc_id").cast("string")),
            F.lit("2026-01-01T00:00:00Z"), F.encode(payload, "UTF-8"))
        arch = (docs.select(F.col("source").alias("file_id"), "doc_id",
                            rec.alias("r"))
                .groupBy("file_id")
                .agg(F.aggregate(F.transform(F.array_sort(
                    F.collect_list(F.struct("doc_id", "r"))),
                    lambda s: s.r), F.lit(b""),
                    lambda acc, x: F.concat(acc, x)).alias("content")))
        out = parse_warc_bytes(arch)
        return out.select(
            "file_id", "record_no", "warc_type", "url",
            "content_length", F.md5("payload").alias("payload_md5"))

    def q_wet(spark, sf):
        """WET-style visible-text extraction (operators/parse.py
        extract_visible_text): each doc's text is wrapped in a full
        HTML page — title, script AND style payloads (must vanish),
        an entity-bearing heading (&amp; must unescape), an inline
        anchor (must contribute its text, no break) — and the
        extractor's output is compared against the EXPECTED extraction
        composed directly in SQL (partial-oracle discipline, like
        q_image_features: the parse itself is stdlib-parser Python,
        the relational residue is exact). Fixture texts are
        HTML-char-free (verified), so composition is exact."""
        from simplecrawler_spark.operators.parse import (
            extract_visible_text,
        )

        docs = _t(spark, sf, "documents")
        d = F.col("doc_id").cast("string")
        html = F.concat(
            F.lit("<html><head><title>Doc "), d,
            F.lit("</title><script>var x = 1;</script>"
                  "<style>p{color:red}</style></head><body><h1>Doc "),
            d, F.lit(" &amp; heading</h1><p>"), F.col("text"),
            F.lit('</p><p>Visit <a href="/x">link '), d,
            F.lit("</a> now.</p></body></html>"))
        out = docs.select(
            "doc_id", extract_visible_text(html).alias("wet"))
        return out.select(
            "doc_id", F.length("wet").cast("long").alias("n_chars"),
            F.md5("wet").alias("wet_md5"))

    def q_bpe_pairs(spark, sf):
        """BPE training statistics (functions/bpe.py pair_counts over
        word_freqs): adjacent-symbol-pair counts weighted by word
        frequency — iteration 0 of the merge loop, the corpus-scale
        half of tokenizer training. Top 40 by (count desc, pair asc)
        — the same deterministic tie-break bpe_train uses. The merge
        LOOP itself is bounded driver state and pytest-pinned
        (tests/test_bpe.py), the IVF-k-means/PQ boundary."""
        from simplecrawler_spark.functions import bpe

        docs = _t(spark, sf, "documents")
        pc = bpe.pair_counts(bpe.word_freqs(docs))
        return (pc.orderBy(F.col("pair_count").desc(), "a", "b")
                .limit(40).select("a", "b", "pair_count"))

    def q_gopher(spark, sf):
        """Gopher document-shape rules (operators/quality.py
        gopher_rules): injections plant each failure mode — every 7th
        doc becomes a bullet line (bullet_ok), every 5th gains
        '#'/'...' symbol spam (symbol_ok), every 4th gains extra
        stopwords — and every ratio is an exact int64
        cross-multiplication, so no flag can flip between engines."""
        from simplecrawler_spark.operators.quality import gopher_rules

        docs = _t(spark, sf, "documents")
        text2 = F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.lit("- "))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(" of the data have")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" ## ... ## ... ## ... ## ..."))
            .otherwise(F.lit("")))
        return gopher_rules(
            docs.select("doc_id", text2.alias("text")), min_words=10)

    def q_gopher_rep(spark, sf):
        """Gopher repetition rules (operators/quality.py
        gopher_repetition — the line/paragraph half of Rae et al.
        Table A1): synthesised multi-line, multi-paragraph docs with
        planted repetition — every 4th doc repeats a line, every 5th
        repeats a whole paragraph, every 7th repeats the lead
        paragraph twice more. Spark counts duplicates per row by
        sorted adjacency; the oracle recomputes them relationally
        (per-unit GROUP BY: dup = sum(c-1), dup chars =
        sum((c-1)*len)) — same totals, and every flag is an exact
        int64 cross-multiplication."""
        from simplecrawler_spark.operators.quality import (
            gopher_repetition,
        )

        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")
        l1 = F.concat(F.lit("Intro line "), d.cast("string"))
        l2 = F.substring(F.col("text"), 1, 60)
        para1 = F.concat(l1, F.lit("\n"), l2)
        para2 = F.concat(F.lit("Body "),
                         F.substring(F.col("text"), 5, 40))
        text2 = F.concat(
            para1, F.lit("\n\n"), para2,
            F.when(d % 4 == 0, F.concat(F.lit("\n"), l2))
            .otherwise(F.lit("")),
            F.when(d % 5 == 0, F.concat(F.lit("\n\n"), para2))
            .otherwise(F.lit("")),
            F.when(d % 7 == 0,
                   F.concat(F.lit("\n\n"), para1, F.lit("\n\n"),
                            para1))
            .otherwise(F.lit("")))
        return gopher_repetition(
            docs.select("doc_id", text2.alias("text")))

    def q_c4(spark, sf):
        """C4 line+doc cleaning rules (operators/quality.py
        c4_line_rules): synthesised multi-line docs exercise the
        terminal-punctuation/min-words line gate, the javascript
        line drop (every 6th doc), and the '{' / 'lorem ipsum'
        whole-doc drops (every 9th / 11th); cleaned text exports as
        md5."""
        from simplecrawler_spark.operators.quality import c4_line_rules

        docs = _t(spark, sf, "documents")
        text2 = F.concat(
            F.lit("This sentence about "), F.col("source"),
            F.lit(" has plenty of words.\nshort line\n"),
            F.col("text"), F.lit("."),
            F.lit("\nHere is another complete sentence with "
                  "enough words."),
            F.when(F.col("doc_id") % 6 == 0,
                   F.lit("\nEnable javascript to view comments on "
                         "this page.")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 9 == 0,
                   F.lit("\nif (x) { return }")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit("\nLorem ipsum dolor sit amet text filler."))
            .otherwise(F.lit("")))
        out = c4_line_rules(docs.select("doc_id", text2.alias("text")))
        return out.select(
            "doc_id", "n_lines", "n_kept", "has_brace", "has_lorem",
            "keep", F.md5("text_clean").alias("clean_md5"))

    def q_rrf(spark, sf):
        """Reciprocal-rank fusion (operators/retrieval.py rrf_fuse):
        two deterministic md5-ordered top-20 rankings over a 30-doc
        pool (pigeonhole: >= 10 ids land in BOTH lists, so the
        accumulation path is exercised alongside singletons) fused
        with k=60; each term is floor(1e12/(k+rank)) in int64 —
        exact and order-independent, so the fused scores hash-match
        across engines."""
        from pyspark.sql import Window

        from simplecrawler_spark.operators.retrieval import rrf_fuse

        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 30)

        def ranking(salt):
            k = F.md5(F.concat(F.lit(salt),
                               F.col("doc_id").cast("string")))
            top = (docs.select("doc_id", k.alias("_k"))
                   .orderBy("_k", "doc_id").limit(20))
            return top.select(
                "doc_id",
                F.row_number().over(
                    Window.orderBy("_k", "doc_id")).alias("rank"))

        fused = rrf_fuse([ranking(""), ranking("b|")], k=60)
        return fused.select("doc_id", "rrf_scaled", "n_lists")

    def q_recall_at_k(spark, sf):
        """ANN recall evaluation (operators/retrieval.py
        recall_at_k): four queries over a 40-doc pool, exact and
        approximate top-15 lists drawn by deterministic md5 ranking
        (q_rrf discipline); query 0's approximate list IS the exact
        list (recall must be exactly 1e6 ppm), the others overlap
        partially. recall_ppm is int64 DIV — no float crosses
        engines; the semi-join hit count can't double-count."""
        from pyspark.sql import Window

        from simplecrawler_spark.operators.retrieval import (
            recall_at_k,
        )

        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 40)
        qs = spark.range(4).select(
            F.col("id").cast("long").alias("query_id"))
        pool = docs.select("doc_id").crossJoin(qs)

        def ranking(tag_expr):
            key = F.md5(F.concat(
                tag_expr, F.lit("|"),
                F.col("query_id").cast("string"), F.lit("|"),
                F.col("doc_id").cast("string")))
            w = Window.partitionBy("query_id").orderBy(
                key.asc(), F.col("doc_id").asc())
            return (pool.withColumn("rank", F.row_number().over(w))
                    .where(F.col("rank") <= 15)
                    .select("query_id", "doc_id"))

        exact = ranking(F.lit("e"))
        approx = ranking(
            F.when(F.col("query_id") == 0, F.lit("e"))
            .otherwise(F.lit("a")))
        return recall_at_k(approx, exact, query_col="query_id",
                           id_col="doc_id")

    def q_temperature(spark, sf):
        """Temperature mixture shares (operators/packing.py
        temperature_weights, τ=0.7 — the XLM-R multilingual sampling
        rule): one pow per source floored to int64, shares by integer
        DIV — the only float op is pow over a handful of source
        counts."""
        from simplecrawler_spark.operators.packing import (
            temperature_weights,
        )

        return temperature_weights(_t(spark, sf, "documents"),
                                   tau=0.7)

    def q_ndcg(spark, sf):
        """Rank-aware retrieval eval (operators/retrieval.py
        ndcg_at_k): md5-ranked top-10 per query over a 30-doc pool,
        graded relevance (doc+query) % 4; each discount term is
        floor(scale·rel/log2(rank+1)) in int64 and DCG/IDCG/ndcg_ppm
        are exact long arithmetic — the recall_at_k discipline with
        position weighting."""
        from pyspark.sql import Window

        from simplecrawler_spark.operators.retrieval import ndcg_at_k

        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 30)
        qs = spark.range(4).select(
            F.col("id").cast("long").alias("query_id"))
        pool = docs.select("doc_id").crossJoin(qs)
        key = F.md5(F.concat(
            F.lit("r|"), F.col("query_id").cast("string"),
            F.lit("|"), F.col("doc_id").cast("string")))
        w = Window.partitionBy("query_id").orderBy(
            key.asc(), F.col("doc_id").asc())
        ranked = (pool.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= 10)
                  .select("query_id", F.col("doc_id").alias("id"),
                          "rank"))
        rels = pool.select(
            "query_id", F.col("doc_id").alias("id"),
            ((F.col("doc_id") + F.col("query_id")) % 4)
            .cast("long").alias("rel"))
        return ndcg_at_k(ranked, rels, k=10)

    def q_corpus_stats(spark, sf):
        """Per-source dataset-card statistics (operators/quality.py
        corpus_stats): doc/token/char volume, exact distinct
        fingerprints, language hits, quality passes — the
        mixture-planning table. One source-grain shuffle of counts +
        one of (source, fingerprint) hashes."""
        from simplecrawler_spark.operators.quality import corpus_stats

        return corpus_stats(_t(spark, sf, "documents"))

    def q_meta_robots(spark, sf):
        """<meta name=robots> directives (operators/parse.py
        meta_robots_expr): fixtures cover both attribute orders,
        unquoted/uppercase names, the 'none' alias (= both flags),
        a non-robots meta that must NOT match, and pages with no
        meta at all. Same regexes + directive-list normalisation in
        both engines."""
        from simplecrawler_spark.operators.parse import (
            meta_robots_expr,
        )

        ev = _t(spark, sf, "events")
        m = F.col("event_id") % 5
        body = F.concat(
            F.lit("<html><head>"),
            F.when(m == 0, F.lit('<meta name="robots" '
                                 'content="noindex, nofollow">'))
            .when(m == 1, F.lit("<meta content='nofollow' "
                                "name=robots>"))
            .when(m == 2, F.lit('<meta name=ROBOTS content="NONE">'))
            .when(m == 3, F.lit('<meta name="description" '
                                'content="noindex">'))
            .otherwise(F.lit("")),
            F.lit("</head><body>page</body></html>"))
        flags = meta_robots_expr(body)
        return ev.select("event_id",
                         flags["noindex"].alias("noindex"),
                         flags["nofollow"].alias("nofollow"))

    def q_diversity(spark, sf):
        """Source-mixture diversity (operators/quality.py
        source_diversity): Shannon entropy of the source distribution
        with one floor-scaled ln per source, long sums, integer DIV —
        h_scaled exactly reproducible; effective source count is the
        one pinned-shape float, milli-floored."""
        from simplecrawler_spark.operators.quality import (
            source_diversity,
        )

        return source_diversity(_t(spark, sf, "documents"))

    def q_readability(spark, sf):
        """Flesch–Kincaid readability (operators/quality.py
        readability_scores): sentence/word/syllable counts are exact
        integers (vowel-group heuristic, 1-per-word floor, min 1
        sentence), the grade is the one float — pinned expression
        shape, milli-scaled by floor in both engines."""
        from simplecrawler_spark.operators.quality import (
            readability_scores,
        )

        docs = _t(spark, sf, "documents")
        return (readability_scores(docs)
                .where(F.col("n_words") > 0))

    def q_url_features(spark, sf):
        """URL-shape quality features (operators/traps.py
        url_quality_features): four URL shapes (dated post path, deep
        path, parameterised item, bare root) across plain/www.blog/
        shop hosts and .com/.co.uk endings — host, top-level label,
        subdomain count, lengths, depth, parameter and digit counts,
        all exact integers/lowercase strings recomputed with the same
        regexes in SQL. (tld is the last host LABEL — naive, not
        public-suffix; '.co.uk' yields 'uk' in both engines by
        construction.)"""
        from simplecrawler_spark.operators.traps import (
            url_quality_features,
        )

        orders = _t(spark, sf, "orders")
        m = F.col("o_orderkey") % 4
        url = F.concat(
            F.lit("http://"),
            F.when(F.col("o_custkey") % 3 == 0, F.lit("www.blog."))
            .when(F.col("o_custkey") % 3 == 1, F.lit("shop."))
            .otherwise(F.lit("")),
            F.lit("site"), (F.col("o_custkey") % 20).cast("string"),
            F.when(m == 3, F.lit(".co.uk")).otherwise(F.lit(".com")),
            F.when(m == 0, F.concat(
                F.lit("/post/2024/"),
                (F.col("o_orderkey") % 100).cast("string")))
            .when(m == 1, F.lit("/a/b/c/d/e"))
            .when(m == 2, F.concat(
                F.lit("/item"),
                (F.col("o_orderkey") % 1000).cast("string"),
                F.lit("?id="), (F.col("o_custkey") % 50).cast("string"),
                F.lit("&ref=rss")))
            .otherwise(F.lit("/")))
        feats = url_quality_features(url)
        return orders.select(
            "o_orderkey", url.alias("url"),
            feats["host"].alias("host"), feats["tld"].alias("tld"),
            feats["n_subdomains"].alias("n_subdomains"),
            feats["url_len"].alias("url_len"),
            feats["path_len"].alias("path_len"),
            feats["path_depth"].alias("path_depth"),
            feats["n_params"].alias("n_params"),
            feats["n_digits"].alias("n_digits"))

    def q_rel_canonical(spark, sf):
        """rel=canonical extraction + canonical grouping
        (operators/parse.py rel_canonical_expr): pages declare
        canonicals in three syntactic forms (rel-first quoted,
        href-first with unquoted rel, single-quoted href) plus a
        stylesheet-link distractor page with none; the corpus then
        groups on coalesce(canonical, url) — the dedup key search
        engines apply before any content hash. Same two regexes and
        the same grouping in both engines."""
        from simplecrawler_spark.operators.parse import (
            rel_canonical_expr,
        )

        ev = _t(spark, sf, "events")
        m = F.col("event_id") % 4
        tgt = F.concat(F.lit("http://s/c"),
                       (F.col("event_id") % 7).cast("string"))
        link = (
            F.when(m == 0, F.concat(
                F.lit('<link rel="canonical" href="'), tgt,
                F.lit('">')))
            .when(m == 1, F.concat(
                F.lit('<link href="'), tgt, F.lit('" rel=canonical>')))
            .when(m == 2, F.concat(
                F.lit("<link rel=canonical href='"), tgt,
                F.lit("'>")))
            .otherwise(F.lit('<link rel="stylesheet" '
                             'href="/x.css">')))
        body = F.concat(F.lit("<html><head>"), link,
                        F.lit("</head><body>p</body></html>"))
        url = F.concat(F.lit("http://s/p"),
                       (F.col("event_id") % 50).cast("string"))
        pages = ev.select(url.alias("url"),
                          rel_canonical_expr(body).alias("canon"))
        return (pages
                .groupBy(F.coalesce("canon", "url").alias("canon_key"))
                .agg(F.count("*").cast("long").alias("n_pages")))

    def q_mojibake(spark, sf):
        """Mojibake repair (functions/text.py fix_mojibake_expr):
        every even doc gains the classic UTF-8-read-as-cp1252
        artifacts (CafÃ©, â€œdonâ€™t, Ã±oÃ±o, Â£) — repaired text
        md5-compared against the oracle running the IDENTICAL ordered
        replace chain (mojibake_sql emits it, so the two engines
        can't drift); odd docs pin the no-op path (had_mojibake
        false, text unchanged)."""
        from simplecrawler_spark.functions.text import (
            fix_mojibake_expr,
        )

        docs = _t(spark, sf, "documents")
        text2 = F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit(" CafÃ© â€œdonâ€™t â€¦ Ã±oÃ±o Â£5"))
            .otherwise(F.lit(" clean tail")))
        fixed = fix_mojibake_expr(text2)
        return docs.select(
            "doc_id", F.md5(fixed).alias("fixed_md5"),
            (fixed != text2).alias("had_mojibake"))

    def q_charset_meta(spark, sf):
        """Declared charset + language (operators/parse.py
        html_charset_expr / html_lang_expr): fixtures cover the HTML5
        meta-charset form (quoted), the unquoted/uppercase form, the
        http-equiv Content-Type parameter form, a lang-only page
        (uppercase attr + value), and a bare page (both NULL); lang
        reduces to the primary subtag ('en-US' → 'en'). Same regexes
        both engines."""
        from simplecrawler_spark.operators.parse import (
            html_charset_expr, html_lang_expr,
        )

        ev = _t(spark, sf, "events")
        m = F.col("event_id") % 5
        body = F.concat(
            F.when(m == 0, F.lit('<html lang="en-US"><head>'
                                 '<meta charset="utf-8"></head>'))
            .when(m == 1, F.lit('<html><head>'
                                '<meta charset=ISO-8859-1 ></head>'))
            .when(m == 2, F.lit('<html lang=fr><head><meta '
                                'http-equiv="Content-Type" content='
                                '"text/html; charset=windows-1252">'
                                '</head>'))
            .when(m == 3, F.lit('<html LANG=DE><head></head>'))
            .otherwise(F.lit("<html><head></head>")),
            F.lit("<body>x</body></html>"))
        # '-' sentinel: the driver's rowset sort can't order NULLs
        return ev.select(
            "event_id",
            F.coalesce(html_charset_expr(body),
                       F.lit("-")).alias("charset"),
            F.coalesce(html_lang_expr(body), F.lit("-")).alias("lang"))

    def q_alloc_budget(spark, sf):
        """Largest-remainder crawl-budget apportionment
        (operators/politeness.py allocate_budget): 1000 fetch units
        across 37 hosts weighted by event volume — exact int64
        div/mod quotas, leftover units to the largest remainders
        with (rem desc, host asc) tie-break; Σbudget == 1000 by
        construction in both engines."""
        from simplecrawler_spark.operators.politeness import (
            allocate_budget,
        )

        ev = _t(spark, sf, "events")
        hosts = (ev.select(
            F.concat(F.lit("h"), (F.col("event_id") % 37)
                     .cast("string")).alias("host"))
            .groupBy("host").agg(F.count("*").alias("weight")))
        return allocate_budget(hosts, total_budget=1000)

    def q_pack_images(spark, sf):
        """Byte-budget image shard packing (operators/packing.py
        pack_weighted — the webdataset case): the 256-image corpus
        packed into ~8 MB pixel-byte shards (weight = w*h*3, exact
        from metadata — no decode) in the deterministic md5-hash
        global order. The oracle replays the same layout with a
        single global cumsum (SQL needs no two-phase trick; the
        ORDER is what must match)."""
        from simplecrawler_spark.operators.packing import pack_weighted
        from simplecrawler_spark.sources.fixtures import synthetic_corpus

        corpus = synthetic_corpus(spark, n_images=256)
        return pack_weighted(
            corpus, F.col("w").cast("long") * F.col("h") * 3,
            budget=8_000_000, id_col="image_id", salt="packimg|",
            weight_name="n_bytes")

    def q_dedup_against(spark, sf):
        """Incremental cross-snapshot dedup (operators/dedup.py
        dedup_against, exact mode): the new half of the corpus
        (doc_id >= 250) deduped against a reference of the old half
        PLUS planted copies of docs 300-319 under fresh ids — so
        the survivors are exactly the new docs whose normalised
        fingerprint is not in the reference set. (The minhash band
        mode is pytest-pinned — its band machinery carries its own
        oracles via q_lsh_pairs.)"""
        docs = _t(spark, sf, "documents")
        new = docs.where(F.col("doc_id") >= 250) \
            .select("doc_id", "text")
        planted = (docs.where((F.col("doc_id") >= 300)
                              & (F.col("doc_id") < 320))
                   .select((F.col("doc_id") + 10000).alias("doc_id"),
                           "text"))
        ref = (docs.where(F.col("doc_id") < 250)
               .select("doc_id", "text").unionByName(planted))
        return D.dedup_against(new, ref).select("doc_id")

    def q_linear_score(spark, sf):
        """FastText-style hashed linear classifier inference
        (operators/quality.py hashed_linear_score): a 10-term
        integer-weight model applied over hashed token buckets —
        dot products and the truncating mean stay exact int64 in
        both engines (Spark div == DuckDB //, both
        truncate-toward-zero)."""
        from simplecrawler_spark.functions.text import hash_long60
        from simplecrawler_spark.operators.quality import (
            hashed_linear_score,
        )

        vocab = [("the", 500), ("table", -300), ("data", 200),
                 ("key", 150), ("slow", -250), ("fast", 250),
                 ("row", 100), ("scan", -120), ("value", 80),
                 ("merge", 60)]
        w = (spark.createDataFrame(vocab, "word string, weight long")
             .select((hash_long60(F.col("word"), "flt|")
                      % (1 << 18)).alias("bucket"), "weight")
             .groupBy("bucket").agg(F.sum("weight").alias("weight")))
        docs = _t(spark, sf, "documents")
        return hashed_linear_score(docs, w)

    def q_pipeline(spark, sf):
        """The full cleaning pipeline as one audit table
        (operators/quality.py corpus_pipeline_flags): lang, quality,
        Gopher, C4, and exact-dedup verdicts side by side per doc.
        Injections vary every stage independently: every 13th doc's
        body goes marker-free (lang), every 5th gains symbol spam
        (gopher), every 9th a brace line (c4), and every 10th+7 doc
        is replaced by one CONSTANT document so `canonical` is true
        only for the group's min id. The oracle re-composes the
        individually-proven SQL fragments and conjoins them."""
        from simplecrawler_spark.operators.quality import (
            corpus_pipeline_flags,
        )

        docs = _t(spark, sf, "documents")
        body = F.when(
            F.col("doc_id") % 13 == 0,
            F.lit("zq wq xq yq vq kq lq mq nq oq pq rq sq tq uq")
        ).otherwise(F.col("text"))
        text2 = F.concat(
            F.lit("This sentence about "), F.col("source"),
            F.lit(" has plenty of words.\n"), body,
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" ## ... ## ... ## ... ## ..."))
            .otherwise(F.lit("")),
            F.lit(".\nHere is another complete sentence with "
                  "enough words."),
            F.when(F.col("doc_id") % 9 == 0,
                   F.lit("\nif (x) { return }")).otherwise(F.lit("")))
        text3 = F.when(
            F.col("doc_id") % 10 == 7,
            F.lit("Duplicate document body appears many times.\n"
                  "The data table row has the value of the key.\n"
                  "Here is another complete sentence with enough "
                  "words.")).otherwise(text2)
        injected = docs.select("doc_id", text3.alias("text"))
        return corpus_pipeline_flags(injected, gopher_min_words=10)

    def q_lang_multi(spark, sf):
        """Multilingual marker-vote language ID (functions/text.py
        lang_id_multi_expr): every 4th doc rotates through planted
        Spanish / French / German stopword text, the rest keep the
        English-ish corpus body — the argmax is exact integer hit
        counts (shared denominator) with the de<en<es<fr tie-break,
        and the 3/20 threshold is a cross-multiplication; the oracle
        replays every comparison verbatim as a cascading CASE."""
        from simplecrawler_spark.functions.text import (
            lang_id_multi_expr,
        )

        docs = _t(spark, sf, "documents")
        m = F.col("doc_id") % 4
        text2 = (
            F.when(m == 1, F.lit(
                "la casa de la familia es una de las casas que no "
                "se ve en el pueblo para su gente"))
            .when(m == 2, F.lit(
                "le chat est dans la maison et les chiens ne sont "
                "pas sur le toit pour une fois"))
            .when(m == 3, F.lit(
                "der hund und die katze sind nicht auf dem dach mit "
                "den kindern und das ist auch gut"))
            .otherwise(F.col("text")))
        return docs.select(
            "doc_id", lang_id_multi_expr(text2).alias("lang"))

    def q_main_text(spark, sf):
        """jusText-style main-content extraction (operators/parse.py
        extract_main_text): each doc wrapped in a page with an
        all-anchor nav bar and a Terms|Privacy footer (link density
        1 and ~0.9 — both drop), the doc body (density 0 — kept),
        and a mixed prose+link sentence under the 0.5 density bound
        (kept). Expected-composition oracle, q_wet discipline."""
        from simplecrawler_spark.operators.parse import (
            extract_main_text,
        )

        docs = _t(spark, sf, "documents")
        d = F.col("doc_id").cast("string")
        html = F.concat(
            F.lit('<html><body><div><a href="/a">Home</a> '
                  '<a href="/b">About</a> <a href="/c">Contact</a>'
                  "</div><p>"),
            F.col("text"),
            F.lit('</p><p>See also <a href="/x">doc '), d,
            F.lit('</a> for details.</p><div><a href="/t">Terms</a>'
                  ' | <a href="/p">Privacy</a></div></body></html>'))
        out = docs.select(
            "doc_id", extract_main_text(html).alias("main"))
        return out.select(
            "doc_id", F.length("main").cast("long").alias("n_chars"),
            F.md5("main").alias("main_md5"))

    def q_wat_records(spark, sf):
        """WAT-style metadata envelope (sources/warc.py
        wat_record_expr): per-page JSON of url/status/mime/outlinks —
        what link-graph jobs read instead of payload bytes. Spark's
        and DuckDB's compact JSON renderings are byte-identical for
        this shape, so the oracle compares md5 of the RECORD STRING
        itself (strongest possible check: field order, quoting, and
        array rendering all pinned)."""
        from simplecrawler_spark.sources.warc import wat_record_expr

        ev = _t(spark, sf, "events")
        eid = F.col("event_id")
        url = F.concat(F.lit("http://h"), (eid % 40).cast("string"),
                       F.lit("/p"), (eid % 97).cast("string"))
        status = F.when(eid % 11 == 0, F.lit(404)).otherwise(F.lit(200))
        mime = (F.when(eid % 13 == 0, F.lit("image/png"))
                .otherwise(F.lit("text/html")))
        n = (eid % 3) + 1
        links = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(F.lit("http://h"),
                               ((eid + i) % 40).cast("string"),
                               F.lit("/")))
        rec = wat_record_expr(url, status, mime, links)
        return ev.select("event_id", F.md5(rec).alias("wat_md5"))

    # Order matters: a driver that gates only the first 50 entries sees
    # the operators added last, then q_crawl_bfs and one canary per
    # older family (canonicalise, MinHash, embeddings, images, rank).
    return {
        "q_anchor_text": q_anchor_text,
        "q_host_backoff": q_host_backoff,
        "q_sniff_format": q_sniff_format,
        "q_surt_keys": q_surt_keys,
        "q_redact_pii": q_redact_pii,
        "q_quality_buckets": q_quality_buckets,
        "q_event_window_rollup": q_event_window_rollup,
        "q_sessionize": q_sessionize,
        "q_ngram_topk": q_ngram_topk,
        "q_bm25": q_bm25,
        "q_stratified_sample": q_stratified_sample,
        "q_caption_dups": q_caption_dups,
        "q_sq8_topk": q_sq8_topk,
        "q_clip_gate": q_clip_gate,
        "q_blocklist": q_blocklist,
        "q_boilerplate": q_boilerplate,
        "q_epochs": q_epochs,
        "q_warc": q_warc,
        "q_warc_bytes": q_warc_bytes,
        "q_wet": q_wet,
        "q_bpe_pairs": q_bpe_pairs,
        "q_gopher": q_gopher,
        "q_gopher_rep": q_gopher_rep,
        "q_c4": q_c4,
        "q_rrf": q_rrf,
        "q_recall_at_k": q_recall_at_k,
        "q_ndcg": q_ndcg,
        "q_temperature": q_temperature,
        "q_corpus_stats": q_corpus_stats,
        "q_meta_robots": q_meta_robots,
        "q_diversity": q_diversity,
        "q_readability": q_readability,
        "q_url_features": q_url_features,
        "q_rel_canonical": q_rel_canonical,
        "q_mojibake": q_mojibake,
        "q_charset_meta": q_charset_meta,
        "q_alloc_budget": q_alloc_budget,
        "q_pack_images": q_pack_images,
        "q_dedup_against": q_dedup_against,
        "q_linear_score": q_linear_score,
        "q_pipeline": q_pipeline,
        "q_lang_multi": q_lang_multi,
        "q_main_text": q_main_text,
        "q_wat_records": q_wat_records,
        "q_crawl_bfs": q_crawl_bfs,
        "q_canonicalize": q_canonicalize,
        "q_minhash": q_minhash,
        "q_cosine_topk": q_cosine_topk,
        "q_image_features": q_image_features,
        "q_pagerank": q_pagerank,
        "q_url_dedupe": q_url_dedupe,
        "q_seen_antijoin": q_seen_antijoin,
        "q_politeness_window": q_politeness_window,
        "q_mime_gate": q_mime_gate,
        "q_status_class": q_status_class,
        "q_extract_hrefs": q_extract_hrefs,
        "q_trim_resolve": q_trim_resolve,
        "q_filter_by": q_filter_by,
        "q_dedup_exact": q_dedup_exact,
        "q_corpus_clean": q_corpus_clean,
        "q_lsh_pairs": q_lsh_pairs,
        "q_dedup_components": q_dedup_components,
        "q_neardup_batch": q_neardup_batch,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_containment": q_containment,
        "q_substring_dedup": q_substring_dedup,
        "q_decontaminate": q_decontaminate,
        "q_simhash": q_simhash,
        "q_phash_neardup": q_phash_neardup,
        "q_lang_quality": q_lang_quality,
        "q_token_stats": q_token_stats,
        "q_repetition": q_repetition,
        "q_span_dedup": q_span_dedup,
        "q_hash_split": q_hash_split,
        "q_pack_shards": q_pack_shards,
        "q_mix_rebalance": q_mix_rebalance,
        "q_embedding_norms": q_embedding_norms,
        "q_ann_lsh": q_ann_lsh,
        "q_cosine_pairs": q_cosine_pairs,
        "q_ivf_assign": q_ivf_assign,
        "q_ann_ivf_batch": q_ann_ivf_batch,
        "q_semantic_dedup": q_semantic_dedup,
        "q_robots_gate": q_robots_gate,
        "q_aspect_buckets": q_aspect_buckets,
        "q_caption_gate": q_caption_gate,
        "q_image_dedup_cluster": q_image_dedup_cluster,
        "q_unigram_logprob": q_unigram_logprob,
        "q_bigram_logprob": q_bigram_logprob,
        "q_hits": q_hits,
        "q_url_traps": q_url_traps,
        "q_recrawl": q_recrawl,
        "q_chunk_docs": q_chunk_docs,
        "q_sitemap": q_sitemap,
        "q_robots_sitemaps": q_robots_sitemaps,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

def _ann_lsh_oracle() -> str:
    """DuckDB twin of q_ann_lsh: the hyperplanes are deterministic
    md5-derived floats (operators/similarity.py:63-75), inlined here as
    exact repr literals; signature bits, the multiprobe bucket set and
    the cosine ranking are recomputed in SQL. Addition order matches
    Spark's left-fold, so the sign tests see identical doubles."""
    planes = SIM.hyperplanes(_EMB_DIM, _ANN_PLANES)
    q_sig = 0
    for b, plane in enumerate(planes):
        if plane[0] > 0:
            q_sig |= 1 << b
    probe = sorted({q_sig} | {q_sig ^ (1 << b) for b in range(_ANN_PLANES)})
    sig_terms = " + ".join(
        "(CASE WHEN ("
        + " + ".join(f"v[{j + 1}] * ({plane[j]!r})"
                     for j in range(_EMB_DIM))
        + f") > 0 THEN {1 << b} ELSE 0 END)"
        for b, plane in enumerate(planes))
    vnorm = ("sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))")
    return f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), s AS (
          SELECT vec_id, v[1] / {vnorm} AS c, ({sig_terms}) AS sig
          FROM e
        )
        SELECT vec_id, floor(100000 * c)::BIGINT AS cos_scaled
        FROM s WHERE sig IN ({", ".join(map(str, probe))})
        ORDER BY c DESC, vec_id LIMIT 10
    """


def _pagerank_oracle(n_iter: int = 3, d_num: int = 85, d_den: int = 100,
                     scale: int = 10 ** 15) -> str:
    """DuckDB twin of q_pagerank: the same integer-mass iteration
    unrolled into one CTE per step (recursive CTEs can't aggregate in
    the recursive term). `//` is DuckDB integer division = Spark's
    `div`; all masses stay int64, so the comparison is exact."""
    base = f"(SELECT ({scale} * {d_den - d_num}) // ({d_den} * n) FROM nn)"
    sql = f"""
        WITH e AS (
          SELECT DISTINCT o_custkey % 40 AS src, o_orderkey % 40 AS dst
          FROM orders WHERE o_custkey % 40 <> o_orderkey % 40
        ), verts AS (
          SELECT src AS v FROM e UNION SELECT dst FROM e
        ), nn AS (SELECT count(*) AS n FROM verts),
        outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT v, (SELECT {scale} // n FROM nn) AS rank FROM verts)
    """
    for i in range(n_iter):
        sql += f""", r{i + 1} AS (
          SELECT verts.v,
                 ({base} + coalesce(s.c, 0))::BIGINT AS rank
          FROM verts LEFT JOIN (
            SELECT dst AS v,
                   sum(r.rank * {d_num} // ({d_den} * outdeg)) AS c
            FROM r{i} r JOIN e ON r.v = e.src JOIN outdeg USING (src)
            GROUP BY dst) s USING (v))
        """
    return sql + f"SELECT v, rank FROM r{n_iter}"


def _hits_oracle(n_iter: int = 3, scale: int = 10 ** 12) -> str:
    """DuckDB twin of q_hits: the integer HITS iteration (auth from
    hubs, L1-normalise by the floored quotient, hubs from NEW auths,
    normalise again) unrolled one CTE pair per step. `//` is DuckDB
    integer division = Spark's `div`; everything stays int64."""
    sql = f"""
        WITH e AS (
          SELECT DISTINCT o_custkey % 40 AS src, o_orderkey % 40 AS dst
          FROM orders WHERE o_custkey % 40 <> o_orderkey % 40
        ), verts AS (
          SELECT src AS v FROM e UNION SELECT dst FROM e
        ), nn AS (SELECT count(*) AS n FROM verts),
        h0 AS (SELECT v, (SELECT {scale} // n FROM nn) AS hub FROM verts)
    """
    for i in range(1, n_iter + 1):
        sql += f""", ar{i} AS (
          SELECT e.dst AS v, sum(h.hub) AS raw
          FROM h{i - 1} h JOIN e ON h.v = e.src GROUP BY e.dst
        ), a{i} AS (
          SELECT verts.v,
                 coalesce(ar{i}.raw, 0)
                   // greatest((SELECT sum(raw) FROM ar{i}) // {scale}, 1)
                   AS auth
          FROM verts LEFT JOIN ar{i} USING (v)
        ), hr{i} AS (
          SELECT e.src AS v, sum(a.auth) AS raw
          FROM a{i} a JOIN e ON a.v = e.dst GROUP BY e.src
        ), h{i} AS (
          SELECT verts.v,
                 coalesce(hr{i}.raw, 0)
                   // greatest((SELECT sum(raw) FROM hr{i}) // {scale}, 1)
                   AS hub
          FROM verts LEFT JOIN hr{i} USING (v)
        )"""
    return sql + (f" SELECT h{n_iter}.v, h{n_iter}.hub::BIGINT AS hub,"
                  f" a{n_iter}.auth::BIGINT AS auth"
                  f" FROM h{n_iter} JOIN a{n_iter} USING (v)")


def oracle_sql() -> dict[str, str]:
    toks = _ORACLE_TOKS
    sh = ("list_transform(range(1, len(toks) - 1), "
          "i -> array_to_string(toks[i:i+2], ' '))")
    mh = {p: (f"list_min(list_transform(sh, x -> substr(md5('mh{p}|' || x)"
              f", 1, 16))) AS mh{p}") for p in range(4)}
    sig_cte = f"""
        WITH t AS (
          SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id < {{lim}}
        ), s AS (
          SELECT doc_id, {sh} AS sh FROM t
        ), sig AS (
          SELECT doc_id, {mh[0]}, {mh[1]}, {mh[2]}, {mh[3]} FROM s
        )
    """
    simhash_bits = 16
    sim_sums = ", ".join(
        f"sum(case when (hv >> {j}) & 1 = 1 then 1 else -1 end) AS s{j}"
        for j in range(simhash_bits))
    sim_val = " + ".join(
        f"(case when s{j} > 0 then {1 << j} else 0 end)"
        for j in range(simhash_bits))
    # q_phash_neardup twin: SimHash-32 fingerprints + the same band
    # masks the Spark operator derives (operators/dedup.py
    # _band_masks — masks, never shifts, so signed int64 semantics
    # agree between engines)
    from simplecrawler_spark.operators.dedup import _band_masks
    nd_bits, nd_ham = 32, 2
    nd_sums = ", ".join(
        f"sum(case when (hv >> {j}) & 1 = 1 then 1 else -1 end) AS s{j}"
        for j in range(nd_bits))
    nd_val = " + ".join(
        f"(case when s{j} > 0 then {1 << j} else 0 end)"
        for j in range(nd_bits))
    nd_bands = ", ".join(
        f"({i}, {m}::BIGINT)"
        for i, m in enumerate(_band_masks(nd_bits, nd_ham + 1)))
    markers = ", ".join(f"'{m}'" for m in X.EN_MARKERS)
    marker_ratio = (
        f"case when len(toks) > 0 then "
        f"len(list_filter(toks, x -> list_contains([{markers}], x)))"
        f"::DOUBLE / len(toks) else 0.0 end")
    quality = (
        "round(0.4 * (case when length(text) between 100 and 10000 then 1.0 "
        "when length(text) >= 20 then 0.5 else 0.0 end) "
        "+ 0.3 * (case when length(text) > 0 then "
        "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE "
        "/ length(text) else 0.0 end) "
        "+ 0.3 * (case when len(toks) > 0 and "
        "(list_aggregate(list_transform(toks, x -> length(x)), 'sum')"
        "::DOUBLE / len(toks)) between 3.0 and 12.0 then 1.0 else 0.3 end)"
        ", 6)")
    vnorm = ("sqrt(list_aggregate(list_transform(embedding::DOUBLE[], "
             "x -> x * x), 'sum'))")

    # q_redact_pii twin — assembled by concatenation, NOT an f-string:
    # the regex quantifier braces must reach DuckDB verbatim. Same
    # injected PII, same patterns (functions/text.py PII_*), same
    # replacement order; DuckDB regexp_replace needs the explicit 'g'
    # flag (Spark's is global by default).
    pii_oracle = ("""
        WITH inj AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id::VARCHAR
                      || '@example.com or +1-555-01'
                      || lpad((doc_id % 100)::VARCHAR, 2, '0')
                      || ' from 10.0.' || (doc_id % 256)::VARCHAR
                      || '.7' AS t
          FROM documents
        ), r1 AS (
          SELECT doc_id, t,
                 regexp_replace(t, '""" + X.PII_EMAIL + """',
                                '<EMAIL>', 'g') AS t1
          FROM inj
        ), r2 AS (
          SELECT doc_id, t, t1,
                 regexp_replace(t1, '""" + X.PII_IPV4 + """',
                                '<IP>', 'g') AS t2
          FROM r1
        )
        SELECT doc_id,
               len(regexp_extract_all(t, '""" + X.PII_EMAIL + """'))::BIGINT
                 AS n_emails,
               len(regexp_extract_all(t1, '""" + X.PII_IPV4 + """'))::BIGINT
                 AS n_ipv4,
               len(regexp_extract_all(t2, '""" + X.PII_PHONE + """'))::BIGINT
                 AS n_phones,
               md5(regexp_replace(t2, '""" + X.PII_PHONE + """',
                                  '<PHONE>', 'g')) AS redacted_md5
        FROM r2
    """)

    return {
        "q_canonicalize": f"""
            SELECT {_ORACLE_URL_NORM} AS url_norm, count(*) AS n_raw
            FROM orders GROUP BY 1
        """,
        "q_url_dedupe": f"""
            SELECT 'src' || (o_custkey % 20)::VARCHAR || '.example.com'
                     AS host,
                   count(DISTINCT {_ORACLE_URL_NORM}) AS n_urls
            FROM orders GROUP BY 1
        """,
        "q_seen_antijoin": f"""
            WITH u AS (SELECT {_ORACLE_URL_NORM} AS url_norm,
                              o_orderkey % 50 AS k FROM orders)
            SELECT DISTINCT url_norm FROM u WHERE k < 40
            AND url_norm NOT IN (SELECT url_norm FROM u WHERE k < 20)
        """,
        "q_politeness_window": """
            SELECT host, event_id FROM (
              SELECT user_id::VARCHAR AS host, event_id,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rn
              FROM events) WHERE rn <= 5
        """,
        "q_crawl_bfs": f"""
            WITH RECURSIVE edges AS (
              SELECT DISTINCT (l_orderkey % {N_BFS_NODES}) AS src,
                              (l_partkey % {N_BFS_NODES}) AS dst
              FROM lineitem
            ), reach(node, d) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT e.dst, r.d + 1 FROM reach r
              JOIN edges e ON e.src = r.node WHERE r.d < 8
            )
            SELECT 'http://graph.test/p' || node::VARCHAR AS url_norm,
                   MIN(d)::INT AS depth
            FROM reach GROUP BY node
        """,
        "q_mime_gate": """
            SELECT p_partkey,
                   (contains(lower(p_type), 'economy')
                    OR contains(lower(p_type), 'brush')) AS mime_ok
            FROM part
        """,
        "q_status_class": """
            SELECT floor((200 + o_orderkey % 400) / 100)::INT
                     AS status_class,
                   count(*) AS n
            FROM orders GROUP BY 1
        """,
        "q_extract_hrefs": """
            SELECT href_raw, count(*) AS n FROM (
              SELECT '/p/' || (doc_id % 50)::VARCHAR AS href_raw
              FROM documents
              UNION ALL
              SELECT '/q/' || (doc_id % 7)::VARCHAR FROM documents
            ) GROUP BY 1
        """,
        "q_trim_resolve": """
            SELECT DISTINCT 'http://h.test/p' || (event_id % 7)::VARCHAR
                   || '?q=' || (event_id % 3)::VARCHAR AS url_norm
            FROM events
        """,
        "q_filter_by": """
            SELECT o_orderkey,
                   'http://shop3.example.com/cat/'
                     || (o_orderkey % 20)::VARCHAR || '?a=1&b=2' AS url_norm
            FROM orders
            WHERE o_orderkey % 2 = 0 AND o_custkey % 5 = 3
        """,
        "q_dedup_exact": f"""
            SELECT {_ORACLE_FP} AS fingerprint,
                   min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "q_corpus_clean": f"""
            WITH t AS (
              SELECT doc_id, text, {toks} AS toks FROM documents
            ), g AS (
              SELECT doc_id, {_ORACLE_FP} AS fingerprint,
                     len(toks)::BIGINT AS n_tokens
              FROM t
              WHERE (case when {marker_ratio} >= 0.15
                          then 'en' else 'other' end) = 'en'
                AND {quality} >= 0.5
            )
            SELECT fingerprint, min(doc_id) AS keep_id,
                   min(n_tokens) AS n_tokens, count(*) AS n_dups
            FROM g GROUP BY fingerprint
        """,
        "q_minhash": sig_cte.format(lim=100) + "SELECT * FROM sig",
        "q_lsh_pairs": sig_cte.format(lim=200) + """
            , bands AS (
              SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS key FROM sig
              WHERE mh0 IS NOT NULL
              UNION ALL
              SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
              WHERE mh0 IS NOT NULL
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key
              AND a.doc_id < b.doc_id
        """,
        "q_dedup_components": sig_cte.format(lim=200).replace(
            "WITH", "WITH RECURSIVE", 1) + """
            , bands AS (
              SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS key FROM sig
              WHERE mh0 IS NOT NULL
              UNION ALL
              SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
              WHERE mh0 IS NOT NULL
            ), e0 AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key
                AND a.doc_id < b.doc_id
            ), e AS (
              SELECT id_a AS src, id_b AS dst FROM e0
              UNION
              SELECT id_b, id_a FROM e0
            ), reach(id, comp) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, reach.comp
              FROM e JOIN reach ON e.dst = reach.id
            )
            SELECT id::BIGINT AS doc_id, min(comp)::BIGINT AS component,
                   (id = min(comp)) AS is_survivor
            FROM reach GROUP BY id
        """,
        # neardup batch twin: the components oracle's survivors plus
        # every non-colliding doc as its own singleton
        "q_neardup_batch": sig_cte.format(lim=200).replace(
            "WITH", "WITH RECURSIVE", 1) + """
            , bands AS (
              SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS key FROM sig
              WHERE mh0 IS NOT NULL
              UNION ALL
              SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
              WHERE mh0 IS NOT NULL
            ), e0 AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key
                AND a.doc_id < b.doc_id
            ), e AS (
              SELECT id_a AS src, id_b AS dst FROM e0
              UNION
              SELECT id_b, id_a FROM e0
            ), reach(id, comp) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, reach.comp
              FROM e JOIN reach ON e.dst = reach.id
            ), comp AS (
              SELECT id, min(comp) AS comp FROM reach GROUP BY id
            )
            SELECT t.doc_id::BIGINT AS doc_id
            FROM t LEFT JOIN comp ON t.doc_id = comp.id
            WHERE comp.id IS NULL OR t.doc_id = comp.comp
        """,
        "q_ngram_jaccard": f"""
            WITH t AS (
              SELECT doc_id, list_distinct({sh.replace('toks', _ORACLE_TOKS)})
                       AS sh
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              floor(1000000 * (
                len(list_filter(a.sh, x -> list_contains(b.sh, x)))::DOUBLE
                / nullif(len(a.sh) + len(b.sh)
                  - len(list_filter(a.sh, x -> list_contains(b.sh, x))), 0)
              ))::BIGINT AS jac_scaled
            FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id % 10 = 0
        """,
        # containment: same shingle sets, |A∩B| against each side's
        # own size, ratios by DuckDB's // == Spark's DIV
        "q_containment": f"""
            WITH t AS (
              SELECT doc_id,
                     list_distinct({sh.replace('toks', _ORACLE_TOKS)})
                       AS sh
              FROM documents
            ), p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_filter(a.sh,
                         x -> list_contains(b.sh, x)))::BIGINT
                       AS n_common,
                     len(a.sh)::BIGINT AS n_a,
                     len(b.sh)::BIGINT AS n_b
              FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
              WHERE a.doc_id % 10 = 0
            )
            SELECT id_a, id_b, n_common, n_a, n_b,
                   CASE WHEN n_a > 0
                        THEN ((n_common * 1000000) // n_a)::BIGINT
                        ELSE 0 END AS containment_a_ppm,
                   CASE WHEN n_b > 0
                        THEN ((n_common * 1000000) // n_b)::BIGINT
                        ELSE 0 END AS containment_b_ppm
            FROM p
        """,
        # windows grouped by their exact 10-token text (the Spark side
        # groups by the portable 60-bit hash of the same string — the
        # grouping is identical barring a ~2^-60 collision)
        "q_substring_dedup": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS toks FROM documents
            ), e AS (
              SELECT doc_id, unnest(range(1, len(toks) - 8)) AS p, toks
              FROM t WHERE len(toks) >= 10
            ), g AS (
              SELECT doc_id, p,
                     array_to_string(toks[p:p+9], ' ') AS gr
              FROM e
            ), k AS (
              SELECT gr, min(struct_pack(d := doc_id, p := p)) AS win,
                     count(*) AS c
              FROM g GROUP BY gr
            ), dups AS (
              SELECT g.doc_id, g.p FROM g JOIN k USING (gr)
              WHERE c > 1 AND NOT (g.doc_id = win.d AND g.p = win.p)
            ), starts AS (
              SELECT doc_id, list(p) AS ss FROM dups GROUP BY doc_id
            ), clean AS (
              SELECT t.doc_id, len(toks) AS n_tokens,
                     list_transform(
                       list_filter(range(1, len(toks) + 1),
                         i -> ss IS NULL
                              OR len(list_filter(ss,
                                   s -> s <= i AND i < s + 10)) = 0),
                       i -> toks[i]) AS kept
              FROM t LEFT JOIN starts USING (doc_id)
            )
            SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                   (n_tokens - len(kept))::BIGINT AS n_removed,
                   -- array_to_string of an empty list is NULL in
                   -- DuckDB; Spark's array_join gives '' (fully-
                   -- removed docs, e.g. exact duplicates)
                   md5(coalesce(array_to_string(kept, ' '), ''))
                     AS clean_md5
            FROM clean
        """,
        "q_decontaminate": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS toks FROM documents
            ), g AS (
              SELECT doc_id, unnest({sh}) AS gram FROM t
            ), bench AS (
              SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
            )
            SELECT doc_id, count(DISTINCT gram) AS n_hits
            FROM g
            WHERE doc_id % 50 <> 0 AND gram IN (SELECT gram FROM bench)
            GROUP BY doc_id
        """,
        "q_simhash": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id < 100
            ), u AS (
              SELECT doc_id, unnest(toks) AS tok FROM t
            ), h AS (
              SELECT doc_id,
                     ('0x' || substr(md5('sh|' || tok), 1, 15))::BIGINT AS hv
              FROM u
            ), s AS (
              SELECT doc_id, {sim_sums} FROM h GROUP BY doc_id
            )
            SELECT doc_id, ({sim_val})::BIGINT AS simhash FROM s
        """,
        "q_phash_neardup": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS toks FROM documents
              WHERE doc_id < 300
            ), u AS (
              SELECT doc_id, unnest(toks) AS tok FROM t
            ), h AS (
              SELECT doc_id,
                     ('0x' || substr(md5('sh|' || tok), 1, 15))::BIGINT AS hv
              FROM u
            ), s AS (
              SELECT doc_id, {nd_sums} FROM h GROUP BY doc_id
            ), f AS (
              SELECT doc_id, ({nd_val})::BIGINT AS fp FROM s
            ), e AS (
              SELECT doc_id, fp, band, fp & mask AS key
              FROM f, (VALUES {nd_bands}) b(band, mask)
            ), p AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     bit_count(xor(a.fp, b.fp))::INTEGER AS hamming
              FROM e a JOIN e b USING (band, key)
              WHERE a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, hamming FROM p WHERE hamming <= {nd_ham}
        """,
        "q_lang_quality": f"""
            WITH t AS (
              SELECT text, {toks} AS toks FROM documents
            ), c AS (
              SELECT case when {marker_ratio} >= 0.15 then 'en'
                          else 'other' end AS lang_pred,
                     case when {quality} >= 0.7 then 1 else 0 end AS high_q
              FROM t
            )
            SELECT lang_pred, count(*) AS n_docs,
                   sum(high_q)::BIGINT AS n_highq
            FROM c GROUP BY 1
        """,
        "q_token_stats": f"""
            SELECT lang,
                   sum(len({toks}))::BIGINT AS total_tokens,
                   count(DISTINCT {_ORACLE_FP}) AS n_fp
            FROM documents GROUP BY 1
        """,
        "q_repetition": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS toks FROM documents
            ), b AS (
              SELECT doc_id, toks,
                     list_transform(range(1, greatest(len(toks), 1)),
                                    i -> toks[i] || ' ' || toks[i + 1])
                       AS bg
              FROM t
            ), s AS (
              SELECT doc_id,
                floor(1000000 * (case when len(toks) > 0 then
                  (len(toks) - len(list_distinct(toks)))::DOUBLE
                    / len(toks) else 0.0 end))::BIGINT AS dup_scaled,
                floor(1000000 * (case when len(bg) > 0 and
                  list_max(list_transform(list_distinct(bg),
                    x -> len(list_filter(bg, y -> y = x)))) >= 2 then
                  list_max(list_transform(list_distinct(bg),
                    x -> len(list_filter(bg, y -> y = x))))::DOUBLE
                    / len(bg) else 0.0 end))::BIGINT AS topbg_scaled
              FROM b
            )
            SELECT doc_id, dup_scaled, topbg_scaled,
                   (dup_scaled <= 300000 AND topbg_scaled <= 200000)
                     AS keep
            FROM s
        """,
        "q_hash_split": """
            SELECT doc_id,
                   CASE
                     WHEN b < 800000 THEN 'train'
                     WHEN b < 900000 THEN 'val'
                     WHEN b < 1000000 THEN 'test'
                   END AS split
            FROM (
              SELECT doc_id,
                     ('0x' || substr(md5('split|' || doc_id::VARCHAR),
                                     1, 15))::BIGINT % 1000000 AS b
              FROM documents)
        """,
        "q_pack_shards": f"""
            WITH base AS (
              SELECT doc_id,
                     ('0x' || substr(md5('pack|' || doc_id::VARCHAR),
                                     1, 15))::BIGINT % 1000000 AS h,
                     len({toks})::BIGINT AS n_tokens
              FROM documents
            )
            SELECT doc_id, n_tokens,
                   CAST(floor(
                     COALESCE(SUM(n_tokens) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) / 4096.0)
                     AS BIGINT) AS shard_id
            FROM base
        """,
        "q_mix_rebalance": """
            WITH tgt(source, frac) AS (
              VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE),
                     ('src2', 0.2::DOUBLE)
            ), sized AS (
              SELECT doc_id, d.source FROM documents d
              JOIN tgt USING (source)
            ), j AS (
              SELECT c.source, c.n, t.frac, c.n / t.frac AS cap
              FROM (SELECT source, count(*) AS n FROM sized
                    GROUP BY 1) c
              JOIN tgt t USING (source)
            ), thr AS (
              SELECT source,
                     least(1000000, CAST(floor(
                       frac * (SELECT min(cap) FROM j) / n * 1000000)
                       AS BIGINT)) AS thr
              FROM j
            )
            SELECT s.doc_id, s.source,
                   (('0x' || substr(md5('mix|' || s.doc_id::VARCHAR),
                                    1, 15))::BIGINT % 1000000) < t.thr
                     AS keep
            FROM sized s JOIN thr t USING (source)
        """,
        "q_span_dedup": """
            WITH pre AS (
              SELECT doc_id,
                     regexp_replace(text, 'table ', 'table' || chr(10),
                                    'g') AS text
              FROM documents
            ), arrs AS (
              SELECT doc_id, string_split(text, chr(10)) AS sp FROM pre
            ), sp AS (
              SELECT doc_id, unnest(sp) AS span,
                     unnest(range(0, len(sp))) AS idx
              FROM arrs
            ), m AS (
              SELECT doc_id, idx, span, md5(span) AS h,
                     length(span) >= 20 AS ded
              FROM sp
            ), k AS (
              SELECT doc_id, idx, span FROM m
              QUALIFY (NOT ded) OR row_number() OVER (
                  PARTITION BY h ORDER BY doc_id, idx) = 1
            ), g AS (
              SELECT doc_id,
                     string_agg(span, chr(10) ORDER BY idx) AS text_dedup,
                     count(*)::BIGINT AS n_kept
              FROM k GROUP BY doc_id
            )
            SELECT arrs.doc_id,
                   coalesce(g.text_dedup, '') AS text_dedup,
                   len(arrs.sp)::BIGINT AS n_spans,
                   coalesce(g.n_kept, 0)::BIGINT AS n_kept
            FROM arrs LEFT JOIN g USING (doc_id)
        """,
        "q_cosine_topk": f"""
            SELECT vec_id,
                   floor(100000 * (embedding[1]::DOUBLE / {vnorm}))::BIGINT
                     AS cos_scaled
            FROM embeddings
            ORDER BY (embedding[1]::DOUBLE / {vnorm}) DESC, vec_id
            LIMIT 10
        """,
        "q_embedding_norms": f"""
            SELECT vec_id, floor(1000000 * {vnorm})::BIGINT AS norm_scaled
            FROM embeddings WHERE vec_id < 50
        """,
        "q_ann_lsh": _ann_lsh_oracle(),
        "q_cosine_pairs": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     sqrt(list_aggregate(list_transform(
                       embedding::DOUBLE[], x -> x * x), 'sum')) AS nm
              FROM embeddings WHERE vec_id < 200
            ), p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_aggregate(list_transform(range(1, len(a.v) + 1),
                       i -> a.v[i] * b.v[i]), 'sum') / (a.nm * b.nm) AS c
              FROM e a JOIN e b ON b.vec_id > a.vec_id
            )
            SELECT id_a, id_b, floor(100000 * c)::BIGINT AS cos_scaled
            FROM p WHERE c >= 0.3
        """,
        "q_ivf_assign": """
            WITH c AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding::DOUBLE[] AS cv
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ), e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), d AS (
              SELECT e.vec_id, c.cell,
                     list_aggregate(list_transform(range(1, len(v) + 1),
                       i -> (v[i] - cv[i]) * (v[i] - cv[i])), 'sum') AS dist
              FROM e CROSS JOIN c
            ), a AS (
              SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist, cell) AS rn
              FROM d
            )
            SELECT cell, count(*) AS n FROM a WHERE rn = 1 GROUP BY cell
        """,
        "q_ann_ivf_batch": """
            WITH c AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding::DOUBLE[] AS cv
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ), e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), d AS (
              SELECT e.vec_id, c.cell,
                     list_aggregate(list_transform(range(1, len(v) + 1),
                       i -> (v[i] - cv[i]) * (v[i] - cv[i])), 'sum') AS dist
              FROM e CROSS JOIN c
            ), asg AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell, row_number() OVER (PARTITION BY
                         vec_id ORDER BY dist, cell) AS rn
                FROM d) WHERE rn = 1
            ), q AS (
              SELECT vec_id AS query_id, v AS qv FROM e
              WHERE vec_id IN (SELECT vec_id FROM embeddings
                               ORDER BY vec_id LIMIT 5)
            ), qd AS (
              SELECT q.query_id, q.qv, c.cell,
                     list_aggregate(list_transform(range(1, len(qv) + 1),
                       i -> (qv[i] - cv[i]) * (qv[i] - cv[i])), 'sum')
                       AS dist
              FROM q CROSS JOIN c
            ), probes AS (
              SELECT query_id, qv, cell FROM (
                SELECT query_id, qv, cell, row_number() OVER (PARTITION BY
                         query_id ORDER BY dist, cell) AS rn
                FROM qd) WHERE rn <= 2
            ), cand AS (
              SELECT p.query_id, e.vec_id,
                     list_aggregate(list_transform(range(1, len(e.v) + 1),
                       i -> e.v[i] * p.qv[i]), 'sum') AS dt,
                     sqrt(list_aggregate(list_transform(e.v, x -> x * x),
                       'sum')) AS nme,
                     sqrt(list_aggregate(list_transform(p.qv, x -> x * x),
                       'sum')) AS nmq
              FROM probes p
              JOIN asg a ON a.cell = p.cell
              JOIN e ON e.vec_id = a.vec_id
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS rank
              FROM (SELECT query_id, vec_id,
                           round(CASE WHEN nme * nmq > 0
                                      THEN dt / (nme * nmq)
                                      ELSE 0.0 END, 6) AS cosine
                    FROM cand)
            )
            SELECT query_id, vec_id, rank::BIGINT AS rank,
                   floor(cosine * 100000)::BIGINT AS cos_scaled
            FROM ranked WHERE rank <= 5
        """,
        "q_semantic_dedup": """
            WITH c AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding::DOUBLE[] AS cv
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ), e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), d AS (
              SELECT e.vec_id, c.cell,
                     list_aggregate(list_transform(range(1, len(v) + 1),
                       i -> (v[i] - cv[i]) * (v[i] - cv[i])), 'sum') AS dist
              FROM e CROSS JOIN c
            ), a AS (
              SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist, cell) AS rn
              FROM d
            ), asg AS (
              SELECT vec_id, cell FROM a WHERE rn = 1
            ), en AS (
              SELECT asg.vec_id, asg.cell, e.v,
                     sqrt(list_aggregate(list_transform(e.v, x -> x * x),
                       'sum')) AS nm
              FROM asg JOIN e ON e.vec_id = asg.vec_id
            ), e2 AS (
              -- SAME float shape as the Spark side (ADVICE r3):
              -- unit-normalise each vector once (zero-norm -> zero
              -- vector), compare on the dot of units — a cosine near
              -- the threshold decides identically on both engines
              SELECT vec_id, cell,
                     CASE WHEN nm > 0 THEN list_transform(v, x -> x / nm)
                          ELSE list_transform(v, x -> x * 0.0)
                     END AS vn
              FROM en
            ), dropped AS (
              SELECT DISTINCT y.vec_id
              FROM e2 x JOIN e2 y
                ON x.cell = y.cell AND y.vec_id > x.vec_id
              WHERE list_aggregate(list_transform(range(1, len(x.vn) + 1),
                      i -> x.vn[i] * y.vn[i]), 'sum') >= 0.4
            )
            SELECT vec_id, cell FROM asg
            WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        """,
        "q_robots_gate": """
            WITH u AS (
              SELECT event_id,
                     (CASE WHEN event_id % 3 = 0 THEN '/p/' ELSE '/q/' END)
                       || (event_id % 25)::VARCHAR AS path
              FROM events
            ), r(ord, prefix, allow) AS (
              VALUES (1, '/p/12', TRUE), (2, '/p/1', FALSE),
                     (3, '/q', FALSE)
            )
            SELECT event_id FROM u
            WHERE COALESCE((SELECT allow FROM r
                            WHERE u.path LIKE r.prefix || '%'
                            ORDER BY r.ord LIMIT 1), TRUE)
        """,
        # PARTIAL oracle (the pixel residue — PSNR, luma — is pytest):
        # regenerates the deterministic corpus' relational columns in
        # pure SQL (functions/images.py synth_caption/image_id_of and
        # fixtures.synthetic_corpus fmt rule) and asserts the decode
        # invariants decode_ok/phash_ok that Spark computed from real
        # pixel decode are TRUE for every image.
        "q_image_features": f"""
            WITH v AS (
              SELECT {_SQL_ADJ} AS adj, {_SQL_NOUN} AS noun,
                     {_SQL_VERB} AS verb
            )
            SELECT printf('img_%08d', k) AS image_id,
                   CASE WHEN k % 2 = 0 THEN 'raw' ELSE 'pngz' END AS fmt,
                   'a ' || adj[(k % 8) + 1] || ' '
                        || noun[((k // 8) % 8) + 1] || ' '
                        || verb[((k // 64) % 8) + 1]
                        || ' #' || printf('%08d', k) AS caption,
                   TRUE AS decode_ok,
                   TRUE AS phash_ok
            FROM range(64) t(k), v
        """,
        # nearest-aspect bucket by EXACT integer rational distance —
        # the same |w·rh − rw·h| · (LCM/rh) int64 the Spark operator
        # computes (multimodal.assign_aspect_bucket), so the argmin is
        # engine-portable; dims inlined via images.synth_dims
        "q_aspect_buckets": f"""
            WITH dims(k, w, h) AS (VALUES {_sql_dims(256)}),
            b(ord, bucket, rw, rh, tw, th, mul) AS (
              VALUES {_sql_aspect_buckets()}
            ), r AS (
              SELECT k, w, h, bucket, tw, th,
                     row_number() OVER (
                       PARTITION BY k
                       ORDER BY abs(w * rh - rw * h) * mul, ord) AS rn
              FROM dims, b
            )
            SELECT printf('img_%08d', k) AS image_id, w, h, bucket,
                   tw AS target_w, th AS target_h
            FROM r WHERE rn = 1
        """,
        "q_caption_gate": f"""
            WITH v AS (
              SELECT {_SQL_ADJ} AS adj, {_SQL_NOUN} AS noun,
                     {_SQL_VERB} AS verb
            ), dims(k, w, h) AS (VALUES {_sql_dims(256)}),
            c AS (
              SELECT k, w, h,
                     'a ' || adj[(k % 8) + 1] || ' '
                          || noun[((k // 8) % 8) + 1] || ' '
                          || verb[((k // 64) % 8) + 1]
                          || ' #' || printf('%08d', k) AS cap0
              FROM dims, v
            ), c2 AS (
              SELECT k, w, h,
                     CASE WHEN k % 5 = 0 THEN substr(cap0, 1, 9)
                          ELSE cap0 END AS caption
              FROM c
            ), t AS (
              SELECT k, w, h,
                     len(list_filter(regexp_split_to_array(
                       lower(caption), '[^a-z0-9]+'), x -> x <> ''))
                       AS tc
              FROM c2
            )
            SELECT printf('img_%08d', k) AS image_id,
                   (tc >= 4 AND tc <= 64) AS caption_ok,
                   least(w, h) >= 48 AS dims_ok,
                   (w <= h * 2 AND h <= w * 2) AS aspect_ok,
                   TRUE AS fmt_ok,
                   ((tc >= 4 AND tc <= 64) AND least(w, h) >= 48
                    AND (w <= h * 2 AND h <= w * 2)) AS keep
            FROM t
        """,
        # tumbling hour windows via time_bucket (epoch-aligned, same
        # origin as Spark's window() for divisor-of-day intervals);
        # window start as wall-clock string (timezone-proof on both
        # engines); value summed as per-row-floored cents — long math
        "q_sessionize": """
            WITH base AS (
              SELECT user_id,
                     datediff('microsecond',
                              TIMESTAMP '1970-01-01 00:00:00',
                              ts) AS ts_us,
                     CAST(floor(value * 100) AS BIGINT) AS v_cents
              FROM events
            ), flagged AS (
              SELECT user_id, ts_us, v_cents,
                     CASE WHEN ts_us - lag(ts_us) OVER w
                               > 86400::BIGINT * 1000000 THEN 1
                          WHEN lag(ts_us) OVER w IS NULL THEN 1
                          ELSE 0 END AS new_sess
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
            ), sessed AS (
              SELECT user_id, ts_us, v_cents,
                     SUM(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts_us
                                         ROWS UNBOUNDED PRECEDING)
                       AS sess
              FROM flagged
            )
            SELECT user_id, min(ts_us) AS start_us,
                   max(ts_us) AS end_us,
                   count(*)::BIGINT AS n_events,
                   sum(v_cents)::BIGINT AS value_cents
            FROM sessed GROUP BY user_id, sess
        """,
        "q_event_window_rollup": """
            SELECT time_bucket(INTERVAL '1 hour', ts)::VARCHAR
                     AS win_start,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   sum(floor(value * 100)::BIGINT)::BIGINT AS value_cents
            FROM events
            GROUP BY 1, 2
        """,
        # self-trained additive-smoothed unigram LM: TF per (doc,
        # token), vocab counts off the TF rows, corpus totals via a
        # scalar subquery — the identical estimator quality.py builds
        "q_unigram_logprob": f"""
            WITH u AS (
              SELECT doc_id, unnest({_ORACLE_TOKS}) AS tok
              FROM documents
            ), tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM u GROUP BY 1, 2
            ), vocab AS (
              SELECT tok, sum(tf) AS cnt FROM tf GROUP BY tok
            ), tot AS (
              SELECT sum(cnt)::DOUBLE AS n_total,
                     count(*)::DOUBLE AS v_size
              FROM vocab
            )
            SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
                   -- per-token ln floor-scaled to int64; the document
                   -- sum runs in LONG arithmetic (order-independent),
                   -- mirroring unigram_logprob(ln_scale=1e9)
                   floor((sum(tf * floor(ln(cnt::DOUBLE + 1.0)
                                         * 1000000000)::BIGINT)
                            / sum(tf)
                          - floor(ln(n_total + 1.0 * v_size)
                                  * 1000000000)::BIGINT)
                         / 1000000000.0 * 1000000)::BIGINT
                     AS lp_scaled
            FROM tf JOIN vocab USING (tok), tot
            GROUP BY doc_id, n_total, v_size
        """,
        # bigram LM: same tokenisation, same bigram assembly, same
        # PINNED interpolation shape inside ln (identical
        # parenthesisation → identical IEEE doubles), same
        # floor-scale + long doc sum as q_unigram_logprob
        "q_bigram_logprob": f"""
            WITH t AS (
              SELECT doc_id, {_ORACLE_TOKS} AS toks FROM documents
            ), b AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS bg
              FROM t
            ), tf AS (
              SELECT doc_id, bg, count(*) AS tf FROM b GROUP BY 1, 2
            ), c2 AS (
              SELECT bg, sum(tf) AS c2 FROM tf GROUP BY bg
            ), u AS (
              SELECT unnest(toks) AS tok FROM t
            ), c1 AS (
              SELECT tok, count(*) AS c1 FROM u GROUP BY tok
            ), tot AS (
              SELECT sum(c1)::DOUBLE AS n_total,
                     count(*)::DOUBLE AS v_size
              FROM c1
            ), j AS (
              SELECT tf.doc_id, tf.tf,
                     floor(ln(
                       0.75 * (c2.c2::DOUBLE + 1.0)
                         / (p.c1::DOUBLE + 1.0 * tot.v_size)
                       + 0.25 * (c.c1::DOUBLE + 1.0)
                         / (tot.n_total + 1.0 * tot.v_size))
                       * 1000000000)::BIGINT AS lns
              FROM tf
              JOIN c2 USING (bg)
              JOIN c1 p ON p.tok = string_split(tf.bg, ' ')[1]
              JOIN c1 c ON c.tok = string_split(tf.bg, ' ')[2]
              CROSS JOIN tot
            )
            SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
                   floor((sum(tf * lns) / sum(tf))
                         / 1000000000.0 * 1000000)::BIGINT
                     AS lp_scaled
            FROM j GROUP BY doc_id
        """,
        "q_pagerank": _pagerank_oracle(),
        "q_hits": _hits_oracle(),
        # q_url_traps twin: identical URL synthesis (CASE over
        # o_orderkey % 7), then every trap rule re-expressed in DuckDB
        # list/regexp machinery (operators/traps.py documents each)
        "q_url_traps": r"""
            WITH u AS (
              SELECT o_orderkey,
                     'http://h' || (o_custkey % 20)::VARCHAR || '.test'
                     || CASE o_orderkey % 7
                        WHEN 0 THEN '/p/' || (o_orderkey % 100)::VARCHAR
                        WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/k/l/m'
                        WHEN 2 THEN '/x/y/x/y/x'
                        WHEN 3 THEN '/p?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6'
                                    || '&p7=7&p8=8&p9=9&p10=10&p11=11'
                        WHEN 4 THEN '/p?phpsessid=s'
                                    || o_orderkey::VARCHAR
                        WHEN 5 THEN '/2024/05/2023/06'
                        ELSE '/' || repeat('x', 2100) END AS url
              FROM orders
            ), b AS (
              SELECT o_orderkey,
                regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                  AS path,
                regexp_extract(url, '\?([^#]*)', 1) AS query,
                length(url) AS ulen
              FROM u
            ), s AS (
              SELECT o_orderkey, query, ulen,
                list_filter(string_split(path, '/'), x -> x <> '')
                  AS segs,
                (CASE WHEN query = '' THEN 0
                      ELSE len(string_split(query, '&')) END)::BIGINT
                  AS n_params
              FROM b
            )
            SELECT o_orderkey,
              len(segs)::BIGINT AS depth,
              n_params,
              len(segs) > 12 AS trap_deep,
              len(list_filter(segs,
                  s -> len(list_filter(segs, x -> x = s)) >= 3)) > 0
                AS trap_repeat,
              n_params > 10 AS trap_params,
              regexp_matches(lower(query),
                '(^|&)(phpsessid|jsessionid|sessionid|session_id|sess'
                || '|sid|cfid|cftoken|zenid|aspsessionid[a-z]*)=')
                AS trap_session,
              len(list_filter(segs, s -> regexp_matches(s,
                  '^(19|20)[0-9]{2}(-[0-9]{2}(-[0-9]{2})?)?$'))) >= 2
                AS trap_calendar,
              ulen > 2048 AS trap_long,
              (len(segs) > 12
               OR len(list_filter(segs,
                    s -> len(list_filter(segs, x -> x = s)) >= 3)) > 0
               OR n_params > 10
               OR regexp_matches(lower(query),
                  '(^|&)(phpsessid|jsessionid|sessionid|session_id'
                  || '|sess|sid|cfid|cftoken|zenid|aspsessionid[a-z]*)=')
               OR len(list_filter(segs, s -> regexp_matches(s,
                    '^(19|20)[0-9]{2}(-[0-9]{2}(-[0-9]{2})?)?$'))) >= 2
               OR ulen > 2048) AS is_trap
            FROM s
        """,
        # q_chunk_docs twin: same whitespace tokens, starts at every
        # stride while start < n (range excludes n), 1-based inclusive
        # list slice clamped at the tail; chunk_id = start // stride
        "q_chunk_docs": r"""
            WITH t AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id, toks,
                     unnest(range(0, len(toks), 12)) AS start_tok
              FROM t
            )
            SELECT doc_id,
              (start_tok // 12)::BIGINT AS chunk_id,
              start_tok::BIGINT AS start_tok,
              len(toks[start_tok + 1 : start_tok + 16])::BIGINT
                AS n_chunk_tokens,
              md5(array_to_string(
                  toks[start_tok + 1 : start_tok + 16], ' '))
                AS chunk_md5
            FROM s
        """,
        # q_sitemap twin: identical urlset synthesis, then the same
        # block split (</url>|</sitemap>) + first-loc/lastmod extract
        "q_sitemap": r"""
            WITH u AS (
              SELECT o_orderkey,
                '<?xml version="1.0"?><urlset><url><loc> http://s'
                || (o_custkey % 20)::VARCHAR || '.test/p'
                || (o_orderkey % 100)::VARCHAR || ' </loc>'
                || CASE WHEN o_orderkey % 3 = 0
                        THEN '<lastmod>2024-0'
                             || ((o_orderkey % 9) + 1)::VARCHAR
                             || '-01</lastmod>'
                        ELSE '' END
                || '</url><url><loc>http://s'
                || (o_custkey % 20)::VARCHAR || '.test/q'
                || (o_orderkey % 7)::VARCHAR
                || '</loc></url></urlset>' AS body
              FROM orders
            ), b AS (
              SELECT o_orderkey,
                unnest(regexp_split_to_array(body,
                       '</url>|</sitemap>')) AS blk
              FROM u
            ), e AS (
              SELECT o_orderkey,
                trim(regexp_extract(blk, '<loc>([^<]*)</loc>', 1))
                  AS loc,
                trim(regexp_extract(blk,
                     '<lastmod>([^<]*)</lastmod>', 1)) AS lastmod
              FROM b
            )
            SELECT o_orderkey, loc, lastmod
            FROM e WHERE loc <> ''
        """,
        # q_anchor_text twin: identical pair synthesis, then the same
        # (href,text)-grain count + per-href modal pick (count DESC,
        # text ASC) and target totals
        "q_anchor_text": """
            WITH pairs AS (
              SELECT '/t' || (l_orderkey % 30)::VARCHAR AS href,
                     (['click here', 'read more', 'details', 'home'])
                       [(l_partkey % 4) + 1] AS text
              FROM lineitem
            ), per_text AS (
              SELECT href, text, count(*) AS cnt
              FROM pairs GROUP BY href, text
            ), ranked AS (
              SELECT href, text, cnt,
                     row_number() OVER (PARTITION BY href
                       ORDER BY cnt DESC, text ASC) AS rn
              FROM per_text
            )
            SELECT href,
                   sum(cnt)::BIGINT AS n_refs,
                   count(*)::BIGINT AS n_texts,
                   max(CASE WHEN rn = 1 THEN text END) AS top_text
            FROM ranked GROUP BY href
        """,
        # q_surt_keys twin: known canonical parts of the dirty-URL
        # fixture, same reversed-label)/path?query assembly
        "q_surt_keys": f"""
            WITH u AS (
              SELECT {_ORACLE_URL_NORM} AS url_norm,
                'src' || (o_custkey % 20)::VARCHAR || '.example.com'
                  AS host,
                '/p%20' || (o_orderkey % 50)::VARCHAR AS path,
                'a=' || (o_custkey % 5)::VARCHAR
                  || '&b=' || (o_orderkey % 3)::VARCHAR AS query
              FROM orders
            )
            SELECT url_norm,
              array_to_string(list_reverse(string_split(host, '.')),
                              ',')
                || ')' || path
                || CASE WHEN query <> '' THEN '?' || query
                        ELSE '' END AS surt,
              count(*)::BIGINT AS n
            FROM u GROUP BY 1, 2
        """,
        # q_host_backoff twin: identical status synthesis, NULL/429/
        # 5xx = error, rational error rate + breaker flag in int64
        "q_host_backoff": """
            WITH r AS (
              SELECT user_id::VARCHAR AS host,
                CASE WHEN event_type = 'error' THEN
                       CASE event_id % 3 WHEN 0 THEN NULL
                            WHEN 1 THEN 429 ELSE 503 END
                     WHEN event_type = 'view' THEN 301
                     ELSE 200 END AS status
              FROM events
            ), a AS (
              SELECT host, count(*) AS n_fetches,
                sum(CASE WHEN status IS NULL OR status = 429
                              OR status >= 500
                         THEN 1 ELSE 0 END)::BIGINT AS n_errors
              FROM r GROUP BY host
            )
            SELECT host, n_fetches, n_errors,
              (n_errors * 1000000 // n_fetches)::BIGINT
                AS error_rate_scaled,
              (n_errors * 1000000 // n_fetches) >= 300000
                AND n_fetches >= 5 AS backoff
            FROM a
        """,
        # q_sniff_format twin: identical hex synthesis, blob
        # roundtrip (hex(unhex(...))), same 16-byte-prefix CASE
        "q_sniff_format": """
            WITH u AS (
              SELECT o_orderkey,
                CASE o_orderkey % 7
                WHEN 0 THEN 'FFD8FFE0'
                            || hex('t' || (o_custkey % 97)::VARCHAR)
                WHEN 1 THEN '89504E470D0A1A0A'
                            || hex('t' || (o_custkey % 97)::VARCHAR)
                WHEN 2 THEN '474946383961'
                            || hex('t' || (o_custkey % 97)::VARCHAR)
                WHEN 3 THEN '52494646AABBCCDD57454250'
                            || hex('t' || (o_custkey % 97)::VARCHAR)
                WHEN 4 THEN '424D'
                            || hex('t' || (o_custkey % 97)::VARCHAR)
                WHEN 5 THEN hex('t' || (o_custkey % 97)::VARCHAR)
                ELSE 'FF' END AS hx
              FROM orders
            ), b AS (
              SELECT o_orderkey,
                     substring(hex(unhex(hx)), 1, 32) AS h
              FROM u
            )
            SELECT o_orderkey,
              CASE
                WHEN h LIKE 'FFD8FF%' THEN 'jpeg'
                WHEN h LIKE '89504E470D0A1A0A%' THEN 'png'
                WHEN h LIKE '474946383761%'
                     OR h LIKE '474946383961%' THEN 'gif'
                WHEN substring(h, 1, 8) = '52494646'
                     AND substring(h, 17, 8) = '57454250' THEN 'webp'
                WHEN h LIKE '424D%' THEN 'bmp'
                ELSE 'unknown' END AS fmt_sniffed
            FROM b
        """,
        # q_robots_sitemaps twin: identical robots text (chr(10)
        # newlines, chr(9) the tab) and the same flag-free
        # case-insensitive directive regex (robots.py SITEMAP_LINE_RE)
        "q_robots_sitemaps": r"""
            WITH t AS (
              SELECT o_orderkey,
                CASE o_orderkey % 3
                WHEN 0 THEN
                  'User-agent: *' || chr(10) || 'Disallow: /private'
                  || chr(10) || 'Sitemap: http://s'
                  || (o_custkey % 20)::VARCHAR || '.test/sm'
                  || (o_orderkey % 50)::VARCHAR || '.xml' || chr(10)
                WHEN 1 THEN
                  'sitemap: http://s' || (o_custkey % 20)::VARCHAR
                  || '.test/a.xml' || chr(10) || 'SITEMAP:' || chr(9)
                  || 'http://s' || (o_custkey % 20)::VARCHAR
                  || '.test/b' || (o_orderkey % 9)::VARCHAR || '.xml'
                ELSE 'User-agent: *' || chr(10) || 'Disallow:'
                END AS txt
              FROM orders
            )
            SELECT o_orderkey,
              unnest(regexp_extract_all(txt,
                '(?:^|\n)[ \t]*[Ss][Ii][Tt][Ee][Mm][Aa][Pp]'
                || '[ \t]*:[ \t]*([^ \t\r\n]+)', 1)) AS sitemap_url
            FROM t
        """,
        # q_recrawl twin: identical lag window (ties broken by
        # event_id), rational λ = changes·10^6 // fetches, staleness
        # priority = λ · (corpus max ts − last fetch) — all int64
        "q_recrawl": """
            WITH f AS (
              SELECT user_id AS url_id,
                     epoch_us(ts) // 1000000 AS ts_s,
                     event_type AS fp, event_id
              FROM events
            ), o AS (
              SELECT url_id, ts_s,
                CASE WHEN lag(fp) OVER w IS NOT NULL
                          AND fp <> lag(fp) OVER w
                     THEN 1 ELSE 0 END AS changed
              FROM f
              WINDOW w AS (PARTITION BY url_id ORDER BY ts_s, event_id)
            ), p AS (
              SELECT url_id, count(*) AS n_fetches,
                     sum(changed)::BIGINT AS n_changes,
                     max(ts_s)::BIGINT AS last_fetch_s
              FROM o GROUP BY url_id
            ), nowt AS (SELECT max(ts_s)::BIGINT AS now_s FROM f)
            SELECT url_id, n_fetches, n_changes, last_fetch_s,
              (n_changes * 1000000 // n_fetches)::BIGINT
                AS lambda_scaled,
              ((SELECT now_s FROM nowt) - last_fetch_s)::BIGINT
                AS age_s,
              ((n_changes * 1000000 // n_fetches)
               * ((SELECT now_s FROM nowt) - last_fetch_s))::BIGINT
                AS priority
            FROM p
        """,
        "q_redact_pii": pii_oracle,
        # same LM CTEs as q_unigram_logprob, then: exact double score →
        # quantise (floor ×1000) → per-source histogram → descending
        # cumulative mass → tercile band per quantised score
        "q_quality_buckets": f"""
            WITH u AS (
              SELECT doc_id, unnest({toks}) AS tok
              FROM documents
            ), tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM u GROUP BY 1, 2
            ), vocab AS (
              SELECT tok, sum(tf) AS cnt FROM tf GROUP BY tok
            ), tot AS (
              SELECT sum(cnt)::DOUBLE AS n_total,
                     count(*)::DOUBLE AS v_size
              FROM vocab
            ), s AS (
              SELECT doc_id,
                     (sum(tf * floor(ln(cnt::DOUBLE + 1.0)
                                     * 1000000000)::BIGINT)
                        / sum(tf)
                      - floor(ln(n_total + 1.0 * v_size)
                              * 1000000000)::BIGINT)
                       / 1000000000.0 AS logprob
              FROM tf JOIN vocab USING (tok), tot
              GROUP BY doc_id, n_total, v_size
            ), d AS (
              SELECT s.doc_id, documents.source, logprob,
                     floor(logprob * 1000)::BIGINT AS q
              FROM s JOIN documents USING (doc_id)
            ), hist AS (
              SELECT source, q, count(*) AS cnt FROM d GROUP BY 1, 2
            ), buckets AS (
              SELECT source, q,
                     floor(3.0 * (sum(cnt) OVER (PARTITION BY source
                                                 ORDER BY q DESC)
                                  - cnt)
                           / (sum(cnt) OVER (PARTITION BY source)))::INT
                       AS bucket
              FROM hist
            )
            SELECT d.doc_id, d.source, b.bucket,
                   floor(d.logprob * 1000000)::BIGINT AS lp_scaled
            FROM d JOIN buckets b USING (source, q)
        """,
        # band-blocked Hamming pairs + recursive-CTE connected
        # components over the SAME deterministic (id, phash) rows the
        # Spark fixture emits (fixtures.corpus_record, inlined)
        "q_image_dedup_cluster": f"""
            WITH RECURSIVE f(doc_id, fp) AS (
              VALUES {_sql_neardup_phashes(48)}
            ), bands(band, mask) AS (VALUES {_sql_cluster_bands()}),
            x AS (
              SELECT doc_id, fp, band, fp & mask AS key FROM f, bands
            ), e0 AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM x a JOIN x b USING (band, key)
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.fp, b.fp)) <= 6
            ), e AS (
              SELECT id_a AS src, id_b AS dst FROM e0
              UNION
              SELECT id_b, id_a FROM e0
            ), reach(id, comp) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, reach.comp
              FROM e JOIN reach ON e.dst = reach.id
            )
            SELECT id::BIGINT AS doc_id, min(comp)::BIGINT AS component,
                   (id = min(comp)) AS is_survivor
            FROM reach GROUP BY id
        """,
        # corpus-wide bigram vocabulary: count agg + deterministic
        # top-k (count DESC, gram ASC — Spark runs it as TakeOrdered)
        "q_ngram_topk": f"""
            WITH t AS (SELECT {toks} AS toks FROM documents),
            g AS (
              SELECT unnest(list_transform(
                       range(1, greatest(len(toks) - 1, 0) + 1),
                       i -> toks[i] || ' ' || toks[i + 1])) AS gram
              FROM t
            )
            SELECT gram, count(*) AS n_occurrences
            FROM g GROUP BY 1
            ORDER BY n_occurrences DESC, gram ASC LIMIT 50
        """,
        # Okapi BM25 vs the fixed probe query; per-(doc,term) score
        # floor-scaled to int64 BEFORE the document sum (long
        # arithmetic — order-independent), constants inlined as exact
        # Python-double reprs so both engines see identical literals
        "q_bm25": f"""
            WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
            tot AS (SELECT count(*) AS n_docs,
                           sum(dl) AS total_tokens FROM dl),
            qtf AS (
              SELECT doc_id, tok, count(*) AS tf FROM tok
              WHERE tok IN ('join', 'quantum', 'spark', 'window')
              GROUP BY 1, 2
            ),
            dft AS (SELECT tok, count(*) AS df FROM qtf GROUP BY 1),
            sc AS (
              SELECT q.doc_id,
                     floor((ln((tot.n_docs - dft.df + 0.5)
                               / (dft.df + 0.5) + 1.0)
                            * ((q.tf * {1.2 + 1.0!r})
                               / (q.tf + {1.2!r}
                                  * ({1.0 - 0.75!r}
                                     + ({0.75!r} * dl.dl)
                                       / (tot.total_tokens::DOUBLE
                                          / tot.n_docs)))))
                           * 1000000000)::BIGINT AS ts
              FROM qtf q JOIN dft USING (tok) JOIN dl USING (doc_id)
              CROSS JOIN tot
            ),
            s AS (SELECT doc_id, sum(ts)::BIGINT AS s FROM sc GROUP BY 1)
            SELECT dl.doc_id, dl.dl AS n_tokens,
                   floor(coalesce(s.s::DOUBLE / 1000000000, 0.0)
                         * 1000000)::BIGINT AS bm25_scaled
            FROM dl LEFT JOIN s USING (doc_id)
        """,
        # deterministic per-source sample: 20 smallest md5(doc_id)
        # per source, doc_id tiebreak — reproducible, growth-stable
        "q_stratified_sample": """
            WITH r AS (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC)
                       AS sample_rank
              FROM documents
            )
            SELECT doc_id, source, sample_rank
            FROM r WHERE sample_rank <= 20
        """,
        # caption-collision clusters over the re-synthesised 40-base
        # caption pool (the ' #<k>' tag the operator strips is what
        # makes raw captions unique — collisions exist only after
        # normalisation, so the oracle groups on the tagless base)
        "q_caption_dups": f"""
            WITH v AS (
              SELECT {_SQL_ADJ} AS adj, {_SQL_NOUN} AS noun,
                     {_SQL_VERB} AS verb
            ),
            t AS (SELECT range AS k FROM range(256)),
            c AS (
              SELECT k, 'a ' || adj[((k % 40) % 8) + 1] || ' '
                          || noun[(((k % 40) // 8) % 8) + 1] || ' '
                          || verb[(((k % 40) // 64) % 8) + 1] AS base
              FROM t, v
            ),
            cl AS (
              SELECT base, min(printf('img_%08d', k)) AS cluster_id,
                     count(*) AS cluster_size
              FROM c GROUP BY 1 HAVING count(*) >= 2
            )
            SELECT printf('img_%08d', c.k) AS image_id,
                   cl.cluster_id, cl.cluster_size
            FROM c JOIN cl USING (base)
        """,
        # SQ8 quantised cosine: per-dim min/max bounds → clamped int8
        # codes → bin-centre reconstruction; list-ordered sums so the
        # norm fold matches Spark; num = dq[1] exactly (unit-basis
        # query — adding 0.0 terms never changes a double)
        "q_sq8_topk": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), d AS (
              SELECT vec_id, unnest(v) AS x,
                     generate_subscripts(v, 1) AS pos
              FROM e
            ), bnd AS (
              SELECT pos, min(x) AS lo, max(x) AS hi FROM d GROUP BY pos
            ), bl AS (
              SELECT list(lo ORDER BY pos) AS lo,
                     list(hi ORDER BY pos) AS hi
              FROM bnd
            ), dq AS (
              SELECT vec_id,
                     list_transform(range(1, len(v) + 1), i ->
                       bl.lo[i]
                       + ((CASE WHEN bl.hi[i] > bl.lo[i]
                           THEN least(255, greatest(0,
                             floor((v[i] - bl.lo[i])
                                   / (bl.hi[i] - bl.lo[i])
                                   * 256.0)::INT))
                           ELSE 0 END)::DOUBLE + 0.5)
                         * (bl.hi[i] - bl.lo[i]) / 256.0) AS dqv
              FROM e, bl
            ), s AS (
              SELECT vec_id, dqv[1] AS num,
                     sqrt(list_aggregate(
                       list_transform(dqv, x -> x * x), 'sum')) AS nrm
              FROM dq
            )
            SELECT vec_id,
                   round(CASE WHEN nrm > 0 THEN num / nrm
                              ELSE 0.0 END, 6) AS cosine_q6
            FROM s
            ORDER BY cosine_q6 DESC, vec_id ASC LIMIT 10
        """,
        # CLIP alignment gate: identical double shape as Spark (the
        # q_semantic_dedup discipline) — sequential dot over the cast
        # double list, sqrt-of-sum norms, raw dot / (na*nb), zero-norm
        # -> 0.0 — so the 0.3 keep decision can never flip between
        # engines
        "q_clip_gate": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), n AS (SELECT count(*) AS n FROM embeddings),
            p AS (
              SELECT e.vec_id,
                     CASE WHEN e.vec_id % 4 = 0
                          THEN (e.vec_id + 37) % n.n
                          ELSE e.vec_id END AS txt_id,
                     e.v AS iv
              FROM e, n
            ), j AS (
              SELECT p.vec_id, p.iv, t.v AS tv
              FROM p JOIN e t ON t.vec_id = p.txt_id
            ), s AS (
              SELECT vec_id,
                     list_aggregate(list_transform(
                       range(1, len(iv) + 1), i -> iv[i] * tv[i]),
                       'sum') AS dt,
                     sqrt(list_aggregate(list_transform(iv, x -> x * x),
                       'sum')) AS na,
                     sqrt(list_aggregate(list_transform(tv, x -> x * x),
                       'sum')) AS nb
              FROM j
            ), c AS (
              SELECT vec_id,
                     CASE WHEN na > 0 AND nb > 0 THEN dt / (na * nb)
                          ELSE 0.0 END AS cos
              FROM s
            )
            SELECT vec_id,
                   floor(cos * 100000)::BIGINT AS cos_scaled,
                   cos >= 0.3 AS keep
            FROM c
        """,
        # domain blocklist gate: same suffix generation (>= 2 labels,
        # host itself, no bare TLD), equi join, longest-match reduce
        "q_blocklist": """
            WITH u AS (
              SELECT event_id,
                     'h' || (event_id % 50)::VARCHAR ||
                     CASE WHEN event_id % 3 = 0 THEN '.ads.example.com'
                          WHEN event_id % 3 = 1 THEN '.example.com'
                          ELSE '.clean.org' END AS host
              FROM events
            ), uu AS (
              SELECT event_id, 'http://' || host || '/p' AS url, host
              FROM u
            ), bl(domain) AS (
              VALUES ('ads.example.com'), ('example.com'),
                     ('tracker.net'), ('h7.clean.org')
            ), s AS (
              SELECT url,
                     unnest(list_transform(
                       range(0, greatest(
                         len(string_split(host, '.')) - 1, 1)),
                       i -> array_to_string(
                         string_split(host, '.')[(i+1):], '.'))) AS cand
              FROM uu
            ), hits AS (
              SELECT url, arg_max(cand, len(cand)) AS blocked_domain
              FROM s JOIN bl ON s.cand = bl.domain
              GROUP BY url
            )
            SELECT uu.event_id, uu.url,
                   coalesce(hits.blocked_domain, '') AS blocked_domain,
                   hits.blocked_domain IS NULL AS keep
            FROM uu LEFT JOIN hits USING (url)
        """,
        # line-level boilerplate strip: same injections, same
        # trim-md5 line keys, same >= min_docs distinct-doc threshold
        # per source, same < 6-char exemption, same reassembly order
        "q_boilerplate": """
            WITH d AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 3 = 0
                          THEN 'SUBSCRIBE TO OUR NEWSLETTER' || chr(10)
                          ELSE '' END
                     || text || chr(10) || '(c) 2026 ' || source
                     || ' media group'
                     || CASE WHEN doc_id % 7 = 0
                             THEN chr(10) || 'short' ELSE '' END AS text
              FROM documents
            ), l AS (
              SELECT doc_id, source,
                     unnest(string_split(text, chr(10))) AS line
              FROM d
            ), k AS (
              SELECT source, doc_id, md5(trim(line)) AS lh
              FROM l WHERE len(trim(line)) >= 6
            ), bp AS (
              SELECT source, lh FROM k
              GROUP BY source, lh HAVING count(DISTINCT doc_id) >= 3
            ), bs AS (
              SELECT source, list(lh) AS bl FROM bp GROUP BY source
            ), o AS (
              SELECT d.doc_id, d.source,
                     string_split(d.text, chr(10)) AS ls,
                     list_filter(string_split(d.text, chr(10)),
                       x -> len(trim(x)) < 6 OR bs.bl IS NULL
                            OR NOT list_contains(bs.bl, md5(trim(x))))
                       AS kept
              FROM d LEFT JOIN bs USING (source)
            )
            SELECT doc_id, source,
                   len(ls)::BIGINT AS n_lines,
                   (len(ls) - len(kept))::BIGINT AS n_stripped,
                   md5(array_to_string(kept, chr(10))) AS clean_md5
            FROM o
        """,
        # epoch assembly: same IEEE-double floor((wt-floor(wt))*1e6)
        # threshold, same md5-bucket contract, same copy fan-out and
        # order-key string
        "q_epochs": """
            WITH w(source, wt) AS (
              VALUES ('src0', 2.25::DOUBLE), ('src1', 1.0::DOUBLE),
                     ('src2', 0.5::DOUBLE), ('src3', 3.0::DOUBLE)
            ), d AS (
              SELECT doc_id, dd.source, wt
              FROM documents dd JOIN w USING (source)
            ), n AS (
              SELECT doc_id, source,
                     floor(wt)::BIGINT
                     + CASE WHEN (('0x' || substr(
                           md5('epoch|' || doc_id::VARCHAR),
                           1, 15))::BIGINT % 1000000)
                         < floor((wt - floor(wt)) * 1000000)::BIGINT
                       THEN 1 ELSE 0 END AS n
              FROM d
            ), e AS (
              SELECT doc_id, source, unnest(range(n)) AS copy
              FROM n WHERE n > 0
            )
            SELECT doc_id, source, copy::BIGINT AS copy,
                   md5('epoch|' || doc_id::VARCHAR || '|'
                       || copy::VARCHAR) AS order_key
            FROM e
        """,
        # WARC roundtrip: same record format, same marker split (the
        # leading empty chunk shifts ordinals: 1-based subscripts - 2
        # == Spark's 0-based posexplode - 1), same header regexes,
        # same Content-Length payload carve
        "q_warc": """
            WITH r AS (
              SELECT source, doc_id,
                     'WARC/1.0' || chr(10)
                     || 'WARC-Type: response' || chr(10)
                     || 'WARC-Target-URI: http://site/'
                       || doc_id::VARCHAR || chr(10)
                     || 'WARC-Date: 2026-01-01T00:00:00Z' || chr(10)
                     || 'Content-Length: ' || len(text)::VARCHAR
                       || chr(10) || chr(10)
                     || text || chr(10) || chr(10) AS rec
              FROM documents
            ), a AS (
              SELECT source AS file_id,
                     string_agg(rec, '' ORDER BY doc_id) AS content
              FROM r GROUP BY source
            ), s AS (
              SELECT file_id,
                     string_split_regex(content,
                       'WARC/1\\.0' || chr(10)) AS l
              FROM a
            ), e AS (
              SELECT file_id, unnest(l) AS rec,
                     generate_subscripts(l, 1) AS pos
              FROM s
            ), p AS (
              SELECT file_id, (pos - 2)::BIGINT AS record_no, rec
              FROM e WHERE rec <> ''
            ), x AS (
              SELECT file_id, record_no,
                     regexp_extract(rec,
                       '(?s)^(.*?)' || chr(10) || chr(10), 1) AS hdrs,
                     regexp_extract(rec,
                       '(?s)^.*?' || chr(10) || chr(10) || '(.*)$', 1)
                       AS body
              FROM p
            )
            SELECT file_id, record_no,
                   regexp_extract(hdrs,
                     '(?im)^WARC-Type:\\s*(\\S+)\\s*$', 1) AS warc_type,
                   regexp_extract(hdrs,
                     '(?im)^WARC-Target-URI:\\s*(\\S+)\\s*$', 1) AS url,
                   CAST(regexp_extract(hdrs,
                     '(?im)^Content-Length:\\s*(\\d+)\\s*$', 1)
                     AS BIGINT) AS content_length,
                   md5(substr(body, 1,
                     CAST(regexp_extract(hdrs,
                       '(?im)^Content-Length:\\s*(\\d+)\\s*$', 1)
                       AS BIGINT))) AS payload_md5
            FROM x
        """,
        # Byte-mode WARC: the oracle recomposes the EXPECTED record
        # table directly (the reader's carve is byte-imperative, the
        # residue is relational) — octet Content-Length via
        # octet_length(encode(...)), payload md5 over UTF-8 bytes
        "q_warc_bytes": """
            WITH p AS (
              SELECT source AS file_id, doc_id,
                     text || ' — café №' || doc_id::VARCHAR ||
                     CASE WHEN doc_id % 9 = 0
                          THEN chr(10) || 'WARC/1.0' || chr(10) ||
                               'WARC-Type: decoy' || chr(10) ||
                               chr(10) || 'not a record'
                          ELSE '' END AS payload
              FROM documents
            )
            SELECT file_id,
                   (row_number() OVER (PARTITION BY file_id
                                       ORDER BY doc_id)
                    - 1)::BIGINT AS record_no,
                   'response' AS warc_type,
                   'http://site/' || doc_id::VARCHAR AS url,
                   octet_length(encode(payload))::BIGINT
                     AS content_length,
                   md5(payload) AS payload_md5
            FROM p
        """,
        # WET extraction: the oracle composes the EXPECTED visible
        # text directly — title block, unescaped heading,
        # whitespace-collapsed body, inline anchor text joined into
        # its sentence — script/style payloads absent
        "q_wet": """
            WITH c AS (
              SELECT doc_id,
                     trim(regexp_replace(text, '\\s+', ' ', 'g'))
                       AS body
              FROM documents
            ), e AS (
              SELECT doc_id,
                     'Doc ' || doc_id::VARCHAR || chr(10)
                     || 'Doc ' || doc_id::VARCHAR || ' & heading'
                       || chr(10)
                     || body || chr(10)
                     || 'Visit link ' || doc_id::VARCHAR || ' now.'
                       AS wet
              FROM c
            )
            SELECT doc_id, len(wet)::BIGINT AS n_chars,
                   md5(wet) AS wet_md5
            FROM e
        """,
        # BPE pair statistics: same tokenisation, same char+</w>
        # symbol sequence, same freq-weighted adjacent-pair sum,
        # same (count desc, pair asc) deterministic top-40
        "q_bpe_pairs": f"""
            WITH t AS (
              SELECT {_ORACLE_TOKS} AS toks FROM documents
            ), w AS (
              SELECT unnest(toks) AS word FROM t
            ), f AS (
              SELECT word, count(*) AS freq FROM w GROUP BY word
            ), s AS (
              SELECT freq,
                     list_append(list_transform(
                       range(1, len(word) + 1), i -> word[i]),
                       '</w>') AS syms
              FROM f
            ), p AS (
              SELECT freq,
                     unnest(list_transform(range(1, len(syms)),
                       i -> {{'a': syms[i], 'b': syms[i+1]}})) AS pr
              FROM s
            )
            SELECT pr.a AS a, pr.b AS b,
                   sum(freq)::BIGINT AS pair_count
            FROM p GROUP BY 1, 2
            ORDER BY pair_count DESC, a, b LIMIT 40
        """,
        # Gopher rules: same injections, same whitespace-word split,
        # same exact-int64 cross-multiplied ratio comparisons
        "q_gopher": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN '- ' ELSE '' END
                     || text
                     || CASE WHEN doc_id % 4 = 0
                             THEN ' of the data have' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' ## ... ## ... ## ... ## ...'
                             ELSE '' END AS text
              FROM documents
            ), m AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '') AS words,
                     list_transform(string_split(text, chr(10)),
                                    l -> trim(l)) AS tl
              FROM d
            ), s AS (
              SELECT doc_id,
                     len(words)::BIGINT AS n_words,
                     list_aggregate(list_transform(words,
                       w -> len(w)::BIGINT), 'sum') AS total_chars,
                     len(list_filter(words, w ->
                       regexp_matches(w, '[a-zA-Z]')))::BIGINT
                       AS n_alpha,
                     (len(text)
                      - len(replace(text, '#', '')))::BIGINT AS n_hash,
                     ((len(text) - len(replace(text, '...', '')))
                      // 3)::BIGINT AS n_dots,
                     len(tl)::BIGINT AS n_lines,
                     len(list_filter(tl, l -> l LIKE '- %'
                       OR l LIKE '* %' OR l LIKE chr(8226) || '%'))
                       ::BIGINT AS n_bullet,
                     len(list_filter(tl, l -> l LIKE '%...'))::BIGINT
                       AS n_ell,
                     (list_contains(list_transform(words,
                        w -> lower(w)), 'the')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'be')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'to')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'of')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'and')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'that')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'have')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'with')::INT)::BIGINT AS n_stop
              FROM m
            )
            SELECT doc_id, n_words,
                   (n_words >= 10 AND n_words <= 100000) AS words_ok,
                   (total_chars >= 3 * n_words
                    AND total_chars <= 10 * n_words) AS wordlen_ok,
                   (10 * (n_hash + n_dots) <= n_words) AS symbol_ok,
                   (10 * n_bullet <= 9 * n_lines) AS bullet_ok,
                   (10 * n_ell <= 3 * n_lines) AS ellipsis_ok,
                   (5 * n_alpha >= 4 * n_words) AS alpha_ok,
                   (n_stop >= 2) AS stopword_ok,
                   ((n_words >= 10 AND n_words <= 100000)
                    AND (total_chars >= 3 * n_words
                         AND total_chars <= 10 * n_words)
                    AND (10 * (n_hash + n_dots) <= n_words)
                    AND (10 * n_bullet <= 9 * n_lines)
                    AND (10 * n_ell <= 3 * n_lines)
                    AND (5 * n_alpha >= 4 * n_words)
                    AND (n_stop >= 2)) AS keep
            FROM s
        """,
        # Gopher repetition: same text synthesis; dup counting done
        # relationally (GROUP BY unit: dup = sum(c-1), dup chars =
        # sum((c-1)*len)) vs Spark's per-row sorted adjacency — same
        # totals; flags are the same int64 cross-multiplications
        "q_gopher_rep": """
            WITH t AS (
              SELECT doc_id,
                     'Intro line ' || doc_id::VARCHAR || chr(10)
                       || substring(text, 1, 60)
                     || chr(10) || chr(10)
                     || 'Body ' || substring(text, 5, 40)
                     || CASE WHEN doc_id % 4 = 0
                             THEN chr(10) || substring(text, 1, 60)
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN chr(10) || chr(10) || 'Body '
                                  || substring(text, 5, 40)
                             ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                             THEN chr(10) || chr(10) || 'Intro line '
                                  || doc_id::VARCHAR || chr(10)
                                  || substring(text, 1, 60)
                                  || chr(10) || chr(10)
                                  || 'Intro line ' || doc_id::VARCHAR
                                  || chr(10) || substring(text, 1, 60)
                             ELSE '' END AS text
              FROM documents
            ), lu AS (
              SELECT doc_id, unnest(list_filter(list_transform(
                       string_split(text, chr(10)), x -> trim(x)),
                       x -> x <> '')) AS u
              FROM t
            ), lg AS (
              SELECT doc_id, u, count(*) AS c, len(u) AS l
              FROM lu GROUP BY doc_id, u
            ), la AS (
              SELECT doc_id, sum(c)::BIGINT AS n,
                     sum(c - 1)::BIGINT AS dup,
                     sum(c * l)::BIGINT AS chars,
                     sum((c - 1) * l)::BIGINT AS dchars
              FROM lg GROUP BY doc_id
            ), pu AS (
              SELECT doc_id, unnest(list_filter(list_transform(
                       string_split_regex(text, '\\n{2,}'),
                       x -> trim(x)), x -> x <> '')) AS u
              FROM t
            ), pg AS (
              SELECT doc_id, u, count(*) AS c, len(u) AS l
              FROM pu GROUP BY doc_id, u
            ), pa AS (
              SELECT doc_id, sum(c)::BIGINT AS n,
                     sum(c - 1)::BIGINT AS dup,
                     sum(c * l)::BIGINT AS chars,
                     sum((c - 1) * l)::BIGINT AS dchars
              FROM pg GROUP BY doc_id
            )
            SELECT t.doc_id,
                   coalesce(la.n, 0)::BIGINT AS n_lines,
                   coalesce(la.dup, 0)::BIGINT AS dup_lines,
                   coalesce(la.chars, 0)::BIGINT AS line_chars,
                   coalesce(la.dchars, 0)::BIGINT AS dup_line_chars,
                   coalesce(pa.n, 0)::BIGINT AS n_paras,
                   coalesce(pa.dup, 0)::BIGINT AS dup_paras,
                   coalesce(pa.chars, 0)::BIGINT AS para_chars,
                   coalesce(pa.dchars, 0)::BIGINT AS dup_para_chars,
                   (10 * coalesce(la.dup, 0)
                    <= 3 * coalesce(la.n, 0)) AS line_dup_ok,
                   (5 * coalesce(la.dchars, 0)
                    <= coalesce(la.chars, 0)) AS line_char_ok,
                   (10 * coalesce(pa.dup, 0)
                    <= 3 * coalesce(pa.n, 0)) AS para_dup_ok,
                   (5 * coalesce(pa.dchars, 0)
                    <= coalesce(pa.chars, 0)) AS para_char_ok,
                   ((10 * coalesce(la.dup, 0)
                     <= 3 * coalesce(la.n, 0))
                    AND (5 * coalesce(la.dchars, 0)
                         <= coalesce(la.chars, 0))
                    AND (10 * coalesce(pa.dup, 0)
                         <= 3 * coalesce(pa.n, 0))
                    AND (5 * coalesce(pa.dchars, 0)
                         <= coalesce(pa.chars, 0))) AS keep
            FROM t
            LEFT JOIN la ON t.doc_id = la.doc_id
            LEFT JOIN pa ON t.doc_id = pa.doc_id
        """,
        # C4 rules: same line synthesis, same terminal-punct +
        # min-words + javascript line gate, same doc-level drops
        "q_c4": """
            WITH d AS (
              SELECT doc_id,
                     'This sentence about ' || source
                     || ' has plenty of words.' || chr(10)
                     || 'short line' || chr(10) || text || '.'
                     || chr(10)
                     || 'Here is another complete sentence with '
                     || 'enough words.'
                     || CASE WHEN doc_id % 6 = 0 THEN chr(10)
                          || 'Enable javascript to view comments on '
                          || 'this page.' ELSE '' END
                     || CASE WHEN doc_id % 9 = 0 THEN chr(10)
                          || 'if (x) { return }' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN chr(10)
                          || 'Lorem ipsum dolor sit amet text filler.'
                          ELSE '' END AS text
              FROM documents
            ), m AS (
              SELECT doc_id, text,
                     string_split(text, chr(10)) AS ls,
                     list_filter(string_split(text, chr(10)), l ->
                       (trim(l) LIKE '%.' OR trim(l) LIKE '%!'
                        OR trim(l) LIKE '%?' OR trim(l) LIKE '%"')
                       AND len(list_filter(regexp_split_to_array(
                             trim(l), '\\s+'), x -> x <> '')) >= 5
                       AND NOT contains(lower(trim(l)), 'javascript'))
                       AS kept
              FROM d
            )
            SELECT doc_id, len(ls)::BIGINT AS n_lines,
                   len(kept)::BIGINT AS n_kept,
                   contains(text, '{') AS has_brace,
                   contains(lower(text), 'lorem ipsum') AS has_lorem,
                   (NOT contains(text, '{')
                    AND NOT contains(lower(text), 'lorem ipsum')
                    AND len(kept) >= 3) AS keep,
                   md5(array_to_string(kept, chr(10))) AS clean_md5
            FROM m
        """,
        # RRF: same md5-ordered rankings, same floor(1e12/(60+rank))
        # int64 terms (integer division == double floor here: no
        # divisor in 61..80 puts the exact quotient at a double
        # boundary), same combinable sum
        # temperature shares: same pow+floor per source, same DIV
        "q_temperature": """
            WITH c AS (
              SELECT source, count(*)::BIGINT AS n_docs
              FROM documents GROUP BY source
            ), w AS (
              SELECT source, n_docs,
                     floor(pow(n_docs::DOUBLE, 0.7)
                           * 1000000)::BIGINT AS w_scaled
              FROM c
            ), t AS (
              SELECT sum(w_scaled)::BIGINT AS wsum FROM w
            )
            SELECT source, n_docs, w_scaled,
                   ((w_scaled * 1000000) // t.wsum)::BIGINT AS p_ppm
            FROM w CROSS JOIN t
        """,
        # nDCG: same ranking/relevance synthesis; identical
        # floor(scale·rel/log2(rank+1)) terms, long sums, DIV ratio
        "q_ndcg": """
            WITH pool AS (
              SELECT d.doc_id, q.query_id
              FROM (SELECT doc_id FROM documents WHERE doc_id < 30) d
              CROSS JOIN (SELECT unnest([0, 1, 2, 3])::BIGINT
                          AS query_id) q
            ), ranked AS (
              SELECT query_id, doc_id AS id, r AS rank FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY md5('r|' || query_id::VARCHAR
                           || '|' || doc_id::VARCHAR), doc_id) AS r
                FROM pool) WHERE r <= 10
            ), rels AS (
              SELECT query_id, doc_id AS id,
                     ((doc_id + query_id) % 4)::BIGINT AS rel
              FROM pool
            ), d AS (
              SELECT ranked.query_id,
                     sum(floor(1000000000
                               * coalesce(rels.rel, 0)::DOUBLE
                               / log2(ranked.rank::DOUBLE + 1.0))
                         ::BIGINT)::BIGINT AS dcg_scaled
              FROM ranked LEFT JOIN rels
                ON ranked.query_id = rels.query_id
               AND ranked.id = rels.id
              GROUP BY ranked.query_id
            ), ideal AS (
              SELECT query_id,
                     floor(1000000000 * rel::DOUBLE
                           / log2(ir::DOUBLE + 1.0))::BIGINT AS t
              FROM (
                SELECT query_id, rel,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY rel DESC, id ASC) AS ir
                FROM rels) WHERE ir <= 10
            ), i AS (
              SELECT query_id, sum(t)::BIGINT AS idcg_scaled
              FROM ideal GROUP BY query_id
            )
            SELECT i.query_id,
                   coalesce(d.dcg_scaled, 0)::BIGINT AS dcg_scaled,
                   i.idcg_scaled,
                   CASE WHEN i.idcg_scaled > 0
                        THEN ((coalesce(d.dcg_scaled, 0) * 1000000)
                              // i.idcg_scaled)::BIGINT
                        ELSE 0 END AS ndcg_ppm
            FROM i LEFT JOIN d ON i.query_id = d.query_id
        """,
        # recall@k: same md5-ranked top-15 synthesis; the hit count
        # via inner join on unique (query, doc) pairs == Spark's
        # semi join; recall_ppm via DuckDB's // == Spark's DIV
        "q_recall_at_k": """
            WITH pool AS (
              SELECT d.doc_id, q.query_id
              FROM (SELECT doc_id FROM documents WHERE doc_id < 40) d
              CROSS JOIN (SELECT unnest([0, 1, 2, 3])::BIGINT
                          AS query_id) q
            ), e AS (
              SELECT query_id, doc_id FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY md5('e' || '|'
                           || query_id::VARCHAR || '|'
                           || doc_id::VARCHAR), doc_id) AS r
                FROM pool) WHERE r <= 15
            ), a AS (
              SELECT query_id, doc_id FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY md5(
                           CASE WHEN query_id = 0 THEN 'e'
                                ELSE 'a' END || '|'
                           || query_id::VARCHAR || '|'
                           || doc_id::VARCHAR), doc_id) AS r
                FROM pool) WHERE r <= 15
            ), h AS (
              SELECT e.query_id, count(*)::BIGINT AS n_hits
              FROM e JOIN a ON e.query_id = a.query_id
                           AND e.doc_id = a.doc_id
              GROUP BY e.query_id
            ), b AS (
              SELECT query_id, count(*)::BIGINT AS n_exact
              FROM e GROUP BY query_id
            )
            SELECT b.query_id, b.n_exact,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   ((coalesce(h.n_hits, 0) * 1000000)
                    // b.n_exact)::BIGINT AS recall_ppm
            FROM b LEFT JOIN h ON b.query_id = h.query_id
        """,
        "q_rrf": """
            WITH p AS (
              SELECT doc_id FROM documents WHERE doc_id < 30
            ), a AS (
              SELECT doc_id, row_number() OVER (
                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rank
              FROM p
              ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT 20
            ), b AS (
              SELECT doc_id, row_number() OVER (
                       ORDER BY md5('b|' || doc_id::VARCHAR), doc_id)
                       AS rank
              FROM p
              ORDER BY md5('b|' || doc_id::VARCHAR), doc_id LIMIT 20
            ), u AS (
              SELECT doc_id,
                     (1000000000000 // (60 + rank))::BIGINT AS term
              FROM a
              UNION ALL
              SELECT doc_id,
                     (1000000000000 // (60 + rank))::BIGINT FROM b
            )
            SELECT doc_id, sum(term)::BIGINT AS rrf_scaled,
                   count(*)::BIGINT AS n_lists
            FROM u GROUP BY doc_id
        """,
        # dataset-card stats: same tokeniser, fingerprint, lang and
        # quality shapes as the q_corpus_clean twin, aggregated per
        # source with an exact distinct
        "q_corpus_stats": f"""
            WITH t AS (
              SELECT doc_id, source, text, {toks} AS toks
              FROM documents
            ), g AS (
              SELECT source, len(toks)::BIGINT AS nt,
                     length(text)::BIGINT AS nc,
                     {_ORACLE_FP} AS fp,
                     ((case when {marker_ratio} >= 0.15
                            then 'en' else 'other' end) = 'en')
                       AS is_lang,
                     ({quality} >= 0.5) AS is_q
              FROM t
            )
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(nt)::BIGINT AS n_tokens,
                   sum(nc)::BIGINT AS n_chars,
                   count(DISTINCT fp)::BIGINT AS n_unique,
                   sum(is_lang::INT)::BIGINT AS n_lang,
                   sum(is_q::INT)::BIGINT AS n_quality
            FROM g GROUP BY source
        """,
        # meta robots: same fixture bodies, same two attribute-order
        # regexes, same normalised ,directive, membership checks
        "q_meta_robots": """
            WITH b AS (
              SELECT event_id,
                     '<html><head>' ||
                     CASE WHEN event_id % 5 = 0
                          THEN '<meta name="robots" '
                               || 'content="noindex, nofollow">'
                          WHEN event_id % 5 = 1
                          THEN '<meta content=''nofollow'' '
                               || 'name=robots>'
                          WHEN event_id % 5 = 2
                          THEN '<meta name=ROBOTS content="NONE">'
                          WHEN event_id % 5 = 3
                          THEN '<meta name="description" '
                               || 'content="noindex">'
                          ELSE '' END
                     || '</head><body>page</body></html>' AS body
              FROM events
            ), x AS (
              SELECT event_id,
                     ',' || regexp_replace(lower(coalesce(
                       nullif(regexp_extract(body,
                         '(?is)<meta\\s[^>]*name\\s*=\\s*["'']?robots'
                         || '["'']?[^>]*?content\\s*=\\s*["'']'
                         || '([^"''>]*)', 1), ''),
                       nullif(regexp_extract(body,
                         '(?is)<meta\\s[^>]*content\\s*=\\s*["'']'
                         || '([^"''>]*)["''][^>]*name\\s*=\\s*["'']?'
                         || 'robots', 1), ''),
                       '')), '\\s+', '', 'g') || ',' AS d
              FROM b
            )
            SELECT event_id,
                   (contains(d, ',noindex,') OR contains(d, ',none,'))
                     AS noindex,
                   (contains(d, ',nofollow,') OR contains(d, ',none,'))
                     AS nofollow
            FROM x
        """,
        # budget apportionment: same int64 div/mod quotas, same
        # largest-remainder rank and tie-break
        # diversity: same per-source ln floor-scale, long sums, DIV;
        # exp is the one pinned-shape float
        "q_diversity": """
            WITH c AS (
              SELECT source, count(*)::BIGINT AS n
              FROM documents GROUP BY source
            ), a AS (
              SELECT count(*)::BIGINT AS n_sources,
                     sum(n)::BIGINT AS n_docs,
                     sum(n * floor(ln(n::DOUBLE)
                                   * 1000000)::BIGINT)::BIGINT
                       AS s
              FROM c
            )
            SELECT n_sources, n_docs,
                   (floor(ln(n_docs::DOUBLE)
                          * 1000000)::BIGINT
                    - (s // n_docs))::BIGINT AS h_scaled,
                   floor(exp((floor(ln(n_docs::DOUBLE)
                                    * 1000000)::BIGINT
                              - (s // n_docs))::DOUBLE
                             / 1000000.0) * 1000)::BIGINT
                     AS effective_milli
            FROM a
        """,
        # readability: same integer sentence/word/vowel-group counts,
        # same pinned float shape milli-floored
        "q_readability": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS words,
                     list_filter(list_transform(
                       string_split_regex(text, '[.!?]+'),
                       x -> trim(x)), x -> x <> '') AS sents
              FROM documents
            ), c AS (
              SELECT doc_id,
                     len(words)::BIGINT AS n_words,
                     greatest(len(sents), 1)::BIGINT AS n_sentences,
                     list_sum(list_transform(words,
                       x -> greatest(len(string_split_regex(lower(x),
                         '[aeiouy]+')) - 1, 1)))::BIGINT
                       AS n_syllables
              FROM w
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   floor((0.39 * (n_words::DOUBLE
                                  / n_sentences::DOUBLE)
                          + 11.8 * (n_syllables::DOUBLE
                                    / n_words::DOUBLE)
                          - 15.59) * 1000)::BIGINT AS fk_milli
            FROM c WHERE n_words > 0
        """,
        # URL features: same synthesis, same host/path/query regexes,
        # same label/segment splits — every feature an exact integer
        "q_url_features": """
            WITH u AS (
              SELECT o_orderkey,
                     'http://'
                     || CASE o_custkey % 3
                        WHEN 0 THEN 'www.blog.'
                        WHEN 1 THEN 'shop.' ELSE '' END
                     || 'site' || (o_custkey % 20)::VARCHAR
                     || CASE WHEN o_orderkey % 4 = 3
                             THEN '.co.uk' ELSE '.com' END
                     || CASE o_orderkey % 4
                        WHEN 0 THEN '/post/2024/'
                          || (o_orderkey % 100)::VARCHAR
                        WHEN 1 THEN '/a/b/c/d/e'
                        WHEN 2 THEN '/item'
                          || (o_orderkey % 1000)::VARCHAR
                          || '?id=' || (o_custkey % 50)::VARCHAR
                          || '&ref=rss'
                        ELSE '/' END AS url
              FROM orders
            ), f AS (
              SELECT o_orderkey, url,
                     lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?'
                       || '([^/?#:]*)', 1)) AS host,
                     regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*'
                       || '([^?#]*)', 1) AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM u
            )
            SELECT o_orderkey, url,
                   nullif(host, '') AS host,
                   nullif(list_filter(string_split(host, '.'),
                          x -> x <> '')[-1], '') AS tld,
                   greatest(len(list_filter(string_split(host, '.'),
                            x -> x <> '')) - 2, 0)::BIGINT
                     AS n_subdomains,
                   len(url)::BIGINT AS url_len,
                   len(path)::BIGINT AS path_len,
                   len(list_filter(string_split(path, '/'),
                       x -> x <> ''))::BIGINT AS path_depth,
                   (CASE WHEN query = '' THEN 0
                         ELSE len(string_split(query, '&'))
                    END)::BIGINT AS n_params,
                   (len(url) - len(regexp_replace(url, '[0-9]', '',
                                                  'g')))::BIGINT
                     AS n_digits
            FROM f
        """,
        # rel=canonical: same two attribute-order regexes, same
        # coalesce(canonical, url) grouping
        "q_rel_canonical": """
            WITH b AS (
              SELECT event_id,
                     'http://s/p' || (event_id % 50)::VARCHAR AS url,
                     '<html><head>'
                     || CASE event_id % 4
                        WHEN 0 THEN '<link rel="canonical" href='
                          || '"http://s/c' || (event_id % 7)::VARCHAR
                          || '">'
                        WHEN 1 THEN '<link href="http://s/c'
                          || (event_id % 7)::VARCHAR
                          || '" rel=canonical>'
                        WHEN 2 THEN '<link rel=canonical href='
                          || chr(39) || 'http://s/c'
                          || (event_id % 7)::VARCHAR || chr(39) || '>'
                        ELSE '<link rel="stylesheet" href="/x.css">'
                        END
                     || '</head><body>p</body></html>' AS body
              FROM events
            ), c AS (
              SELECT url,
                     coalesce(
                       nullif(regexp_extract(body,
                         '(?is)<link\\s[^>]*rel\\s*=\\s*["'']?'
                         || 'canonical["'']?[^>]*href\\s*=\\s*'
                         || '["'']([^"''>]+)', 1), ''),
                       nullif(regexp_extract(body,
                         '(?is)<link\\s[^>]*href\\s*=\\s*'
                         || '["'']([^"''>]+)["''][^>]*rel\\s*=\\s*'
                         || '["'']?canonical', 1), ''),
                       url) AS canon_key
              FROM b
            )
            SELECT canon_key, count(*)::BIGINT AS n_pages
            FROM c GROUP BY canon_key
        """,
        # Mojibake: the oracle runs the IDENTICAL ordered replace
        # chain (emitted by functions/text.py mojibake_sql) over the
        # same injected text — repairs byte-equal by construction
        "q_mojibake": f"""
            WITH t AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 2 = 0
                       THEN ' CafÃ© â€œdonâ€™t â€¦ Ã±oÃ±o Â£5'
                       ELSE ' clean tail' END AS text2
              FROM documents
            )
            SELECT doc_id,
                   md5({_MOJIBAKE_SQL}) AS fixed_md5,
                   ({_MOJIBAKE_SQL} <> text2) AS had_mojibake
            FROM t
        """,
        # Declared charset/lang: same case-insensitive regexes, same
        # lowercase + primary-subtag normalisation
        "q_charset_meta": """
            WITH b AS (
              SELECT event_id,
                     CASE event_id % 5
                       WHEN 0 THEN '<html lang="en-US"><head>'
                         || '<meta charset="utf-8"></head>'
                       WHEN 1 THEN '<html><head>'
                         || '<meta charset=ISO-8859-1 ></head>'
                       WHEN 2 THEN '<html lang=fr><head><meta '
                         || 'http-equiv="Content-Type" content='
                         || '"text/html; charset=windows-1252">'
                         || '</head>'
                       WHEN 3 THEN '<html LANG=DE><head></head>'
                       ELSE '<html><head></head>' END
                     || '<body>x</body></html>' AS body
              FROM events
            )
            SELECT event_id,
                   coalesce(nullif(lower(regexp_extract(body,
                     '(?is)<meta[^>]*charset\\s*=\\s*["'']?\\s*'
                     || '([A-Za-z0-9_\\-]+)', 1)), ''), '-')
                     AS charset,
                   coalesce(nullif(string_split(lower(regexp_extract(
                     body,
                     '(?is)<html[^>]*\\slang\\s*=\\s*["'']?'
                     || '([A-Za-z\\-]+)', 1)), '-')[1], ''), '-')
                     AS lang
            FROM b
        """,
        "q_alloc_budget": """
            WITH h AS (
              SELECT 'h' || (event_id % 37)::VARCHAR AS host,
                     count(*)::BIGINT AS weight
              FROM events GROUP BY 1
            ), t AS (SELECT sum(weight) AS W FROM h),
            j AS (
              SELECT host, weight,
                     (1000 * weight) // t.W AS base,
                     (1000 * weight) % t.W AS rem
              FROM h, t
            ), l AS (SELECT 1000 - sum(base) AS leftover FROM j)
            SELECT j.host, j.weight,
                   (j.base + CASE WHEN row_number() OVER (
                        ORDER BY j.rem DESC, j.host ASC) <= l.leftover
                      THEN 1 ELSE 0 END)::BIGINT AS budget
            FROM j, l
        """,
        # byte-budget image packing: same md5 layout (salt packimg|),
        # weight = w*h*3 replayed from the inlined dims, one global
        # exclusive cumsum / budget
        "q_pack_images": f"""
            WITH dims(k, w, h) AS (VALUES {_sql_dims(256)}),
            base AS (
              SELECT printf('img_%08d', k) AS image_id,
                     ('0x' || substr(md5('packimg|'
                        || printf('img_%08d', k)), 1, 15))::BIGINT
                       % 1000000 AS hh,
                     (w::BIGINT * h * 3) AS n_bytes
              FROM dims
            )
            SELECT image_id, n_bytes,
                   CAST(floor(
                     COALESCE(SUM(n_bytes) OVER (
                       ORDER BY hh, image_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) / 8000000.0)
                     AS BIGINT) AS shard_id
            FROM base
        """,
        # incremental dedup: same normalised fingerprint, same
        # planted reference copies, same anti-join
        "q_dedup_against": f"""
            WITH newd AS (
              SELECT doc_id, {_ORACLE_FP} AS fp
              FROM documents WHERE doc_id >= 250
            ), ref AS (
              SELECT DISTINCT fp FROM (
                SELECT {_ORACLE_FP} AS fp FROM documents
                WHERE doc_id < 250
                UNION ALL
                SELECT {_ORACLE_FP} FROM documents
                WHERE doc_id >= 300 AND doc_id < 320
              )
            )
            SELECT doc_id FROM newd
            WHERE fp NOT IN (SELECT fp FROM ref)
        """,
        # hashed linear classifier: same md5 bucket contract, same
        # per-bucket weight collapse, same truncating integer mean
        "q_linear_score": f"""
            WITH v(word, wt) AS (
              VALUES ('the', 500), ('table', -300), ('data', 200),
                     ('key', 150), ('slow', -250), ('fast', 250),
                     ('row', 100), ('scan', -120), ('value', 80),
                     ('merge', 60)
            ), wb AS (
              SELECT ('0x' || substr(md5('flt|' || word), 1, 15))
                       ::BIGINT % 262144 AS b,
                     sum(wt)::BIGINT AS wt
              FROM v GROUP BY 1
            ), t AS (
              SELECT doc_id, unnest({toks}) AS tok FROM documents
            ), tb AS (
              SELECT doc_id,
                     ('0x' || substr(md5('flt|' || tok), 1, 15))
                       ::BIGINT % 262144 AS b
              FROM t
            ), s AS (
              SELECT doc_id, count(*)::BIGINT AS n_tokens,
                     sum(coalesce(wb.wt, 0))::BIGINT AS dot_scaled
              FROM tb LEFT JOIN wb USING (b) GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, dot_scaled,
                   (dot_scaled // n_tokens)::BIGINT AS score_scaled
            FROM s
        """,
        # full-pipeline audit: the lang/quality/gopher/c4/dedup SQL
        # fragments (each proven by its own query) recomposed over
        # the injected text and conjoined
        "q_pipeline": f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 7 THEN
                       'Duplicate document body appears many times.'
                       || chr(10) ||
                       'The data table row has the value of the key.'
                       || chr(10) ||
                       'Here is another complete sentence with '
                       || 'enough words.'
                     ELSE
                       'This sentence about ' || source
                       || ' has plenty of words.' || chr(10)
                       || CASE WHEN doc_id % 13 = 0
                            THEN 'zq wq xq yq vq kq lq mq nq oq pq '
                                 || 'rq sq tq uq'
                            ELSE text END
                       || CASE WHEN doc_id % 5 = 0
                            THEN ' ## ... ## ... ## ... ## ...'
                            ELSE '' END
                       || '.' || chr(10)
                       || 'Here is another complete sentence with '
                       || 'enough words.'
                       || CASE WHEN doc_id % 9 = 0
                            THEN chr(10) || 'if (x) {{ return }}'
                            ELSE '' END
                     END AS text
              FROM documents
            ), t AS (
              SELECT doc_id, text, {toks} AS toks FROM d
            ), f1 AS (
              SELECT doc_id,
                     ((case when {marker_ratio} >= 0.15
                            then 'en' else 'other' end) = 'en')
                       AS lang_ok,
                     ({quality} >= 0.5) AS quality_ok,
                     {_ORACLE_FP} AS fp
              FROM t
            ), gm AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '') AS words,
                     list_transform(string_split(text, chr(10)),
                                    l -> trim(l)) AS tl
              FROM d
            ), gs AS (
              SELECT doc_id,
                     len(words)::BIGINT AS n_words,
                     list_aggregate(list_transform(words,
                       w -> len(w)::BIGINT), 'sum') AS total_chars,
                     len(list_filter(words, w ->
                       regexp_matches(w, '[a-zA-Z]')))::BIGINT
                       AS n_alpha,
                     (len(text)
                      - len(replace(text, '#', '')))::BIGINT AS n_hash,
                     ((len(text) - len(replace(text, '...', '')))
                      // 3)::BIGINT AS n_dots,
                     len(tl)::BIGINT AS n_lines,
                     len(list_filter(tl, l -> l LIKE '- %'
                       OR l LIKE '* %' OR l LIKE chr(8226) || '%'))
                       ::BIGINT AS n_bullet,
                     len(list_filter(tl, l -> l LIKE '%...'))::BIGINT
                       AS n_ell,
                     (list_contains(list_transform(words,
                        w -> lower(w)), 'the')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'be')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'to')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'of')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'and')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'that')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'have')::INT
                      + list_contains(list_transform(words,
                        w -> lower(w)), 'with')::INT)::BIGINT AS n_stop
              FROM gm
            ), g AS (
              SELECT doc_id,
                     ((n_words >= 10 AND n_words <= 100000)
                      AND (total_chars >= 3 * n_words
                           AND total_chars <= 10 * n_words)
                      AND (10 * (n_hash + n_dots) <= n_words)
                      AND (10 * n_bullet <= 9 * n_lines)
                      AND (10 * n_ell <= 3 * n_lines)
                      AND (5 * n_alpha >= 4 * n_words)
                      AND (n_stop >= 2)) AS gopher_ok
              FROM gs
            ), c AS (
              SELECT doc_id,
                     (NOT contains(text, '{{')
                      AND NOT contains(lower(text), 'lorem ipsum')
                      AND len(list_filter(string_split(text, chr(10)),
                        l -> (trim(l) LIKE '%.' OR trim(l) LIKE '%!'
                              OR trim(l) LIKE '%?'
                              OR trim(l) LIKE '%"')
                          AND len(list_filter(
                                regexp_split_to_array(trim(l),
                                '\\s+'), x -> x <> '')) >= 5
                          AND NOT contains(lower(trim(l)),
                                           'javascript'))) >= 3)
                       AS c4_ok
              FROM d
            ), canon AS (
              SELECT fp, min(doc_id) AS keep_id FROM f1 GROUP BY fp
            )
            SELECT f1.doc_id, f1.lang_ok, f1.quality_ok, g.gopher_ok,
                   c.c4_ok, (f1.doc_id = canon.keep_id) AS canonical,
                   (f1.lang_ok AND f1.quality_ok AND g.gopher_ok
                    AND c.c4_ok AND f1.doc_id = canon.keep_id) AS keep
            FROM f1
            JOIN g USING (doc_id) JOIN c USING (doc_id)
            JOIN canon ON canon.fp = f1.fp
        """,
        # multilingual marker vote: same planted texts, same marker
        # lists, same integer argmax with de<en<es<fr tie-break
        "q_lang_multi": f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 4 = 1 THEN
                       'la casa de la familia es una de las casas '
                       || 'que no se ve en el pueblo para su gente'
                     WHEN doc_id % 4 = 2 THEN
                       'le chat est dans la maison et les chiens ne '
                       || 'sont pas sur le toit pour une fois'
                     WHEN doc_id % 4 = 3 THEN
                       'der hund und die katze sind nicht auf dem '
                       || 'dach mit den kindern und das ist auch gut'
                     ELSE text END AS text
              FROM d0
            ), t AS (
              SELECT doc_id, {toks} AS toks FROM d
            ), h AS (
              SELECT doc_id, len(toks)::BIGINT AS n,
                     len(list_filter(toks, x -> list_contains(
                       [{", ".join(f"'{m}'" for m in X.LANG_MARKERS['de'])}],
                       x)))::BIGINT AS h_de,
                     len(list_filter(toks, x -> list_contains(
                       [{", ".join(f"'{m}'" for m in X.LANG_MARKERS['en'])}],
                       x)))::BIGINT AS h_en,
                     len(list_filter(toks, x -> list_contains(
                       [{", ".join(f"'{m}'" for m in X.LANG_MARKERS['es'])}],
                       x)))::BIGINT AS h_es,
                     len(list_filter(toks, x -> list_contains(
                       [{", ".join(f"'{m}'" for m in X.LANG_MARKERS['fr'])}],
                       x)))::BIGINT AS h_fr
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN n > 0 AND 20 * greatest(h_de, h_en,
                          h_es, h_fr) >= 3 * n THEN
                     CASE WHEN h_de >= h_en AND h_de >= h_es
                            AND h_de >= h_fr THEN 'de'
                          WHEN h_en >= h_es AND h_en >= h_fr
                            THEN 'en'
                          WHEN h_es >= h_fr THEN 'es'
                          ELSE 'fr' END
                   ELSE 'other' END AS lang
            FROM h
        """.replace("FROM d0", "FROM documents"),
        # main-content extraction: expected composition — kept blocks
        # are the collapsed body and the mixed sentence; nav/footer
        # blocks exceed the link-density bound and vanish
        "q_main_text": """
            WITH e AS (
              SELECT doc_id,
                     trim(regexp_replace(text, '\\s+', ' ', 'g'))
                     || chr(10) || 'See also doc ' || doc_id::VARCHAR
                     || ' for details.' AS main
              FROM documents
            )
            SELECT doc_id, len(main)::BIGINT AS n_chars,
                   md5(main) AS main_md5
            FROM e
        """,
        # WAT envelope: identical compact-JSON rendering both engines
        # -> md5 of the record string is comparable directly
        "q_wat_records": """
            WITH e AS (
              SELECT event_id,
                     'http://h' || (event_id % 40)::VARCHAR || '/p'
                       || (event_id % 97)::VARCHAR AS url,
                     CASE WHEN event_id % 11 = 0 THEN 404
                          ELSE 200 END AS status,
                     CASE WHEN event_id % 13 = 0 THEN 'image/png'
                          ELSE 'text/html' END AS mime,
                     list_transform(range(1, (event_id % 3) + 2),
                       i -> 'http://h' || ((event_id + i) % 40)
                              ::VARCHAR || '/') AS links
              FROM events
            )
            SELECT event_id,
                   md5(to_json(struct_pack(
                     url := url, status := status::INT, mime := mime,
                     n_links := len(links)::INT, links := links)))
                     AS wat_md5
            FROM e
        """,
    }
