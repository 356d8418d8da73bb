"""Bloom/cuckoo seen-filter semantics (R4; BASELINE.json:6,14)."""

from __future__ import annotations

import pyspark.sql.functions as F

from simplecrawler_spark.operators.seen import BloomSeen, CuckooSeen, anti_join_seen


def _urls_df(spark, urls):
    return (spark.createDataFrame([(u,) for u in urls], ["url_norm"])
            .withColumn("url_hash", F.xxhash64("url_norm"))
            .withColumn("host", F.split(F.col("url_norm"), "/").getItem(2)))


def test_bloom_no_false_negatives(spark):
    seen_urls = [f"http://h{i % 7}.test/p/{i}" for i in range(2000)]
    bloom = BloomSeen(expected_items=4096, fpp=0.01)
    bloom.add_df(_urls_df(spark, seen_urls))
    flags = (
        _urls_df(spark, seen_urls)
        .withColumn("maybe", bloom.maybe_seen_col(_urls_df(spark, seen_urls)))
        .collect()
    )
    assert all(r.maybe for r in flags)  # zero false negatives, always


def test_bloom_filters_most_new(spark):
    seen_urls = [f"http://h{i % 7}.test/p/{i}" for i in range(2000)]
    new_urls = [f"http://h{i % 7}.test/q/{i}" for i in range(2000)]
    bloom = BloomSeen(expected_items=4096, fpp=0.01)
    bloom.add_df(_urls_df(spark, seen_urls))
    df = _urls_df(spark, new_urls)
    maybe = df.withColumn("maybe", bloom.maybe_seen_col(df))
    fp = maybe.filter("maybe").count()
    assert fp / len(new_urls) < 0.05  # FPR in the configured ballpark


def test_anti_join_with_bloom_equals_exact(spark):
    seen_urls = [f"http://h{i % 5}.test/p/{i}" for i in range(500)]
    cand_urls = [f"http://h{i % 5}.test/p/{i}" for i in range(400, 900)]
    seen = _urls_df(spark, seen_urls)
    cand = _urls_df(spark, cand_urls)
    bloom = BloomSeen(expected_items=2048, fpp=0.01)
    bloom.add_df(seen)
    with_bloom = {r.url_norm for r in
                  anti_join_seen(cand, seen, bloom).collect()}
    exact = {r.url_norm for r in anti_join_seen(cand, seen, None).collect()}
    assert with_bloom == exact
    assert exact == {f"http://h{i % 5}.test/p/{i}" for i in range(500, 900)}


def test_bloom_save_load_roundtrip(spark, tmp_path):
    urls = [f"http://h/{i}" for i in range(100)]
    bloom = BloomSeen(expected_items=1024)
    bloom.add_df(_urls_df(spark, urls))
    path = str(tmp_path / "sidecar" / "bloom.npz")
    bloom.save(path)
    loaded = BloomSeen.load(path)
    assert loaded.m == bloom.m and loaded.k == bloom.k
    assert all((loaded.bits[b] == bloom.bits[b]).all() for b in bloom.bits)


def test_cuckoo_add_contains_delete():
    cf = CuckooSeen(capacity=4096)
    keys = [f"http://h/{i}" for i in range(1000)]
    for k in keys:
        assert cf.add(k)
    assert all(k in cf for k in keys)  # no false negatives
    for k in keys[:500]:
        assert cf.delete(k)
    # deleted keys are (almost always) gone; all retained keys remain
    assert all(k in cf for k in keys[500:])
    present_after_delete = sum(1 for k in keys[:500] if k in cf)
    assert present_after_delete < 25  # only fingerprint collisions remain


def test_cuckoo_bulk_add_delete_distributed(spark):
    """Round-2 verdict item: bulk cuckoo add/delete must run as a
    distributed per-shard job (applyInPandas over shard groups), never
    a per-row driver loop. Large batch: insert 200k urls, delete half,
    verify membership — and verify the driver only ever receives
    n_shards shard-table rows per bulk call."""
    from unittest.mock import patch

    cf = CuckooSeen(capacity=1 << 19)
    urls = spark.range(200_000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string"))
        .alias("url_norm"))

    collected_sizes = []
    df_cls = type(urls)  # the concrete DataFrame class (classic/connect)
    real_collect = df_cls.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected_sizes.append(len(rows))
        return rows

    with patch.object(df_cls, "collect", counting_collect):
        n_added = cf.add_df(urls)
        n_deleted = cf.delete_df(urls.where("url_norm like '%/p/1%'"))
    assert n_added == 200_000
    assert n_deleted > 0
    # every driver materialisation was shard tables, not urls
    assert max(collected_sizes) <= cf.n_shards
    assert "http://h0.test/p/97000" in cf
    assert "http://h1.test/p/100000" not in cf  # deleted (like '%/p/1%')


def test_cuckoo_sidecar_equals_broadcast(spark, tmp_path):
    """Round-3 item 1: sidecar-mode bulk ops (per-shard files, no
    broadcast) must produce exactly the same filter state as the
    broadcast path."""
    urls = spark.range(30_000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 13).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string"))
        .alias("url_norm"))
    dels = urls.where("url_norm like '%/p/2%'")

    bc = CuckooSeen(capacity=1 << 17)
    n_add_bc = bc.add_df(urls)
    n_del_bc = bc.delete_df(dels)

    sc = CuckooSeen(capacity=1 << 17)
    sc.save_shards(str(tmp_path / "shards"))
    n_add_sc = sc.add_df(urls)
    n_del_sc = sc.delete_df(dels)

    assert (n_add_sc, n_del_sc) == (n_add_bc, n_del_bc)
    for s in range(bc.n_shards):
        assert (sc._shard_table(s) == bc.tables[s]).all()
    assert "http://h0.test/p/13000" in sc
    assert "http://h0.test/p/26000" not in sc  # deleted (like '%/p/2%')


def test_cuckoo_sidecar_never_broadcasts(spark, tmp_path):
    """Round-2 verdict item 1 (weak → fixed): in sidecar mode a bulk
    op must never create a Spark broadcast (the old path shipped ALL
    shard tables to every executor) and must never move table bytes
    through the driver — only (shard, file_name, count) strings."""
    from unittest.mock import patch

    cf = CuckooSeen(capacity=1 << 17)
    cf.save_shards(str(tmp_path / "shards"))
    urls = spark.range(50_000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 31).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string"))
        .alias("url_norm"))

    sc_cls = type(spark.sparkContext)

    def no_broadcast(self, value):
        raise AssertionError("sidecar bulk op created a broadcast")

    with patch.object(sc_cls, "broadcast", no_broadcast):
        assert cf.add_df(urls) == 50_000
        assert cf.delete_df(urls.where("url_norm like '%/p/4%'")) > 0
    assert "http://h0.test/p/31000" in cf
    assert "http://h10.test/p/40000" not in cf


def test_cuckoo_sidecar_load_shards_roundtrip(spark, tmp_path):
    cf = CuckooSeen(capacity=1 << 16)
    cf.save_shards(str(tmp_path / "shards"))
    urls = spark.range(5_000).select(
        F.concat(F.lit("http://h.test/p/"), F.col("id").cast("string"))
        .alias("url_norm"))
    cf.add_df(urls)

    loaded = CuckooSeen.load_shards(str(tmp_path / "shards"))
    assert (loaded.n, loaded.slots, loaded.seed,
            loaded.n_shards) == (cf.n, cf.slots, cf.seed, cf.n_shards)
    assert "http://h.test/p/4999" in loaded
    assert loaded.delete("http://h.test/p/4999")
    # the single-key delete wrote through to the sidecar files
    reloaded = CuckooSeen.load_shards(str(tmp_path / "shards"))
    assert "http://h.test/p/4999" not in reloaded


def test_cuckoo_sidecar_reexport_to_new_dir(spark, tmp_path):
    """save_shards on a load_shards()-opened filter must hydrate the
    lazy shard tables from the OLD sidecar before repointing — a
    migration/re-export of a resumed filter used to FileNotFoundError
    reading the not-yet-copied shards from the destination."""
    cf = CuckooSeen(capacity=1 << 14)
    cf.save_shards(str(tmp_path / "a"))
    urls = spark.range(2_000).select(
        F.concat(F.lit("http://h.test/p/"), F.col("id").cast("string"))
        .alias("url_norm"))
    cf.add_df(urls)

    reopened = CuckooSeen.load_shards(str(tmp_path / "a"))
    reopened.save_shards(str(tmp_path / "b"))       # lazy tables unloaded
    migrated = CuckooSeen.load_shards(str(tmp_path / "b"))
    assert "http://h.test/p/1999" in migrated
    assert "http://h.test/p/0" in migrated
    # and the ORIGINAL sidecar is untouched by the re-export
    assert "http://h.test/p/1999" in CuckooSeen.load_shards(
        str(tmp_path / "a"))
