"""Structured Streaming seed ingestion → frontier staging."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from simplecrawler_spark.plans import schemas
from simplecrawler_spark.plans.tables import SnapshotStore
from simplecrawler_spark.streaming.ingest import stream_seeds


def test_stream_seeds_canonicalises_and_dedupes(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    (src / "a.txt").write_text(
        "HTTP://Example.COM./p one\n"
        "http://example.com/p%20one\n"           # same canonical form
        "http://other.test/x?b=2&a=1\n"
        "\n")
    (src / "b.txt").write_text(
        "http://other.test/x?a=1&b=2\n"          # dup of sorted-param url
        "http://third.test/y\n")

    store = SnapshotStore(spark, str(tmp_path / "tables"),
                          schemas={"frontier": schemas.FRONTIER})
    q = stream_seeds(spark, str(src), store, round_no=0,
                     checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    rows = {r.url_norm for r in
            store.read("frontier").select("url_norm").collect()}
    assert rows == {
        "http://example.com/p%20one",
        "http://other.test/x?a=1&b=2",
        "http://third.test/y",
    }
    got = store.read("frontier").where("url_norm like '%third%'").first()
    assert got.url_hash is not None and got.round == 0
    assert os.path.isdir(str(tmp_path / "ckpt"))


def test_ingest_stream_registers_state(spark, tmp_path):
    """Round-2 ADVICE (medium): streamed seeds must flow through
    crawler state — robots fetched for new authorities before their
    urls are fetched, streamed norms entered into seen so later links
    can't re-enqueue a done url (R5)."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.plans.crawl import FrontierCrawler
    from simplecrawler_spark.sources.fetch import TableFetcher
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links, site_graph_df,
    )

    a, b = "http://a.test", "http://b.test"
    rows = [
        _row(a + "/", body=make_html_from_links(["/p1"])),
        _row(a + "/p1", body=""),
        _row(b + "/robots.txt", content_type="text/plain",
             body="User-agent: *\nDisallow: /blocked\n"),
        # /ok links back to ITSELF and to /blocked — the R5 trap: after
        # the streamed /ok is done, this link must not re-enqueue it
        _row(b + "/ok", body=make_html_from_links(["/ok", "/blocked"])),
        _row(b + "/blocked", body=""),
    ]
    cfg = CrawlConfig(same_authority_only=False, max_rounds=20)
    crawler = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
        root=str(tmp_path / "c"))
    crawler.crawl(a)  # crawls only a-authority; b is unreachable
    first = crawler.result_urls()
    assert first == {a + "/", a + "/p1"}

    # stream b/ok (already done via the link) and b/blocked
    src = tmp_path / "drop"
    src.mkdir()
    (src / "seeds.txt").write_text(f"{b}/ok\n{b}/blocked\n")
    q = crawler.ingest_stream(str(src), str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # round-3 (ADVICE medium): each micro-batch committed a durable
    # snapshot — a crash after the streaming checkpoint advances can't
    # lose the appends
    assert any("stream_batch" in s["metrics"]
               for s in crawler.store.snapshots())

    # streamed urls staged into the next round's frontier AND seen
    rnd = crawler.store.latest_round() + 1
    frontier = {r.url_norm for r in crawler.store.read(
        "frontier", partition=f"r{rnd}")
        .where(F.col("round") == rnd).collect()}
    assert frontier == {f"{b}/ok", f"{b}/blocked"}
    seen = {r.url_norm
            for r in crawler.store.read("seen").select("url_norm").collect()}
    assert f"{b}/ok" in seen and f"{b}/blocked" in seen
    crawler.store.commit_snapshot(crawler.store.latest_round() or 0, {})
    crawler.continue_crawl()
    # the resumed round fetched the streamed authority's robots.txt,
    # once
    assert [r.authority for r in crawler.store.read("robots")
            .where(F.col("authority") == "b.test").collect()] == ["b.test"]
    final = crawler.result_urls()
    assert f"{b}/ok" in final
    assert f"{b}/blocked" not in final          # streamed robots obeyed
    # R5: the self-link on /ok must not have re-enqueued/refetched it
    n_ok = (crawler.results().where(F.col("url_norm") == f"{b}/ok")
            .count())
    assert n_ok == 1
    assert first <= final


def test_ingest_stream_reaches_saved_bloom(spark, tmp_path, no_broadcast):
    """With the seen-set Bloom on, a micro-batch the sink admits
    between crawls reaches the SAVED filter too: a crawler reopened
    from the root loads a filter holding every seen row, so the
    streamed page's self-link is not taken for a new url and the page
    is fetched once."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.plans.crawl import FrontierCrawler
    from simplecrawler_spark.sources.fetch import TableFetcher
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links, site_graph_df,
    )

    a, b = "http://a.test", "http://b.test"
    rows = [_row(a + "/", body=make_html_from_links(["/p1"])),
            _row(a + "/p1", body=""),
            _row(b + "/ok", body=make_html_from_links(["/ok"]))]
    cfg = CrawlConfig(same_authority_only=False, max_rounds=20,
                      bloom_enabled=True)
    root = str(tmp_path / "c")
    crawler = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg, root=root)
    crawler.crawl(a)
    assert crawler.bloom is not None
    src = tmp_path / "drop"
    src.mkdir()
    (src / "seeds.txt").write_text(f"{b}/ok\n")
    crawler.ingest_stream(str(src), str(tmp_path / "ckpt")).awaitTermination(120)

    reopened = FrontierCrawler.resume(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), root, cfg)
    assert reopened.bloom.added == reopened.store.read("seen").count()
    reopened.continue_crawl()
    assert (reopened.results().where(F.col("url_norm") == f"{b}/ok")
            .count()) == 1


def test_stream_rollup_matches_batch(spark, tmp_path):
    """Batch/stream parity for the windowed event rollup: the same
    transformation drained as a streaming query (complete mode,
    availableNow) must equal the batch run over the same files."""
    from simplecrawler_spark.streaming.rollup import (
        event_window_rollup, stream_event_rollup,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "events")
    half = ev.count() // 2
    # two files, chronological halves; the sleep forces distinct
    # mtimes so the file source processes them in event-time order
    # (no late data — parity must hold exactly)
    ev.where(F.col("event_id") < half).write.mode("append").parquet(d)
    time.sleep(1.1)
    ev.where(F.col("event_id") >= half).write.mode("append").parquet(d)

    batch = {(r.win_start, r.event_type): (r.n_events, r.value_cents)
             for r in event_window_rollup(spark.read.parquet(d)).collect()}

    q = (stream_event_rollup(spark, d).writeStream
         .format("memory").queryName("rollup_parity")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.win_start, r.event_type): (r.n_events, r.value_cents)
           for r in spark.table("rollup_parity").collect()}
    assert got == batch and len(batch) > 10


def test_stream_rollup_append_withholds_unfinalised_windows(spark, tmp_path):
    """Append mode + watermark: only windows the watermark has passed
    are emitted — the tail windows (within the 2h lateness bound of
    the max event time) are withheld, whatever the file order. This is
    the state-bounding semantics that keeps a 10^10-event rollup's
    state store finite."""
    from simplecrawler_spark.streaming.rollup import (
        event_window_rollup, stream_event_rollup,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "events")
    half = ev.count() // 2
    ev.where(F.col("event_id") < half).write.mode("append").parquet(d)
    time.sleep(1.1)
    ev.where(F.col("event_id") >= half).write.mode("append").parquet(d)

    batch = {(r.win_start, r.event_type): (r.n_events, r.value_cents)
             for r in event_window_rollup(spark.read.parquet(d)).collect()}

    q = (stream_event_rollup(spark, d).writeStream
         .format("memory").queryName("rollup_append")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.win_start, r.event_type): (r.n_events, r.value_cents)
           for r in spark.table("rollup_append").collect()}
    # finalised windows match the batch result exactly...
    for k, v in got.items():
        assert batch[k] == v
    # ...and the unfinalised tail is withheld
    assert 0 < len(got) < len(batch)


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == the batch lag/cumsum
    twin. A far-future sentinel event pushes the final watermark past
    every real session's close time (last_event + gap), so the stream
    emits ALL real sessions as closed; the sentinel's own (still-open)
    session is the only one withheld."""
    import pandas as pd

    from simplecrawler_spark.streaming.sessions import (
        sessionize_batch, stream_sessionize,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "events")
    half = ev.count() // 2
    ev.where(F.col("event_id") < half).write.mode("append").parquet(d)
    time.sleep(1.1)
    ev.where(F.col("event_id") >= half).write.mode("append").parquet(d)
    time.sleep(1.1)
    # sentinel: one event far beyond max(ts) + watermark + gap
    sent = pd.DataFrame([{
        "event_id": 10 ** 9, "ts": pd.Timestamp("2030-01-01"),
        "user_id": 10 ** 6, "event_type": "sentinel", "value": 0.0,
        "props": "", }])
    spark.createDataFrame(sent).write.mode("append").parquet(d)

    batch = {(r.user_id, r.start_us, r.end_us): (r.n_events, r.value_cents)
             for r in sessionize_batch(spark.read.parquet(d)).collect()
             if r.user_id != 10 ** 6}

    q = (stream_sessionize(spark, d).writeStream
         .format("memory").queryName("sess_parity")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.user_id, r.start_us, r.end_us): (r.n_events, r.value_cents)
           for r in spark.table("sess_parity").collect()
           if r.user_id != 10 ** 6}
    assert got == batch and len(batch) > 50


def test_stream_sessionize_withholds_open_sessions(spark, tmp_path):
    """Without the sentinel, sessions within gap+watermark of the max
    event time stay OPEN in the state store and are not emitted — the
    exactly-once append contract (no session is ever emitted twice or
    emitted before it can no longer grow)."""
    from simplecrawler_spark.streaming.sessions import (
        sessionize_batch, stream_sessionize,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "events")
    ev.write.parquet(d)

    q = (stream_sessionize(spark, d).writeStream
         .format("memory").queryName("sess_open")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.user_id, r.start_us): r.n_events
           for r in spark.table("sess_open").collect()}
    batch = {(r.user_id, r.start_us): r.n_events
             for r in sessionize_batch(spark.read.parquet(d)).collect()}
    # emitted ⊆ batch, identical where emitted, and something withheld
    assert set(got).issubset(set(batch))
    assert all(batch[k] == v for k, v in got.items())
    assert len(got) < len(batch)


def _crawl_with_mid_round_stream_batch(spark, tmp_path,
                                       bloom_enabled=False):
    """Crawl a.test while a micro-batch carrying b.test/streamed lands
    during round 1, and check that the batch was staged, swept in at
    the next round boundary and crawled exactly once. Returns the
    crawler."""
    import os

    from pyspark.sql import functions as F

    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.plans.crawl import FrontierCrawler
    from simplecrawler_spark.sources.fetch import TableFetcher
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links, site_graph_df,
    )

    a, b = "http://a.test", "http://b.test"
    rows = [
        _row(a + "/", body=make_html_from_links(["/p1"])),
        _row(a + "/p1", body=make_html_from_links(["/p2"])),
        _row(a + "/p2", body=""),
        _row(b + "/streamed", body=""),
    ]
    cfg = CrawlConfig(same_authority_only=False, max_rounds=20,
                      bloom_enabled=bloom_enabled)
    crawler = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
        root=str(tmp_path / "c"))

    src = tmp_path / "drop"
    src.mkdir()
    fired = []
    orig = crawler._round_body

    def wrapped(frontier_r, r, row_count, pool, futures):
        if r == 1 and not fired:
            fired.append(r)
            (src / "seeds.txt").write_text(f"{b}/streamed\n")
            q = crawler.ingest_stream(str(src), str(tmp_path / "ckpt"))
            q.awaitTermination(120)
            # mid-round: batch STAGED, store pending untouched by the
            # streaming thread (no frontier append beyond the round's
            # own), no snapshot committed by the sink
            assert os.listdir(crawler._stream_pending_dir)
            assert all("stream_batch" not in s["metrics"]
                       for s in crawler.store.snapshots())
        return orig(frontier_r, r, row_count, pool, futures)

    crawler._round_body = wrapped
    crawler.crawl(a)
    assert fired == [1]

    final = crawler.result_urls()
    assert f"{b}/streamed" in final            # swept + crawled
    assert (crawler.results()
            .where(F.col("url_norm") == f"{b}/streamed").count()) == 1
    # the streamed url entered seen through the sweep
    seen = {r_.url_norm for r_ in crawler.store.read("seen")
            .select("url_norm").collect()}
    assert f"{b}/streamed" in seen
    # staged dirs were deleted after their round's commit
    assert (not os.path.isdir(crawler._stream_pending_dir)
            or os.listdir(crawler._stream_pending_dir) == [])
    return crawler


def test_ingest_stream_concurrent_with_executing_round(spark, tmp_path):
    """Round-3 verdict item 4: a micro-batch landing WHILE a round
    executes stages to <root>/stream_pending (never touching the
    store's pending appends), the next round boundary sweeps it in,
    and the streamed url is crawled exactly once — no refusal, no
    lost urls, staged dirs deleted once their round commits."""
    _crawl_with_mid_round_stream_batch(spark, tmp_path)


def test_ingest_stream_concurrent_with_bloom_on(spark, tmp_path,
                                                no_broadcast):
    """The same mid-round batch with the seen-set Bloom on from round
    1: the sweep admits the batch through the filter, the streamed url
    is crawled once, and the filter holds every seen row."""
    crawler = _crawl_with_mid_round_stream_batch(spark, tmp_path,
                                                 bloom_enabled=True)
    assert crawler.bloom is not None
    assert crawler.bloom.added == crawler.store.read("seen").count()


def test_ingest_stream_staged_dirs_resweep_idempotent(spark, tmp_path):
    """The crash windows: a staged dir that survives (crash after
    commit, before delete — its urls already in seen) replays to zero
    rows; a genuinely-new staged dir left by a crashed stream is swept
    on resume and crawled exactly once."""
    import os

    from pyspark.sql import functions as F

    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.plans.crawl import FrontierCrawler
    from simplecrawler_spark.sources.fetch import TableFetcher
    from simplecrawler_spark.sources.fixtures import (
        _row, make_html_from_links, site_graph_df,
    )

    a, b = "http://a.test", "http://b.test"
    rows = [
        _row(a + "/", body=make_html_from_links(["/p1"])),
        _row(a + "/p1", body=""),
        _row(b + "/late", body=""),
    ]
    cfg = CrawlConfig(same_authority_only=False, max_rounds=20)
    root = str(tmp_path / "c")
    crawler = FrontierCrawler(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), cfg,
        root=root)
    crawler.crawl(a)
    n_p1 = crawler.results().where(
        F.col("url_norm") == a + "/p1").count()
    assert n_p1 == 1

    # simulate the two crash leftovers: one dir whose url is already
    # crawled/seen, one with a brand-new url
    staged = os.path.join(root, "stream_pending")
    spark.createDataFrame(
        [(a + "/p1", a + "/p1", "a.test", "a.test"),
         (b + "/late", b + "/late", "b.test", "b.test")],
        "url_norm string, url_raw string, authority string, host string"
    ).write.parquet(os.path.join(staged, "batch-leftover"))

    resumed = FrontierCrawler.resume(
        spark, TableFetcher(site_graph_df(spark, rows), cfg), root, cfg)
    resumed.continue_crawl()
    res = resumed.results()
    # already-seen url NOT refetched; new url crawled exactly once
    assert res.where(F.col("url_norm") == a + "/p1").count() == 1
    assert res.where(F.col("url_norm") == b + "/late").count() == 1
    assert os.listdir(staged) == []


# ---------------------------------------------------------------------------
# streaming exact dedup (streaming/dedup_stream.py)
# ---------------------------------------------------------------------------

def _docs_with_dups(spark, n=400, n_distinct=120):
    """doc k carries text t(k % n_distinct) — heavy planned dup load,
    min-id survivor is doc k < n_distinct."""
    return spark.createDataFrame(
        [(k, f"document body number {k % n_distinct} with words",
          "en", f"s{k % 3}", 40) for k in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long")


def test_stream_dedup_matches_batch_twin(spark, tmp_path):
    """Micro-batched first-occurrence dedup == the one-batch twin when
    files arrive in id order (maxFilesPerTrigger=1 over id-ordered
    files) — exactly one survivor per fingerprint, ever."""
    from simplecrawler_spark.streaming.dedup_stream import (
        dedup_survivors, stream_exact_dedup,
    )

    docs = _docs_with_dups(spark)
    d = str(tmp_path / "docs")
    # three id-ordered files → three micro-batches
    for lo, hi in ((0, 150), (150, 300), (300, 400)):
        (docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(d))
        time.sleep(1.1)  # distinct mtimes → deterministic file order

    sd, writer = stream_exact_dedup(
        spark, d, str(tmp_path / "store"), str(tmp_path / "ck"))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = {(r.doc_id, r.fingerprint) for r in sd.survivors().collect()}
    want = {(r.doc_id, r.fingerprint)
            for r in dedup_survivors(docs).collect()}
    assert got == want
    assert len(got) == 120
    assert sd._batches >= 3


def test_stream_dedup_state_survives_restart(spark, tmp_path):
    """Dedup state lives in the SnapshotStore, not the streaming state
    store: a NEW query over a NEW checkpoint still refuses previously
    seen fingerprints (the bloom rebuilds from the seen table)."""
    from simplecrawler_spark.streaming.dedup_stream import (
        stream_exact_dedup,
    )

    docs = _docs_with_dups(spark, n=200, n_distinct=80)
    root = str(tmp_path / "store")
    d1 = str(tmp_path / "in1")
    docs.where(F.col("doc_id") < 100).coalesce(1).write.parquet(d1)
    sd1, w1 = stream_exact_dedup(spark, d1, root, str(tmp_path / "ck1"))
    w1.trigger(availableNow=True).start().awaitTermination(120)
    n1 = sd1.survivors().count()
    assert n1 == 80  # docs 0..99 cover all 80 fingerprints

    # second query: fresh checkpoint, same store — all dups, 0 new
    d2 = str(tmp_path / "in2")
    docs.where(F.col("doc_id") >= 100).coalesce(1).write.parquet(d2)
    sd2, w2 = stream_exact_dedup(spark, d2, root, str(tmp_path / "ck2"))
    w2.trigger(availableNow=True).start().awaitTermination(120)
    surv = sd2.survivors()
    assert surv.count() == 80
    assert surv.where(F.col("doc_id") >= 100).count() == 0


def test_warc_stream_matches_batch(spark, tmp_path):
    """Streaming WARC ingest (streaming/warc_stream.py): archive
    shards dropped into a watched dir parse to the identical rowset
    the batch parser produces, a second drop is picked up
    incrementally, and a restart with the same checkpoint never
    re-ingests a shard (exactly-once per file)."""
    import os

    from simplecrawler_spark.sources.warc import (
        parse_warc_text, warc_record_expr,
    )
    from simplecrawler_spark.streaming.warc_stream import (
        start_warc_ingest,
    )

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    def make_archive(ids):
        rec = warc_record_expr(
            F.lit("response"),
            F.concat(F.lit("http://site/"),
                     F.col("doc_id").cast("string")),
            F.lit("2026-01-01T00:00:00Z"), F.col("text"))
        rows = spark.createDataFrame(
            [(i, f"payload text {i}\nsecond line {i}") for i in ids],
            "doc_id long, text string")
        parts = {r.doc_id: r.r for r in
                 rows.select("doc_id", rec.alias("r")).collect()}
        return "".join(parts[i] for i in ids)

    (in_dir / "shard0.warc").write_text(make_archive([0, 1, 2]))
    start_warc_ingest(spark, str(in_dir), out_dir, ckpt) \
        .awaitTermination()
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == 3

    # incremental drop: only the new shard lands in batch 2
    (in_dir / "shard1.warc").write_text(make_archive([3, 4]))
    start_warc_ingest(spark, str(in_dir), out_dir, ckpt) \
        .awaitTermination()
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 5  # 3 + 2, no shard re-ingested

    # restart with nothing new: no duplicates
    start_warc_ingest(spark, str(in_dir), out_dir, ckpt) \
        .awaitTermination()
    assert spark.read.parquet(out_dir).count() == 5

    # row-level parity with the batch parser over the same shards
    batch = parse_warc_text(
        spark.createDataFrame(
            [(n, (in_dir / n).read_text())
             for n in ("shard0.warc", "shard1.warc")],
            "file_id string, content string"))
    stream_rows = {(os.path.basename(r.file_id), r.record_no,
                    r.url, r.content_length, r.payload)
                   for r in spark.read.parquet(out_dir).collect()}
    batch_rows = {(r.file_id, r.record_no, r.url,
                   r.content_length, r.payload)
                  for r in batch.collect()}
    assert stream_rows == batch_rows


# ---------------------------------------------------------------------------
# streaming NEAR-dup dedup (streaming/neardup_stream.py)
# ---------------------------------------------------------------------------

def _docs_with_neardups(spark, n_base=30):
    """Base doc i = 20 distinct tokens; docs 100+i and 200+i are
    near-dup variants (one appended token — 18 of 20 shingles
    shared, the pinned dedup_against collision shape). Bases never
    collide with each other."""
    rows = []
    for i in range(n_base):
        base = " ".join(f"w{i}t{j}" for j in range(20))
        rows.append((i, base, "en", "s0", len(base)))
        rows.append((100 + i, base + " extra", "en", "s0", len(base)))
        rows.append((200 + i, base + " more", "en", "s0", len(base)))
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")


def test_stream_neardup_matches_batch_twin(spark, tmp_path):
    """Micro-batched incremental LSH == the one-batch twin
    (components + min-id survivor) when near-dups collide directly
    with their base doc — id-ordered files, three micro-batches."""
    from simplecrawler_spark.streaming.neardup_stream import (
        neardup_survivors, stream_neardup,
    )

    docs = _docs_with_neardups(spark)
    d = str(tmp_path / "docs")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        (docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(d))
        time.sleep(1.1)

    snd, writer = stream_neardup(
        spark, d, str(tmp_path / "store"), str(tmp_path / "ck"))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(240)

    got = {r.doc_id for r in snd.survivors().collect()}
    want = {r.doc_id for r in neardup_survivors(docs).collect()}
    assert got == want
    # every base survives; the planted variants overwhelmingly drop
    assert set(range(30)) <= got
    assert len(got - set(range(30))) <= 3  # FP slack on banded minhash
    assert snd._batches >= 3


def test_stream_neardup_state_survives_restart(spark, tmp_path):
    """Band-key state lives in the SnapshotStore: a NEW query over a
    NEW checkpoint still refuses near-dups of docs survived before
    the restart."""
    from simplecrawler_spark.streaming.neardup_stream import (
        stream_neardup,
    )

    docs = _docs_with_neardups(spark)
    root = str(tmp_path / "store")
    d1 = str(tmp_path / "in1")
    docs.where(F.col("doc_id") < 100).coalesce(1).write.parquet(d1)
    snd1, w1 = stream_neardup(spark, d1, root, str(tmp_path / "ck1"))
    w1.trigger(availableNow=True).start().awaitTermination(120)
    n1 = snd1.survivors().count()
    assert n1 == 30  # all bases, no variants yet

    d2 = str(tmp_path / "in2")
    docs.where(F.col("doc_id") >= 100).coalesce(1).write.parquet(d2)
    snd2, w2 = stream_neardup(spark, d2, root, str(tmp_path / "ck2"))
    w2.trigger(availableNow=True).start().awaitTermination(120)
    surv = snd2.survivors()
    # variants of pre-restart survivors drop (allow banded-minhash
    # slack); no base is ever displaced
    assert surv.where(F.col("doc_id") < 100).count() == 30
    assert surv.where(F.col("doc_id") >= 100).count() <= 3
