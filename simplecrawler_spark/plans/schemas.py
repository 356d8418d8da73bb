"""Fixed engine schemas (SURVEY.md §1.2) — no inference anywhere.

The reference's implicit schemas (Hyperlink.__slots__,
/root/reference/simple_crawler/hyperlink.py:22; results Set[str],
crawler.py:244-251) become explicit StructTypes. `corpus` is the
image+caption input table mandated by BASELINE.json:15.
"""

from pyspark.sql import types as T

FRONTIER = T.StructType([
    T.StructField("url_norm", T.StringType(), True),
    T.StructField("url_raw", T.StringType(), True),   # raw resolution string — urljoin input (hyperlink.py:115-124)
    T.StructField("url_hash", T.LongType(), True),
    T.StructField("authority", T.StringType(), True),
    T.StructField("host", T.StringType(), True),
    T.StructField("depth", T.IntegerType(), True),
    T.StructField("priority", T.DoubleType(), True),
    T.StructField("discovered_from", T.StringType(), True),
    T.StructField("round", T.IntegerType(), True),
    # the round the url entered the seen set (FrontierCrawler.seen);
    # NULL on rows that record no admission: seeds, deferred copies
    T.StructField("round_added", T.IntegerType(), True),
])

RESULTS = T.StructType([
    T.StructField("url_norm", T.StringType(), True),
    T.StructField("status", T.IntegerType(), True),
    T.StructField("content_type", T.StringType(), True),
    T.StructField("parsed", T.BooleanType(), True),    # wrong-MIME 200s: done but parsed=false (crawler.py:176-180)
    T.StructField("depth", T.IntegerType(), True),
    T.StructField("round", T.IntegerType(), True),
    T.StructField("image_id", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
])

ROBOTS = T.StructType([
    T.StructField("authority", T.StringType(), True),
    T.StructField("robots_txt", T.StringType(), True),  # raw lines; evaluated by stdlib robotparser for parity
    T.StructField("crawl_delay", T.DoubleType(), True),
])

LINKS = T.StructType([
    T.StructField("src_url", T.StringType(), True),
    T.StructField("src_raw", T.StringType(), True),
    T.StructField("href_raw", T.StringType(), True),
])

SITE_GRAPH = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("url_norm", T.StringType(), True),
    T.StructField("status", T.IntegerType(), True),
    T.StructField("content_type", T.StringType(), True),
    T.StructField("body", T.StringType(), True),
    T.StructField("redirect_location", T.StringType(), True),
    T.StructField("ua_required", T.StringType(), True),
    T.StructField("image_id", T.StringType(), True),
])

CORPUS = T.StructType([
    T.StructField("image_id", T.StringType(), True),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("phash", T.LongType(), True),
])

# S5 per-URL log sink — the reference's console transcript
# (crawler.py:147,152,155,174,179 CRAWLING:/VISITED:/FOUND:/ERROR:
# prints plus the robots "can't crawl" line :225) as a table. `url` is
# the normalised url being crawled, or for FOUND the normalised raw
# href; `detail` carries the FOUND source page / ERROR status / blocked
# user-agent.
CRAWL_LOG = T.StructType([
    T.StructField("round", T.IntegerType(), True),
    T.StructField("event", T.StringType(), True),
    T.StructField("url", T.StringType(), True),
    T.StructField("detail", T.StringType(), True),
])

# seeds whose fetch completed (R5 done-skip): the only urls that can be
# both done and back in the frontier
DONE_SEEDS = T.StructType([
    T.StructField("url_norm", T.StringType(), True),
])

METRICS = T.StructType([
    T.StructField("round", T.IntegerType(), True),
    T.StructField("metric", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
])
