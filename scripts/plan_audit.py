#!/usr/bin/env python
"""Physical-plan audit → BENCH/PLANS.md.

Captures `explain("formatted")` for representative queries and checks
the properties the 100 TB design depends on:

  * column pruning: parquet ReadSchema carries only consumed columns
  * predicate pushdown: PushedFilters non-empty where a filter exists
  * whole-stage codegen present on the JVM paths
  * the politeness fast path plans NO exchange when unconstrained
  * the canonical fast path keeps one (and only one) Arrow eval per
    canonicalisation chain
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_ops(plan: str, op: str) -> int:
    """Count physical operators by their detail headers — the tree
    summary at the top repeats every name once more."""
    import re
    return len(re.findall(rf"^\(\d+\) {op}", plan, re.M))


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.operators.politeness import schedule_budget

    # AQE off for the audit: explain() on an AdaptiveSparkPlan shows
    # the pre-execution plan without codegen annotations
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    qs = E.queries()
    checks: list[tuple[str, bool, str]] = []
    sections: list[tuple[str, str]] = []

    # 1. column pruning + codegen on a canonicalisation query
    plan = formatted(qs["q_canonicalize"](spark, SF_DIR))
    sections.append(("q_canonicalize", plan))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    checks.append(("q_canonicalize scans only o_orderkey,o_custkey",
                   bool(read) and "o_comment" not in read[0]
                   and "o_custkey" in read[0],
                   read[0].strip() if read else "no ReadSchema"))
    checks.append(("q_canonicalize has WholeStageCodegen",
                   "WholeStageCodegen" in plan
                   or "codegen id" in plan, ""))
    checks.append(("q_canonicalize exactly one Arrow eval",
                   n_ops(plan, "ArrowEvalPython") == 1,
                   f"count={n_ops(plan, 'ArrowEvalPython')}"))

    # 2. predicate pushdown on a filtered scan
    df = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .where(F.col("o_orderkey") < 100).select("o_orderkey"))
    plan = formatted(df)
    sections.append(("filtered orders scan", plan))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    checks.append(("filter pushed to parquet scan",
                   bool(pushed) and "LessThan(o_orderkey,100" in pushed[0],
                   pushed[0].strip() if pushed else "none"))

    # 3. politeness fast path: unconstrained budget plans no Exchange
    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .select(F.col("user_id").cast("string").alias("host"),
                  F.col("user_id").cast("string").alias("authority"),
                  F.lit(0.0).alias("priority"),
                  F.col("event_id").alias("url_hash")))
    sched_fast, _ = schedule_budget(ev, CrawlConfig())
    plan_fast = formatted(sched_fast)
    sections.append(("politeness fast path (no delays)", plan_fast))
    checks.append(("unconstrained politeness plans no Exchange",
                   n_ops(plan_fast, "Exchange") == 0, ""))
    sched_win, _ = schedule_budget(ev, CrawlConfig(
        max_per_host_per_round=5))
    plan_win = formatted(sched_win)
    sections.append(("politeness window (budget=5)", plan_win))
    checks.append(
        ("budgeted politeness: one host exchange, map-side group limit",
         n_ops(plan_win, "Exchange") == 1
         and n_ops(plan_win, "WindowGroupLimit") >= 1,
         f"exchanges={n_ops(plan_win, 'Exchange')}, "
         f"group_limits={n_ops(plan_win, 'WindowGroupLimit')}"))

    # 3b. robots gate: the frontier hash-joins the rules side (the
    # build side) once and one Arrow eval runs the stdlib parser
    plan = formatted(qs["q_robots_gate"](spark, SF_DIR))
    sections.append(("q_robots_gate", plan))
    n_joins = sum(n_ops(plan, j) for j in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
    checks.append(("robots gate: one join against the rules, one Arrow eval",
                   n_joins == 1 and n_ops(plan, "BroadcastHashJoin") == 1
                   and "BuildRight" in plan
                   and n_ops(plan, "ArrowEvalPython") == 1,
                   f"joins={n_joins}, "
                   f"arrow_evals={n_ops(plan, 'ArrowEvalPython')}"))

    # 4. seen anti-join structure
    plan = formatted(qs["q_seen_antijoin"](spark, SF_DIR))
    sections.append(("q_seen_antijoin", plan))
    checks.append(("anti-join present",
                   "LeftAnti" in plan or "left_anti" in plan.lower(), ""))

    def n_python(plan: str) -> int:
        return (n_ops(plan, "ArrowEvalPython")
                + n_ops(plan, "BatchEvalPython")
                + n_ops(plan, "MapInPandas"))

    # 5. corpus cleaning: pruned scan, pure JVM, map-side combine
    plan = formatted(qs["q_corpus_clean"](spark, SF_DIR))
    sections.append(("q_corpus_clean", plan))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    checks.append(("q_corpus_clean scans only doc_id,text",
                   bool(read) and "doc_id" in read[0]
                   and "n_chars" not in read[0] and "source" not in read[0],
                   read[0].strip() if read else "no ReadSchema"))
    checks.append(("q_corpus_clean has zero Python evals",
                   n_python(plan) == 0, f"python_ops={n_python(plan)}"))
    checks.append(("q_corpus_clean map-side partial aggregation",
                   "partial_" in plan, ""))

    # 6. hash split: narrow projection, zero exchanges
    plan = formatted(qs["q_hash_split"](spark, SF_DIR))
    sections.append(("q_hash_split", plan))
    checks.append(("q_hash_split plans no Exchange and no Python",
                   n_ops(plan, "Exchange") == 0 and n_python(plan) == 0,
                   f"exchanges={n_ops(plan, 'Exchange')}"))

    # 7. unigram LM scoring: corpus totals ride a broadcast, not a
    # driver collect; token-count aggs combine map-side
    plan = formatted(qs["q_unigram_logprob"](spark, SF_DIR))
    sections.append(("q_unigram_logprob", plan))
    checks.append(("q_unigram_logprob broadcasts corpus totals",
                   "BroadcastExchange" in plan
                   or "BroadcastNestedLoopJoin" in plan, ""))
    checks.append(("q_unigram_logprob pure JVM with partial aggs",
                   n_python(plan) == 0 and "partial_" in plan,
                   f"python_ops={n_python(plan)}"))

    # 8. windowed event rollup: one shuffle, partial+final agg
    plan = formatted(qs["q_event_window_rollup"](spark, SF_DIR))
    sections.append(("q_event_window_rollup", plan))
    checks.append(("event rollup: single exchange, partial agg",
                   n_ops(plan, "Exchange") == 1 and "partial_" in plan,
                   f"exchanges={n_ops(plan, 'Exchange')}"))

    # 9. banded Hamming near-dup: equi-join on band key, no cartesian
    plan = formatted(qs["q_phash_neardup"](spark, SF_DIR))
    sections.append(("q_phash_neardup", plan))
    checks.append(("phash near-dup plans no CartesianProduct",
                   n_ops(plan, "CartesianProduct") == 0
                   and n_ops(plan, "BroadcastNestedLoopJoin") == 0, ""))

    # 10. decontamination: benchmark gram set broadcast (the training
    # explode must never shuffle), pure JVM, partial agg on hit rows
    plan = formatted(qs["q_decontaminate"](spark, SF_DIR))
    sections.append(("q_decontaminate", plan))
    checks.append(("decontaminate broadcasts the benchmark gram set",
                   n_ops(plan, "BroadcastHashJoin") >= 1, ""))
    checks.append(("decontaminate pure JVM with partial aggregation",
                   n_python(plan) == 0 and "partial" in plan.lower(), ""))

    # 11. semantic dedup: cell-keyed self-join (never cartesian),
    # pure built-in expressions end to end
    plan = formatted(qs["q_semantic_dedup"](spark, SF_DIR))
    sections.append(("q_semantic_dedup", plan))
    checks.append(("semantic dedup joins on cell, no CartesianProduct",
                   n_ops(plan, "CartesianProduct") == 0
                   and n_ops(plan, "BroadcastNestedLoopJoin") == 0, ""))
    checks.append(("semantic dedup has zero Python evals",
                   n_python(plan) == 0, ""))

    # 12. quality buckets: pure JVM, map-side partial aggs feeding the
    # histogram (the window sorts score-histogram rows, never docs)
    plan = formatted(qs["q_quality_buckets"](spark, SF_DIR))
    sections.append(("q_quality_buckets", plan))
    checks.append(("quality buckets pure JVM with partial aggs",
                   n_python(plan) == 0 and "partial" in plan.lower(), ""))

    # 13. substring dedup (rolling default): the Karp-Rabin key scan
    # is lazily localCheckpoint-ed, so the consuming plan reads the
    # materialised RDD (Scan ExistingRDD) instead of inlining the
    # Python stage twice; partial agg on the key shuffle, no cartesian
    plan = formatted(qs["q_substring_dedup"](spark, SF_DIR))
    sections.append(("q_substring_dedup", plan))
    checks.append(("substring dedup rolling: checkpointed key scan "
                   "(no inline Python), partial agg, no cartesian",
                   n_python(plan) == 0 and "Scan ExistingRDD" in plan
                   and "partial" in plan.lower()
                   and n_ops(plan, "CartesianProduct") == 0,
                   f"python_ops={n_python(plan)}"))

    # 13a. the key scan itself is exactly one Python stage
    from simplecrawler_spark.functions.text import tokens_expr
    from simplecrawler_spark.operators.dedup import (
        _substring_occ_rolling,
    )
    docs13 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base13 = docs13.select(
        F.col("doc_id"), tokens_expr(F.col("text")).alias("_toks"))
    plan = formatted(_substring_occ_rolling(
        base13.where(F.size("_toks") >= 10), 10, "doc_id"))
    sections.append(("substring_occ_rolling", plan))
    checks.append(("rolling key generator exactly one Python stage",
                   n_python(plan) == 1,
                   f"python_ops={n_python(plan)}"))

    # 13b. the md5 oracle twin stays pure JVM
    from simplecrawler_spark.operators.dedup import substring_dedup
    docs13 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted(substring_dedup(docs13, window=10, key_fn="md5"))
    sections.append(("substring_dedup_md5", plan))
    checks.append(("substring dedup md5 twin pure JVM, partial agg, "
                   "no cartesian",
                   n_python(plan) == 0 and "partial" in plan.lower()
                   and n_ops(plan, "CartesianProduct") == 0, ""))

    # 14. PII redaction: a single narrow projection — no exchange, no
    # Python; counts + redaction are one pass of JVM regexp machinery
    plan = formatted(qs["q_redact_pii"](spark, SF_DIR))
    sections.append(("q_redact_pii", plan))
    checks.append(("redact_pii no Exchange and no Python",
                   n_ops(plan, "Exchange") == 0 and n_python(plan) == 0,
                   f"exchanges={n_ops(plan, 'Exchange')}"))

    # 14b. retrieval family: ngram_topk's top-k is a TakeOrdered —
    # never a global Sort; bm25 keeps every join side broadcast and
    # stays pure JVM; the per-source sample window carries no Python
    plan = formatted(qs["q_ngram_topk"](spark, SF_DIR))
    sections.append(("q_ngram_topk", plan))
    checks.append(("ngram_topk top-k is TakeOrdered, no global Sort",
                   n_ops(plan, "TakeOrderedAndProject") >= 1
                   and n_python(plan) == 0
                   and "partial" in plan.lower(), ""))
    plan = formatted(qs["q_bm25"](spark, SF_DIR))
    sections.append(("q_bm25", plan))
    checks.append(("bm25 broadcasts df/totals, zero Python evals",
                   n_ops(plan, "BroadcastExchange") >= 2
                   and n_python(plan) == 0, ""))
    plan = formatted(qs["q_stratified_sample"](spark, SF_DIR))
    sections.append(("q_stratified_sample", plan))
    checks.append(("stratified sample: one Window + map-side "
                   "WindowGroupLimit, no Python",
                   n_ops(plan, "Window$") == 1
                   and n_ops(plan, "WindowGroupLimit") >= 1
                   and n_python(plan) == 0,
                   f"group_limits={n_ops(plan, 'WindowGroupLimit')}"))

    # 14c. SQ8 quantised top-k: pure JVM HOFs end to end (quantise,
    # reconstruct, score) and a TakeOrdered top-k
    plan = formatted(qs["q_sq8_topk"](spark, SF_DIR))
    sections.append(("q_sq8_topk", plan))
    checks.append(("sq8 top-k pure JVM, TakeOrdered",
                   n_python(plan) == 0
                   and n_ops(plan, "TakeOrderedAndProject") >= 1, ""))

    # 14d. trap flags are a single narrow JVM pass over the discovery
    # rows: no Exchange, no Python — cheap enough to run per href
    plan = formatted(qs["q_url_traps"](spark, SF_DIR))
    sections.append(("q_url_traps", plan))
    checks.append(("url traps no Exchange and no Python",
                   n_ops(plan, "Exchange") == 0
                   and n_python(plan) == 0, ""))

    # 14e. chunking is explode-in-codegen: no Exchange, no Python —
    # chunks are assembled row-locally from each doc's own array
    plan = formatted(qs["q_chunk_docs"](spark, SF_DIR))
    sections.append(("q_chunk_docs", plan))
    checks.append(("chunk_docs explode is shuffle-free, no Python",
                   n_ops(plan, "Exchange") == 0
                   and n_python(plan) == 0
                   and n_ops(plan, "Generate") >= 1, ""))

    # 14f. recrawl priority: the lag window and the per-url agg SHARE
    # one url-keyed Exchange (a separate agg shuffle would make 3);
    # the only other Exchange is the 1-row global max-ts "now" agg
    # that broadcasts back. No Python anywhere.
    plan = formatted(qs["q_recrawl"](spark, SF_DIR))
    sections.append(("q_recrawl", plan))
    checks.append(("recrawl window+agg share the url shuffle, no Python",
                   n_ops(plan, "Exchange") == 2
                   and n_ops(plan, "Window") == 1
                   and n_ops(plan, "BroadcastExchange") == 1
                   and n_python(plan) == 0,
                   f"exchanges={n_ops(plan, 'Exchange')} "
                   f"(url-grain + 1-row now-agg)"))

    # 14g. anchor-text agg: identical anchors collapse in a partial
    # agg BEFORE the shuffle; one Window on the already-aggregated
    # distinct-text rows; no Python
    plan = formatted(qs["q_anchor_text"](spark, SF_DIR))
    sections.append(("q_anchor_text", plan))
    checks.append(("anchor agg partial-aggregates before the shuffle",
                   n_ops(plan, "HashAggregate") >= 2
                   and n_ops(plan, "Window") == 1
                   and n_python(plan) == 0, ""))

    # 14h. host backoff: ONE host-grain Exchange (combinable agg),
    # no Python
    plan = formatted(qs["q_host_backoff"](spark, SF_DIR))
    sections.append(("q_host_backoff", plan))
    checks.append(("host backoff single combinable shuffle, no Python",
                   n_ops(plan, "Exchange") == 1
                   and n_python(plan) == 0, ""))

    # 14i. payload sniffing is a narrow projection: no Exchange, no
    # Python — cheap enough to gate every ingest row pre-decode
    plan = formatted(qs["q_sniff_format"](spark, SF_DIR))
    sections.append(("q_sniff_format", plan))
    checks.append(("format sniff no Exchange and no Python",
                   n_ops(plan, "Exchange") == 0
                   and n_python(plan) == 0, ""))

    # 14j. CLIP alignment gate: the cosine is pure JVM HOFs — the
    # only exchanges belong to the query's own pair-construction join
    plan = formatted(qs["q_clip_gate"](spark, SF_DIR))
    sections.append(("q_clip_gate", plan))
    checks.append(("clip gate zero Python, no cartesian",
                   n_python(plan) == 0
                   and n_ops(plan, "CartesianProduct") == 0, ""))

    # 14k. blocklist gate: suffix explode + BROADCAST equi-join —
    # never a LIKE/nested-loop scan of the list
    plan = formatted(qs["q_blocklist"](spark, SF_DIR))
    sections.append(("q_blocklist", plan))
    checks.append(("blocklist broadcast equi-join, no nested loop",
                   n_ops(plan, "BroadcastHashJoin") >= 1
                   and n_ops(plan, "BroadcastNestedLoopJoin") == 0
                   and n_ops(plan, "CartesianProduct") == 0
                   and n_python(plan) == 0, ""))

    # 14l. boilerplate strip: frequency pass shuffles only hash rows,
    # strip pass joins the per-group sets broadcast; zero Python
    plan = formatted(qs["q_boilerplate"](spark, SF_DIR))
    sections.append(("q_boilerplate", plan))
    checks.append(("boilerplate strip broadcast sets, zero Python",
                   n_ops(plan, "BroadcastHashJoin") >= 1
                   and n_python(plan) == 0, ""))

    # 14m. epoch assembly: fan-out + order key are SHUFFLE-FREE (the
    # epoch's one global sort belongs to the consumer)
    plan = formatted(qs["q_epochs"](spark, SF_DIR))
    sections.append(("q_epochs", plan))
    checks.append(("epoch assembly no Exchange, no Python",
                   n_ops(plan, "Exchange") == 0
                   and n_python(plan) == 0, ""))

    # 14n. WARC parse: split/regex/substr in codegen; the only
    # exchange is the fixture's own per-source archive groupBy
    plan = formatted(qs["q_warc"](spark, SF_DIR))
    sections.append(("q_warc", plan))
    checks.append(("warc parse zero Python, codegen",
                   n_python(plan) == 0
                   and ("WholeStageCodegen" in plan
                        or "codegen id" in plan), ""))

    # 14o. WET extraction: exactly ONE Arrow-batch eval (the stdlib
    # parser), no Exchange — fuses with the fetch/decode stage
    plan = formatted(qs["q_wet"](spark, SF_DIR))
    sections.append(("q_wet", plan))
    checks.append(("wet extraction one Arrow eval, no Exchange",
                   n_ops(plan, "ArrowEvalPython") == 1
                   and n_ops(plan, "Exchange") == 0,
                   f"arrow_evals={n_ops(plan, 'ArrowEvalPython')}"))

    # 14q. Gopher + C4 document rules: the first-stage gates must be
    # pure narrow JVM (no Exchange, no Python) — they run at scan
    # grain ahead of everything that aggregates
    for qn in ("q_gopher", "q_c4"):
        plan = formatted(qs[qn](spark, SF_DIR))
        sections.append((qn, plan))
        checks.append((f"{qn} rules no Exchange and no Python",
                       n_ops(plan, "Exchange") == 0
                       and n_python(plan) == 0, ""))

    # 14t. hashed linear classifier: broadcast model join, partial
    # aggs, zero Python
    plan = formatted(qs["q_linear_score"](spark, SF_DIR))
    sections.append(("q_linear_score", plan))
    checks.append(("linear classifier broadcast model, no Python",
                   n_ops(plan, "BroadcastHashJoin") >= 1
                   and n_python(plan) == 0
                   and "partial" in plan.lower(), ""))

    # 14s. meta-robots directives: one narrow regex projection
    plan = formatted(qs["q_meta_robots"](spark, SF_DIR))
    sections.append(("q_meta_robots", plan))
    checks.append(("meta robots no Exchange and no Python",
                   n_ops(plan, "Exchange") == 0
                   and n_python(plan) == 0, ""))

    # 14r. corpus stats: one pass, partial-aggregated on the source
    # key, exact distinct rides the same grain — no Python
    plan = formatted(qs["q_corpus_stats"](spark, SF_DIR))
    sections.append(("q_corpus_stats", plan))
    checks.append(("corpus stats partial agg, no Python",
                   n_python(plan) == 0
                   and "partial" in plan.lower(), ""))

    # 14p. BPE pair statistics: the corpus-scale half of tokenizer
    # training is pure JVM, partial-aggregated, top-k via TakeOrdered
    plan = formatted(qs["q_bpe_pairs"](spark, SF_DIR))
    sections.append(("q_bpe_pairs", plan))
    checks.append(("bpe pair stats pure JVM, partial agg, TakeOrdered",
                   n_python(plan) == 0
                   and "partial" in plan.lower()
                   and n_ops(plan, "TakeOrderedAndProject") >= 1
                   and n_ops(plan, "Sort") == 0, ""))

    # 14o. Gopher repetition: per-row sorted-adjacency folds — a gate
    # at scan grain, nothing crosses rows
    plan = formatted(qs["q_gopher_rep"](spark, SF_DIR))
    sections.append(("q_gopher_rep", plan))
    checks.append(("gopher repetition no Exchange and no Python",
                   n_ops(plan, "Exchange") == 0
                   and n_python(plan) == 0, ""))

    # 14n. bigram LM: token-keyed equi-joins + combinable aggs +
    # broadcast totals, zero Python
    plan = formatted(qs["q_bigram_logprob"](spark, SF_DIR))
    sections.append(("q_bigram_logprob", plan))
    checks.append(("bigram LM pure JVM, partial aggs, broadcast totals",
                   n_python(plan) == 0
                   and "partial" in plan.lower()
                   and n_ops(plan, "BroadcastExchange") >= 1, ""))

    # 14m. encoding hygiene: both are narrow single-pass projections
    for qn in ("q_mojibake", "q_charset_meta"):
        plan = formatted(qs[qn](spark, SF_DIR))
        sections.append((qn, plan))
        checks.append((f"{qn} no Exchange and no Python",
                       n_ops(plan, "Exchange") == 0
                       and n_python(plan) == 0, ""))

    # 14l. retrieval eval: joins stay hash/broadcast (never
    # cartesian), sums partial-aggregate, zero Python
    for qn in ("q_recall_at_k", "q_ndcg"):
        plan = formatted(qs[qn](spark, SF_DIR))
        sections.append((qn, plan))
        checks.append((f"{qn} no cartesian, partial agg, no Python",
                       n_ops(plan, "CartesianProduct") == 0
                       and "partial" in plan.lower()
                       and n_python(plan) == 0, ""))

    # 14k. temperature shares: one combinable count + broadcast total
    plan = formatted(qs["q_temperature"](spark, SF_DIR))
    sections.append(("q_temperature", plan))
    checks.append(("temperature shares partial agg + broadcast total",
                   "partial" in plan.lower()
                   and n_python(plan) == 0
                   and (n_ops(plan, "BroadcastExchange") >= 1
                        or n_ops(plan, "BroadcastNestedLoopJoin") >= 1),
                   ""))

    # 14i. readability: per-row HOF gate at scan grain
    plan = formatted(qs["q_readability"](spark, SF_DIR))
    sections.append(("q_readability", plan))
    checks.append(("readability no Exchange and no Python",
                   n_ops(plan, "Exchange") == 0
                   and n_python(plan) == 0, ""))

    # 14h. source diversity: two tiny combinable aggs, no Python
    plan = formatted(qs["q_diversity"](spark, SF_DIR))
    sections.append(("q_diversity", plan))
    checks.append(("source diversity partial aggs, no Python",
                   "partial" in plan.lower()
                   and n_python(plan) == 0, ""))

    # 14j. byte-mode WARC: exactly ONE Python stage — the
    # record-boundary reader itself; everything downstream is JVM
    plan = formatted(qs["q_warc_bytes"](spark, SF_DIR))
    sections.append(("q_warc_bytes", plan))
    checks.append(("warc byte reader exactly one Python stage",
                   n_python(plan) == 1,
                   f"python_ops={n_python(plan)}"))

    # 15. IVF probe is a partition-pruned scan: non-probed cell
    # directories never reach the file index
    import shutil
    import tempfile

    from simplecrawler_spark.operators.similarity import (
        ann_ivf_probe,
        ivf_build,
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    tmp = tempfile.mkdtemp(prefix="ivf_audit_")
    try:
        ivf_build(emb, tmp, n_cells=8)
        probe = ann_ivf_probe(spark, tmp, [1.0] * dim, k=5, nprobe=2)
        plan = formatted(probe)
        sections.append(("ann_ivf_probe (built index, nprobe=2/8)", plan))
        part = [l for l in plan.splitlines() if "PartitionFilters" in l]
        checks.append(("IVF probe partition-prunes on cell",
                       bool(part) and "cell" in part[0],
                       part[0].strip()[:110] if part else "none"))

        # 16. batched ANN (round-3 verdict item 5), default static
        # pruning: the ≤n_cells probed-cell union plants a literal IN
        # PartitionFilter on the built-index scan — unprobed cells'
        # files never reach the file index; the probe side is
        # broadcast; no cartesian anywhere
        import json

        from simplecrawler_spark.operators.similarity import (
            ann_ivf_topk_join,
        )
        with open(os.path.join(tmp, "_centroids.json")) as fh:
            cents = json.load(fh)
        queries = (emb.orderBy("vec_id").limit(4)
                   .select(F.col("vec_id").alias("query_id"),
                           "embedding"))
        bj = ann_ivf_topk_join(emb, queries, k=5, nprobe=2,
                               centroids=cents,
                               assigned=spark.read.parquet(tmp))
        plan = formatted(bj)
        sections.append(("ann_ivf_topk_join (built index, nprobe=2/8, "
                         "static prune)", plan))
        part = [l for l in plan.splitlines()
                if "PartitionFilters" in l and " IN " in l]
        checks.append(("batched ANN static-prunes cells + broadcasts "
                       "probes",
                       bool(part)
                       and n_ops(plan, "BroadcastExchange") >= 1
                       and n_ops(plan, "CartesianProduct") == 0,
                       (part[0].strip()[:110] if part else "none")))

        # 17. prune="dynamic" over a filtered query table: the
        # broadcast join on the partition column arms DPP (the
        # selective-predicate requirement is why static is the default)
        fq = (emb.where(F.col("vec_id") < 4)
              .select(F.col("vec_id").alias("query_id"), "embedding"))
        bj2 = ann_ivf_topk_join(emb, fq, k=5, nprobe=2,
                                centroids=cents,
                                assigned=spark.read.parquet(tmp),
                                prune="dynamic")
        plan = formatted(bj2)
        sections.append(("ann_ivf_topk_join (filtered queries, "
                         "prune=dynamic)", plan))
        dpp = [l for l in plan.splitlines()
               if "PartitionFilters" in l and "dynamicpruning" in l]
        checks.append(("batched ANN dynamic mode arms DPP on cell",
                       bool(dpp),
                       (dpp[0].strip()[:110] if dpp else "no dpp")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as fh:
        fh.write("# Physical-plan audit (`explain(\"formatted\")`)\n\n")
        fh.write("| check | ok | evidence |\n|---|---|---|\n")
        for name, ok, ev_ in checks:
            fh.write(f"| {name} | {'PASS' if ok else 'FAIL'} | "
                     f"{ev_[:120]} |\n")
        for title, plan in sections:
            fh.write(f"\n## {title}\n\n```\n{plan[:4000]}\n```\n")
    failed = [c for c in checks if not c[1]]
    for name, ok, ev_ in checks:
        print(("PASS " if ok else "FAIL ") + name + (f" [{ev_}]" if ev_ else ""))
    print(f"{len(checks) - len(failed)}/{len(checks)} plan checks pass "
          "-> BENCH/PLANS.md")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
