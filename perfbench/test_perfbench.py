"""The benchmark's own checks, without Spark: the oracle catches a
wrong visited set, a failed check fails the run, the generators are
deterministic, the trace arithmetic is right, the memory sampler
counts only the driver and Spark's processes, and a run leaves no
process behind.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import gen
import oracle
import rss
import run
import tracing
from workloads import WORKLOADS, Iteration


@pytest.fixture(scope="module")
def polite():
    wl = WORKLOADS["polite_hosts"]
    graph = wl.make_inputs(7)
    return graph, wl.oracle(graph)


def _iteration(error):
    return Iteration(wall_s=1.0, items=1, round_s=[1.0], table_bytes=1,
                     table_files=1, error=error)


def test_exact_visited_set_passes(polite):
    graph, answer = polite
    urls = [graph.url(int(i)) for i in answer.fetched]
    assert oracle.check_crawl(graph, answer, urls[::-1], answer.n_seen) is None


def test_missing_url_fails_the_run(polite):
    graph, answer = polite
    urls = [graph.url(int(i)) for i in answer.fetched][1:]
    error = oracle.check_crawl(graph, answer, urls, answer.n_seen)
    assert error.startswith("visited_count")
    assert run.tally([_iteration(error)], [], None) == (1, 1)


def test_swapped_url_fails_the_digest(polite):
    graph, answer = polite
    urls = [graph.url(int(i)) for i in answer.fetched]
    unfetched = next(i for i in range(graph.n_pages)
                     if i not in set(answer.fetched.tolist()))
    urls[0] = graph.url(unfetched)
    error = oracle.check_crawl(graph, answer, urls, answer.n_seen)
    assert error.startswith("visited_digest")


def test_seen_count_is_checked(polite):
    graph, answer = polite
    urls = [graph.url(int(i)) for i in answer.fetched]
    error = oracle.check_crawl(graph, answer, urls, answer.n_seen + 1)
    assert error.startswith("seen_count")


def test_tally_counts_raised_jobs_and_bad_inputs():
    assert run.tally([_iteration(None)], ["Traceback"], None) == (2, 1)
    assert run.tally([_iteration(None)] * 3, [], "input_digest: x") == (3, 3)


def test_layered_graph_rounds_do_not_depend_on_the_seed():
    wl = WORKLOADS["polite_hosts"]
    levels = len(wl.graph_args["level_sizes"])
    for seed in range(6):
        graph = wl.make_inputs(seed)
        answer = wl.oracle(graph)
        assert answer.rounds == levels
        assert answer.n_blocked > 0
        # more authorities than the closure limit, seeds below it
        limit = wl.crawl_cfg["robots_closure_max"]
        assert len(set(graph.host[graph.seeds].tolist())) < limit
        assert answer.n_authorities > limit


def test_robots_rules_match_the_blocked_mask(polite):
    from urllib.robotparser import RobotFileParser

    graph, _ = polite
    blocked = graph.blocked()
    for i in range(0, graph.n_pages, 97):
        rp = RobotFileParser()
        rp.parse(graph.robots_txt(int(graph.host[i])).splitlines())
        assert rp.can_fetch("PySimpleCrawler", graph.url(i)) != blocked[i]


def test_inputs_are_deterministic_and_recorded():
    recorded = gen.load_recorded()
    for name, wl in WORKLOADS.items():
        a, b = wl.make_inputs(3).digest(), wl.make_inputs(3).digest()
        assert a == b != wl.make_inputs(4).digest()
        assert recorded[name]["3"] == a
        assert gen.check_digest(name, 3, a) is None
        assert gen.check_digest(name, 3, "0" * 16).startswith("input_digest")


def test_dedup_arithmetic():
    corpus = gen.text_corpus(5, n_base=10, fan=20)
    answer = oracle.dedup_arithmetic(corpus)
    assert (answer.n_docs, answer.n_groups) == (200, 190)
    ok = dict(n_groups=190, n_dup_rows=200, n_full_groups=10, n_kept=150,
              n_substring=150, n_packed=150, n_pairs=3)
    assert oracle.check_curation(answer, **ok) is None
    bad = dict(ok, n_groups=191)
    assert oracle.check_curation(answer, **bad).startswith("exact_groups")
    rows = corpus.rows()
    assert rows["text"][0] == rows["text"][10]
    assert rows["text"][0] != rows["text"][1]


def test_union_and_self_time():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    spans = [tracing.Span(1, "crawl", None, 0.0, 10.0),
             tracing.Span(2, "a", 1, 1.0, 4.0),
             tracing.Span(3, "b", 1, 3.0, 5.0)]
    selfs = tracing.self_times(spans, [(1, 6.0, 8.0)])
    assert selfs == {1: 4.0, 2: 3.0, 3: 2.0}


def test_event_log_bills_jobs_to_layers(tmp_path):
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 4,
         "time": 1500, "physicalPlanDescription":
         "Arguments: file:/x/stage/fetched-r0, false, Parquet, []"},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 5,
         "time": 2900, "physicalPlanDescription":
         "Location: InMemoryFileIndex [file:/x/stage/fetched-r0]\n"
         "Arguments: file:/x/data/frontier/ab12, false, Parquet, []"},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionEnd", "executionId": 5,
         "time": 3500},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionEnd", "executionId": 4,
         "time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1500, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pb-1",
                        "spark.sql.execution.id": "4"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2400},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "pb-2",
                        "spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 3500},
    ]
    for stage, runs in ((0, (100, 100, 300)), (1, (50,))):
        for ms in runs:
            events.append({
                "Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": ms},
                "Task Metrics": {"Executor Run Time": ms, "JVM GC Time": 1,
                                 "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": 10}}})
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    log = tracing.EventLog(str(tmp_path))
    root = tracing.Span(1, "crawl", None, 1.0, 4.0)
    spans = [root, tracing.Span(2, "tables.append.frontier", 1, 2.9, 3.6)]
    rep = tracing.layer_report(log, spans, root)
    assert rep["jobs"] == 2
    assert rep["fetch_wall_s"] == pytest.approx(1.0)
    assert rep["fetch_exec_s"] == pytest.approx(0.5)
    assert rep["fetch_skew"] == pytest.approx(3.0)
    assert rep["exec_run_s"] == pytest.approx(0.55)
    assert rep["shuffle_bytes"] == 40
    assert rep["driver_only_s"] == pytest.approx(3.0 - 0.9 - 0.5)
    assert rep["root_self_s"] == pytest.approx(3.0 - 1.0 - 0.7)
    assert rep["layers"]["tables.append.frontier"]["jobs"] == 1
    assert rep["spans"]("tables.append.frontier") == pytest.approx(0.7)


def test_rss_leaves_out_children_that_are_not_spark():
    """Only the driver, its JVM and the pyspark.daemon workers count; a
    stray child holding 256 MiB does not."""
    child = subprocess.Popen(
        [sys.executable, "-c", "import sys; b = b'x' * (256 << 20); "
         "print('ready', flush=True); sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        driver, workers = rss.tree_rss(os.getpid())
        assert rss._anon_bytes(child.pid) >= 256 << 20
        assert driver < 256 << 20
        assert workers == 0
    finally:
        child.stdin.close()
        child.wait(timeout=10)


_ORPHAN_SCRIPT = """
import os, subprocess, sys
sys.path.insert(0, {here!r})
import run
run.adopt_orphans()
# the shell exits at once; its sleep is orphaned and comes back to us
pid = int(subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                         capture_output=True, text=True).stdout)
assert pid in run.children()
run.reap_children(grace_s=0.5)
print(pid, run.children())
"""


def test_reap_children_stops_orphaned_grandchildren():
    """A process the run's children leave behind is adopted, killed
    after the grace period and waited for before the run exits."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run([sys.executable, "-c",
                          _ORPHAN_SCRIPT.format(here=here)],
                         capture_output=True, text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    pid, left = out.stdout.split(maxsplit=1)
    assert left.strip() == "[]"
    assert not os.path.exists(f"/proc/{pid}")


def test_every_metric_has_a_unit_and_the_manifest_agrees():
    with open(f"{run.ROOT}/BENCHMARK.json") as fh:
        manifest = json.load(fh)
    assert {m["name"] for m in manifest["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"] for m in manifest["per_layer"]} == set(run.PER_LAYER)
    for m in manifest["end_to_end"] + manifest["per_layer"]:
        units = run.END_TO_END if m in manifest["end_to_end"] else run.PER_LAYER
        assert units[m["name"]] == m["unit"]
    assert {w["name"] for w in manifest["workloads"]} == set(WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in manifest["workloads"])
