#!/usr/bin/env python3
"""Crawl-first benchmark: one workload per run, in a fresh Spark driver.

    python3 perfbench/run.py --workload bfs_bulk --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The run is a closed loop: one
batch job at a time, until the timed jobs add up to ``--seconds``
(at least one job). Every job's output is checked against an independent oracle
(oracle.py); a job that raises or fails its check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs one
plain and one traced job and prints the per-layer metrics (tracing.py).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (span dumps) in the checkout. See README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
SETUP_REPS = 3
# identical in every run; README.md lists them per workload
SPARK_SETTINGS = {
    "spark.master": f"local[{CORES}]",
    "spark.sql.shuffle.partitions": "4",
    "spark.default.parallelism": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.driver.memory": "1g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

END_TO_END = {          # name → unit
    "setup_s": "s", "wall_s": "s", "items_per_s": "1/s",
    "round_s_p50": "s", "table_bytes_per_page": "B", "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "crawl.rounds": "count", "crawl.spark_jobs": "count",
    "crawl.jobs_per_round": "count", "crawl.driver_only_s": "s",
    "crawl.exec_run_s": "s", "crawl.gc_s": "s", "crawl.shuffle_bytes": "B",
    "crawl.self_s": "s",
    "fetch_stage.wall_s": "s", "fetch_stage.exec_run_s": "s",
    "fetch_stage.task_skew": "ratio", "fetch.pages": "count",
    "parse.probe_pages_per_s": "1/s", "canonical.probe_urls_per_s": "1/s",
    "tables.append.frontier_s": "s", "tables.append.seen_s": "s",
    "tables.append.results_s": "s", "tables.append.robots_s": "s",
    "tables.commit_s": "s", "tables.files": "count", "tables.bytes": "B",
    "seen.bloom_add_s": "s", "seen.bloom_rebuilds": "count",
    "seen.bloom_save_s": "s", "seen.new_urls": "count",
    "robots.split_missing_s": "s", "robots.register_s": "s",
    "robots.authorities": "count", "robots.blocked_pages": "count",
    "politeness.deferred_rows": "count", "politeness.defer_ratio": "ratio",
    "quality.flags_s": "s", "quality.kept_frac": "ratio",
    "dedup.exact_s": "s", "dedup.lsh_s": "s", "dedup.lsh_pairs": "count",
    "dedup.substring_s": "s", "packing.pack_s": "s",
    "workers.peak_rss_mb": "MiB",
    "trace.wall_s": "s", "trace.overhead_frac": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="crawl-first benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def missing_program() -> str | None:
    for rel in ("simplecrawler_spark/__init__.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"program file {rel} not found under {ROOT}"
    return None


def build_spark(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in SPARK_SETTINGS.items():
        builder = builder.config(k, v)
    builder = (builder
               .config("spark.local.dir", os.path.join(work, "spark-local"))
               .config("spark.sql.warehouse.dir",
                       os.path.join(work, "warehouse"))
               # a fixed, pre-touched heap and few malloc arenas keep
               # the driver's resident size from wandering between runs
               .config("spark.driver.extraJavaOptions",
                       f"-Xms{SPARK_SETTINGS['spark.driver.memory']} "
                       "-XX:+AlwaysPreTouch -XX:-UsePerfData "
                       f"-Djava.io.tmpdir={work}"))
    if event_dir:
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", event_dir)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Child process sampling the resident memory of this process tree
    (rss.py); ``peak()`` returns the (driver, worker pool) peaks in MiB
    since the previous call."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rss.py"), str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def peak(self) -> tuple[float, float]:
        self.proc.stdin.write("peak\n")
        self.proc.stdin.flush()
        driver, workers = self.proc.stdout.readline().split()
        return float(driver), float(workers)

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    process whose parent exits first (a Python worker once the JVM is
    gone) is re-parented here, so ``reap_children`` can wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def children() -> list[int]:
    """Pids whose parent is this process, from ``/proc``."""
    me, pids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(name))
    return pids


def stop_jvm() -> None:
    """Close the Py4J gateway and wait for the driver JVM, which exits
    when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until no process this run started is left; after
    ``grace_s`` kill what still runs."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline + 30.0:
        kids = children()
        if not kids:
            return
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def timed_loop(wl, spark, state, work, answer, seconds, sampler, log):
    """Closed loop of plain jobs until there are ``wl.min_jobs`` and
    their walls add up to ``seconds`` (the output checks between jobs
    are not measured time)."""
    its, rss, errors = [], [], []
    while len(its) < wl.min_jobs or sum(i.wall_s for i in its) < seconds:
        sampler.peak()
        try:
            it = wl.run(spark, state, work, answer)
        except Exception:  # a job that raises is a failed attempt
            errors.append(traceback.format_exc(limit=3))
            log(f"job {len(its) + len(errors)}: raised\n{errors[-1]}")
            if len(errors) >= 3:
                break
            continue
        rss.append(sampler.peak()[0])
        its.append(it)
        log(f"job {len(its) + len(errors)}: wall_s={it.wall_s:.3f} "
            f"items={it.items} rounds={len(it.round_s)} "
            f"check={'ok' if it.error is None else it.error}")
    return its, rss, errors


def end_to_end(its, rss, setup_s) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(i.wall_s for i in its),
        "items_per_s": statistics.median(i.items / i.wall_s for i in its),
        "round_s_p50": statistics.median(r for i in its for r in i.round_s),
        "table_bytes_per_page": statistics.median(
            i.table_bytes / i.items for i in its),
        "peak_rss_mb": statistics.median(rss),
    }


def tally(its, errors, input_error) -> tuple[int, int]:
    """(attempted, failed): a job fails when it raised or its output
    check failed; every job fails when the inputs are not the recorded
    ones."""
    attempted = len(its) + len(errors)
    failed = len(errors) + sum(1 for i in its if i.error is not None)
    return attempted, attempted if input_error else failed


def main(argv=None) -> int:
    args = parse_args(argv)
    reason = missing_program()
    if reason:
        print(f"perfbench: {reason}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    import gen

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    work_base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-",
                            dir=work_base)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    def log(msg: str) -> None:
        print(msg, flush=True)

    adopt_orphans()
    sampler = RssSampler()
    spark = None
    try:
        event_dir = os.path.join(work, "events") if args.trace else None
        if event_dir:
            os.makedirs(event_dir)
        spark = build_spark(work, event_dir)
        spark_s = time.monotonic() - T_START

        reps = 1 if args.trace else SETUP_REPS
        input_s = []
        for rep in range(reps):
            t = time.monotonic()
            inputs = wl.make_inputs(args.seed)
            state = wl.prepare(spark, inputs, work)
            input_s.append(time.monotonic() - t)
            if rep < reps - 1:
                wl.release(state)
        digest = inputs.digest()
        input_error = gen.check_digest(wl.name, args.seed, digest)
        answer = wl.oracle(inputs)
        t = time.monotonic()
        wl.warm_up(spark, args.seed, work)
        warm_s = time.monotonic() - t
        setup_s = spark_s + statistics.median(input_s) + warm_s

        import bench
        probe_pre = bench.cpu_capacity_probe(CORES)
        log(f"perfbench workload={wl.name} seed={args.seed} "
            f"trace={args.trace} inputs={digest} nproc={os.cpu_count()} "
            f"settings={json.dumps(SPARK_SETTINGS, sort_keys=True)}")
        log(f"setup: spark_s={spark_s:.3f} input_s="
            f"{[round(x, 3) for x in input_s]} warm_s={warm_s:.3f}")
        if input_error:
            log(f"check failed: {input_error}")

        if args.trace:
            metrics, its, errors = traced(wl, spark, state, work, answer,
                                          event_dir, args, sampler, log)
            spark = None   # traced() stops it to flush the event log
        else:
            its, rss, errors = timed_loop(wl, spark, state, work, answer,
                                          args.seconds, sampler, log)
            if not its:
                raise RuntimeError("no job completed")
            metrics = end_to_end(its, rss, setup_s)
        probe_post = bench.cpu_capacity_probe(CORES)
        log(f"host probe (median s per worker, {CORES} workers): "
            f"pre={probe_pre} post={probe_post}")
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        sampler.close()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = tally(its, errors, input_error)
    units = PER_LAYER if args.trace else END_TO_END
    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    print(f"failed_frac = {failed}/{attempted}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


def traced(wl, spark, state, work, answer, event_dir, args, sampler, log):
    """One plain and one traced job, the probes, then the event-log
    digest. Stops ``spark`` (the event log is complete only then)."""
    from tracing import EventLog, Tracer, layer_report

    plain = wl.run(spark, state, work, answer)
    tracer = Tracer(spark.sparkContext)
    tracer.install()
    sampler.peak()
    try:
        it = wl.run(spark, state, work, answer, tracer)
    finally:
        tracer.uninstall()
    workers_mb = sampler.peak()[1]
    probe = wl.probes(spark, state, answer)
    spark.stop()
    its = [plain, it]
    for n, x in enumerate(its, 1):
        log(f"job {n} ({'traced' if n == 2 else 'plain'}): "
            f"wall_s={x.wall_s:.3f} check="
            f"{'ok' if x.error is None else x.error}")

    root = max((s for s in tracer.spans if s.parent is None),
               key=lambda s: s.dur)
    report = layer_report(EventLog(event_dir), tracer.spans, root)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{wl.name}-seed{args.seed}.spans.jsonl"))
    for name, row in sorted(report["layers"].items(),
                            key=lambda kv: -kv[1].get("self_s", 0.0)):
        log(f"layer {name:<28} self_s={row.get('self_s', 0.0):8.3f} "
            f"jobs={row['jobs']:4d} exec_s={row['exec_s']:8.3f}")

    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update(probe)
    metrics.update(wl.layer_metrics(it, report))
    metrics["workers.peak_rss_mb"] = workers_mb
    metrics["trace.wall_s"] = it.wall_s
    metrics["trace.overhead_frac"] = it.wall_s / plain.wall_s - 1.0
    count_error = wl.check_counts(it, answer)
    if count_error:
        it.error = count_error
        log(f"check failed: {count_error}")
    return metrics, its, []


if __name__ == "__main__":
    sys.exit(main())
