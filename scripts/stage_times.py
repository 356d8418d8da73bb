"""Digest a Spark event log into per-stage wall/executor-time rows.

Measurement loop for scaling work: run any job with
SPARK_GRAFT_EVENTLOG=<dir>, then

    python scripts/stage_times.py <dir>/<app-id> [--top 25]

prints one row per stage (submitted order): wall span, summed task
executorRunTime, task count, GC, shuffle bytes — plus totals and the
serial gap (app wall not covered by any running stage), which is the
driver-side Amdahl term the scaling gate pays for.
"""
import json
import os
import re
import sys


def _log_files(path: str) -> list[str]:
    """Every event-log file under ``path``: the file itself, or — for a
    rolling-v2 dir, an app dir or any dir tree of logs — each file but
    the appstatus markers and hidden checksum files, parts in numeric
    order (events_2 before events_10)."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for root, _dirs, names in os.walk(path):
        out += [os.path.join(root, n) for n in names
                if not n.startswith(("appstatus", "."))]
    return sorted(out, key=lambda p: [int(t) if t.isdigit() else t
                                      for t in re.split(r"(\d+)", p)])


def _open(path: str):
    """A .zstd or plain-text event-log file, as text."""
    if path.endswith(".zstd"):
        import io

        import pyarrow as pa
        return io.TextIOWrapper(
            pa.input_stream(path, compression="zstd"), encoding="utf-8")
    return open(path)


def iter_events(path: str):
    """Parsed JSON events of the event log(s) at ``path``."""
    for f in _log_files(path):
        with _open(f) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def read_stages(path: str) -> tuple[list[dict], int | None, int | None]:
    """Completed stages of the event log at ``path``, in submission
    order, each with sid, name, ntask, sub/comp (epoch ms), run_ms,
    gc_ms, sh_read, sh_write and ndone — plus the app's start and end
    timestamps (None when absent)."""
    stages: dict = {}
    app_start = app_end = None
    for ev in iter_events(path):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif e == "SparkListenerApplicationEnd":
            app_end = ev["Timestamp"]
        elif e == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "sid": si["Stage ID"],
                "name": si["Stage Name"].split(" at ")[0],
                "ntask": si["Number of Tasks"],
                "sub": si.get("Submission Time"),
                "run_ms": 0, "gc_ms": 0, "sh_read": 0, "sh_write": 0,
                "ndone": 0, "comp": None,
            }
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            s = stages.get(si["Stage ID"])
            if s is not None:
                s["sub"] = si.get("Submission Time", s["sub"])
                s["comp"] = si.get("Completion Time")
        elif e == "SparkListenerTaskEnd":
            s = stages.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if s is None or not m:
                continue
            s["ndone"] += 1
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["sh_read"] += (m.get("Shuffle Read Metrics", {})
                             .get("Remote Bytes Read", 0)
                             + m.get("Shuffle Read Metrics", {})
                             .get("Local Bytes Read", 0))
            s["sh_write"] += (m.get("Shuffle Write Metrics", {})
                              .get("Shuffle Bytes Written", 0))
    rows = [s for s in stages.values() if s["sub"] and s["comp"]]
    rows.sort(key=lambda s: s["sub"])
    return rows, app_start, app_end


def main() -> None:
    path = sys.argv[1]
    top = int(sys.argv[2].split("=")[-1]) if len(sys.argv) > 2 else 30
    rows, app_start, app_end = read_stages(path)
    total_run = sum(s["run_ms"] for s in rows) / 1e3
    # serial gap: app wall minus the union of [sub, comp] spans
    spans = sorted((s["sub"], s["comp"]) for s in rows)
    covered, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    wall = ((app_end - app_start) / 1e3
            if app_start and app_end else float("nan"))

    print(f"{'stage':>5} {'wall_s':>7} {'run_s':>8} {'gc_s':>6} "
          f"{'tasks':>5} {'shR_MB':>7} {'shW_MB':>7}  name")
    big = sorted(rows, key=lambda s: -s["run_ms"])[:top]
    bigset = {id(s) for s in big}
    for s in rows:
        if id(s) not in bigset:
            continue
        print(f"{s['sid']:>5} {(s['comp'] - s['sub']) / 1e3:>7.2f} "
              f"{s['run_ms'] / 1e3:>8.2f} {s['gc_ms'] / 1e3:>6.2f} "
              f"{s['ndone']:>5} {s['sh_read'] / 1e6:>7.1f} "
              f"{s['sh_write'] / 1e6:>7.1f}  {s['name']}")
    # aggregate by stage name
    by_name: dict = {}
    for s in rows:
        d = by_name.setdefault(s["name"], [0.0, 0.0, 0])
        d[0] += (s["comp"] - s["sub"]) / 1e3
        d[1] += s["run_ms"] / 1e3
        d[2] += 1
    print("\n== by stage name ==")
    for name, (w, rn, n) in sorted(by_name.items(), key=lambda kv: -kv[1][1]):
        print(f"  {name:34s} wall {w:8.2f}s  run {rn:8.2f}s  x{n}")
    print(f"\napp wall {wall:.2f}s | stage-covered {covered / 1e3:.2f}s | "
          f"serial gap {wall - covered / 1e3:.2f}s | "
          f"sum executorRunTime {total_run:.2f}s")


if __name__ == "__main__":
    main()
