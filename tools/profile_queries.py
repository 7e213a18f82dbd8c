"""Per-query profiler: for each registry query, the build phase (the Python
calls that return the DataFrame, including any Spark jobs the build itself
runs — the EXECUTES_AT_BUILD collects, localCheckpoints, file writes and
availableNow streams) and the action phase (the bench action, ``.count()``).

Each query is built and counted once to warm up (JIT, page cache, Python
workers), then built again and counted ``SPARK_GRAFT_BENCH_RUNS`` times
(default 3); ``act_s`` is the median of those counts. Per phase the profiler
reports the jobs, stages (skipped stages excluded), tasks, shuffle read and
write bytes and spill bytes of every job the phase ran on ANY thread: it
diffs the job and stage ids of Spark's status REST API before and after the
phase, so a stream's batches, which run on the stream's own thread under its
own job group, are counted too. It diffs ids, not running totals, because
the status store keeps only the last 1,000 jobs and stages. High job counts
at near-zero data volume are the local-mode signature of sequential
mini-job overhead; high stage counts per job are shuffle chains.

Usage: python tools/profile_queries.py [sf_dir] [query ...]
       (default sf_dir /root/testdata/sf0.1; no names = full registry)
Output: one JSON line per query on stdout, then a markdown table sorted by
total seconds on stderr (SHUFFLE.md is that table over bench.HEADLINE).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from etl_mssql_to_postgres_dailysync_spark.session import get_spark

MB = 1024 * 1024


def status(sc) -> tuple[set[int], dict[tuple[int, int], dict]]:
    """Job ids and stage attempts in the application's status REST API, read
    after the listener bus has delivered every event posted so far (so a
    finished job is in the store)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/jobs") as r:
        jobs = {j["jobId"] for j in json.load(r)}
    with urllib.request.urlopen(f"{base}/stages") as r:
        stages = {(s["stageId"], s["attemptId"]): s for s in json.load(r)}
    return jobs, stages


def phase(sc, fn) -> tuple[object, float, dict]:
    """Run ``fn`` and return (its result, wall seconds, the counters of the
    jobs and stages that are new in the status store since it started)."""
    jobs0, stages0 = status(sc)
    t0 = time.time()
    out = fn()
    wall = time.time() - t0
    jobs1, stages1 = status(sc)
    ran = [s for k, s in stages1.items()
           if k not in stages0 and s["status"] != "SKIPPED"]
    return out, wall, {
        "jobs": len(jobs1 - jobs0),
        "stages": len(ran),
        "tasks": sum(s["numTasks"] for s in ran),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spill_bytes": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"]
                           for s in ran),
    }


def profile(spark, fn, sf_dir: str, runs: int) -> dict:
    fn(spark, sf_dir).count()  # warm-up
    sc = spark.sparkContext
    df, build_s, build = phase(sc, lambda: fn(spark, sf_dir))
    act_walls = []
    for _ in range(runs):
        _, wall, act = phase(sc, df.count)
        act_walls.append(wall)
    act_s = statistics.median(act_walls)
    rec = {"total_s": round(build_s + act_s, 3), "build_s": round(build_s, 3),
           "act_s": round(act_s, 3)}
    rec.update({f"build_{k}": v for k, v in build.items()})
    rec.update({f"act_{k}": v for k, v in act.items()})
    return rec


def markdown(rows: list[dict]) -> list[str]:
    """Build+action totals per query, heaviest first."""
    lines = [
        "| query | s | build s | act s | jobs (build+act) | stages | tasks "
        "| shuffle write MB | shuffle read MB | spill MB |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in sorted(rows, key=lambda r: -r["total_s"]):
        tot = {k: r[f"build_{k}"] + r[f"act_{k}"] for k in (
            "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes")}
        lines.append(
            f"| {r['query']} | {r['total_s']:.2f} | {r['build_s']:.2f} "
            f"| {r['act_s']:.2f} | {r['build_jobs']}+{r['act_jobs']} "
            f"| {tot['stages']} | {tot['tasks']} "
            f"| {tot['shuffle_write_bytes'] / MB:.2f} "
            f"| {tot['shuffle_read_bytes'] / MB:.2f} "
            f"| {tot['spill_bytes'] / MB:.1f} |"
        )
    return lines


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark(app_name="profile", extra_conf={
        "spark.ui.enabled": "true", "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    rows = []
    for name in names or list(qs):
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        try:
            rec = {"query": name, **profile(spark, qs[name], sf_dir, runs)}
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "error": repr(e)[:300]}))
            continue
        rows.append(rec)
        print(json.dumps(rec), flush=True)
    print("\n".join(markdown(rows)), file=sys.stderr)


if __name__ == "__main__":
    main()
