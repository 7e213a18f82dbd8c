"""Benchmark of the daily sync engine: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload daily_sync --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Each run starts a fresh Spark session on
``local[<cpus>]``, sets its workload up (data generation, target seeding,
oracle counts, warm-up), then runs whole rounds of ops until ``--seconds`` have
passed. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer ones
from a traced run (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

try:
    from etl_mssql_to_postgres_dailysync_spark.session import get_spark
except ImportError as e:
    raise SystemExit(f"perfbench: run from the root of a checkout of the repository ({e})")

import procs  # noqa: E402
from spans import TASK_FIELDS, Tracer, self_time, subtree  # noqa: E402
from workloads import WORKLOADS, Op, OpResult  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "rows_per_s": "1/s",
    "bytes_per_row": "B",
    "ok_frac": "share",
}
# Spans that an op opens; each gets its self time, jobs and task metrics.
OP_SPANS = ("txn_table.read", "daily_sync.call", "backfill.call", "txn_table.commit",
            "validate", "queries.build", "queries.action")
SPAN_FIELDS = {"s": "s", "jobs": "count", "task_s": "s", "input_bytes": "B",
               "shuffle_bytes": "B"}
SPARK_FIELDS = {"jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
                "gc_s": "s", "overhead_share": "share", "input_bytes": "B",
                "shuffle_bytes": "B", "spill_bytes": "B"}


def span_metric(span: str, field: str) -> str:
    return f"{span}_{field}" if "." in span else f"{span}.{field}"


PER_LAYER = {
    "session.start_s": "s",
    "fake_data.gen_s": "s",
    "txn_table.seed_s": "s",
    **{span_metric(s, f): u for s in OP_SPANS for f, u in SPAN_FIELDS.items()},
    "txn_table.bytes_written": "B",
    "txn_table.files_rewritten": "count",
    **{f"spark.{f}": u for f, u in SPARK_FIELDS.items()},
    "trace.overhead": "ratio",
}


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    rng: random.Random
    cpus: int
    next_op_id: int = 0


@dataclass
class Record:
    op: Op
    round: int
    op_id: int
    traced: bool
    latency: float
    res: OpResult


def cpu_count() -> int:
    """Cores for ``local[n]``: ``SPARK_GRAFT_CPUS`` when set, else the CPU
    affinity of this process."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if not raw:
        return len(os.sched_getaffinity(0))
    if not raw.isdigit() or int(raw) < 1:
        raise SystemExit(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def quantile(xs: list[float], q: int) -> float:
    """The q-th decile of xs (q=5 is the median)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[q - 1]


def run(workload_cls, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run in a fresh work directory, removed afterwards. Every
    process the run starts has ended when it returns or raises."""
    cpus = cpu_count()
    procs.adopt_orphans()
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload_cls.name}-", dir=WORK_ROOT)
    events = os.path.join(work, "events")
    for d in ("tmp", "spark-local", events):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    saved_env = dict(os.environ)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the program by module path, so they need the
        # checkout on their path whatever the working directory is.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, saved_env.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no JVM statistics file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload_cls.name}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, trace)
        ctx = Context(spark, tracer, work, seed, random.Random(seed), cpus)
        return _measure(workload_cls(ctx), ctx, t0, session_s, seconds, trace, events)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            procs.stop_jvm()
            procs.reap()
            os.environ.clear()
            os.environ.update(saved_env)
            tempfile.tempdir = None
            shutil.rmtree(work, ignore_errors=True)


def _run_round(wl, ctx: Context, r: int, traced: bool, records: list) -> None:
    """Run round ``r``, timing each op around the program calls only; the
    checks run after the clock stops."""
    ctx.tracer.enabled = traced
    for op in wl.round(r):
        op_id = ctx.tracer.op_id = ctx.next_op_id
        ctx.next_op_id += 1
        start = time.perf_counter()
        latency = None
        try:
            with ctx.tracer.span("op"):
                outcome = wl.run_op(op)
            latency = time.perf_counter() - start
            res = wl.check(op, outcome)
        except Exception:  # an op that raises is a failed op; the run goes on
            latency = latency or time.perf_counter() - start
            traceback.print_exc(file=sys.stderr)
            res = OpResult(0, ["exception"])
        for f in res.failures:
            print(f"check failed: {f}", file=sys.stderr)
        print(f"round {r} {op.kind}: {latency:.3f} s{' traced' if traced else ''}",
              file=sys.stderr)
        records.append(Record(op, r, op_id, traced, latency, res))
    ctx.tracer.op_id = None


def _measure(wl, ctx: Context, t0: float, session_s: float, seconds: float,
             trace: bool, events: str) -> dict:
    wl.setup()
    warm: list[Record] = []
    for r in range(wl.warmup_rounds):
        _run_round(wl, ctx, r, False, warm)
    setup_s = time.perf_counter() - t0

    # Traced runs alternate untraced and traced rounds over twice the time,
    # so that both halves see the same warm-up state.
    timed: list[Record] = []
    window = seconds * (2 if trace else 1)
    r = wl.warmup_rounds
    start = time.perf_counter()
    while time.perf_counter() - start < window or (trace and r - wl.warmup_rounds < 2):
        _run_round(wl, ctx, r, trace and (r - wl.warmup_rounds) % 2 == 1, timed)
        r += 1
    ctx.tracer.enabled = False

    end_failures = wl.final_check()
    for f in end_failures:
        print(f"check failed: {f}", file=sys.stderr)
    attempted = len(warm) + len(timed)
    failed = min(attempted, sum(1 for x in warm + timed if x.res.failures) + len(end_failures))
    bytes_per_row = wl.bytes_per_row()

    if trace:
        ctx.spark.stop()
        ctx.tracer.attach_event_log(events)
        metrics = _per_layer(ctx, timed, session_s, wl)
        units = PER_LAYER
    else:
        metrics = _end_to_end(timed, setup_s, bytes_per_row, attempted, failed)
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _round_time(records: list[Record]) -> float:
    """Wall time of the ops per round, over whole rounds."""
    return sum(x.latency for x in records) / len({x.round for x in records})


def _end_to_end(timed: list[Record], setup_s: float, bytes_per_row: float,
                attempted: int, failed: int) -> dict:
    ok = [x for x in timed if not x.res.failures] or timed
    lat = [x.latency for x in ok]
    return {
        "setup_s": setup_s,
        "run_s": _round_time(timed),
        "op_p50_s": quantile(lat, 5),
        "op_p90_s": quantile(lat, 9),
        "rows_per_s": sum(x.res.rows for x in ok) / sum(lat),
        "bytes_per_row": bytes_per_row,
        "ok_frac": (attempted - failed) / attempted,
    }


def _per_layer(ctx: Context, timed: list[Record], session_s: float, wl) -> dict:
    tracer = ctx.tracer
    children = tracer.children()
    setup_spans = {s.name: s for s in tracer.spans if s.op_id is None}
    ops = {s.op_id: s for s in tracer.spans if s.name == "op" and s.op_id is not None}
    traced = [x for x in timed if x.traced]
    untraced = [x for x in timed if not x.traced]
    per_round = wl.layers_per_round

    def summarise(values_by_op: dict[int, float]) -> float:
        if per_round:
            rounds: dict[int, float] = {}
            for x in traced:
                rounds[x.round] = rounds.get(x.round, 0.0) + values_by_op.get(x.op_id, 0.0)
            return statistics.median(rounds.values())
        return statistics.median(values_by_op.get(x.op_id, 0.0) for x in traced)

    out = {
        "session.start_s": session_s,
        "fake_data.gen_s": setup_spans["fake_data.gen"].duration
        if "fake_data.gen" in setup_spans else 0.0,
        "txn_table.seed_s": setup_spans["txn_table.seed"].duration
        if "txn_table.seed" in setup_spans else 0.0,
        "trace.overhead": _round_time(traced) / _round_time(untraced),
        "txn_table.bytes_written": summarise({x.op_id: x.res.written for x in traced}),
        "txn_table.files_rewritten": summarise({x.op_id: x.res.rewritten for x in traced}),
    }
    for name in OP_SPANS:
        acc = {f: {} for f in SPAN_FIELDS}
        for op_id, root in ops.items():
            for s in subtree(root, children):
                if s.name != name:
                    continue
                vals = {"s": self_time(s, children), "jobs": s.jobs, **s.counts}
                for f in SPAN_FIELDS:
                    acc[f][op_id] = acc[f].get(op_id, 0.0) + vals[f]
        for f in SPAN_FIELDS:
            out[span_metric(name, f)] = summarise(acc[f])
    spark_vals = {f: {} for f in SPARK_FIELDS}
    for op_id, root in ops.items():
        tree = subtree(root, children)
        totals = {f: sum(s.counts[f] for s in tree) for f in TASK_FIELDS}
        totals["jobs"] = sum(s.jobs for s in tree)
        totals["stages"] = sum(s.stages for s in tree)
        totals["overhead_share"] = max(0.0, 1.0 - totals["task_s"] / (ctx.cpus * root.duration))
        for f in SPARK_FIELDS:
            spark_vals[f][op_id] = totals[f]
    for f in SPARK_FIELDS:
        vals = [spark_vals[f][x.op_id] for x in traced if x.op_id in spark_vals[f]]
        out[f"spark.{f}"] = statistics.median(vals) if vals else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
