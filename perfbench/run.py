"""Benchmark of record at ``local[4]``: the ``build`` workload (crawl to
tiles, then near-duplicate detection) and the ``query`` workload.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

With ``--trace 0`` one workload runs with tracing off and the last line of
standard output is the JSON result with every end-to-end metric. With
``--trace 1`` one traced pass of every workload runs with the Spark event log
on, and the result holds every per-layer metric; spans and their engine
counters are also written to ``perfbench/.out/trace-s<seed>.json``.

All load comes from this one driver process: one client thread, four Spark
task slots. Inputs are generated from ``--seed`` by :mod:`gen` before the
session starts and are excluded from every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
MASTER = "local[4]"
# A fixed-size driver heap (-Xms = -Xmx): with a growable heap the JVM's RSS
# follows the collector's sizing decisions, which differ run to run.
DRIVER_MEMORY = "2g"

# (name, unit, better); BENCHMARK.json lists the same names and units
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("items_per_s", "items/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("op_p90_ms", "ms", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
SPAN_METRICS = [
    ("wall_s", "s", "lower"), ("driver_s", "s", "lower"), ("cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"), ("shuffle_write_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"), ("python_s", "s", "lower"),
]
QUERY_METRICS = [
    ("p50_ms", "ms", "lower"), ("driver_ms", "ms", "lower"), ("jobs", "count", "lower"),
    ("rows_read_per_result", "rows/row", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    """Every per-layer metric of a traced run, in output order."""
    from workloads import BUILD_SPANS, DEDUP_SPANS, QUERY_KINDS

    out = [("session.start_s", "s", "lower"), ("session.warmup_s", "s", "lower")]
    out += [(f"{s}.{m}", u, b) for s in BUILD_SPANS + DEDUP_SPANS for m, u, b in SPAN_METRICS]
    out += [(f"{k}.{m}", u, b) for k in QUERY_KINDS for m, u, b in QUERY_METRICS]
    out += [("dedup.lsh_candidate_yield", "ratio", "higher"), ("dedup.recall", "ratio", "higher")]
    return out


def _start_session(run_dir: str, trace: bool):
    """The package's session factory, with every file it writes kept inside
    ``run_dir`` and, when tracing, the uncompressed event log on."""
    from aardvark_geometry_quadtree_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # -XX:-UsePerfData: HotSpot would otherwise write its perf-data file to /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)


def _end_jvm() -> None:
    """End the JVM that pyspark launched, and wait for it. ``spark.stop()``
    leaves it running until this process exits, after which it would outlive
    the run; its gateway exits when its standard input closes. The py4j
    client is shut down first, so that Java objects collected afterwards are
    not released over a closed connection."""
    import subprocess

    from pyspark import SparkContext

    gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _warm_up(spark) -> None:
    """Start the reused Python workers on every task slot."""
    spark.range(16, numPartitions=4).mapInArrow(lambda it: it, "id long").collect()


def _call(kind: str, fn):
    """Run one operation; one that raises is counted as failed, not fatal."""
    from workloads import Op

    try:
        op = fn()
    except Exception as e:
        op = Op(kind, float("nan"), 0, f"{kind}: {type(e).__name__}: {str(e)[:300]}")
    print(f"perfbench: {op.kind} {op.seconds:.3f} s", file=sys.stderr)
    if op.error:
        print(f"perfbench: FAILED {op.error}", file=sys.stderr)
    return op


def _setup(wl, ctx) -> tuple[float, list, list]:
    """The workload's staging and warm-up; returns the seconds they took
    (oracle checks excluded), the staging check's error list and the
    warm-up operations."""
    t = time.perf_counter()
    wl.stage(ctx)
    seconds = time.perf_counter() - t
    err = wl.check_stage(ctx)
    warm = [_call(k, f) for k, f in wl.warm_up(ctx)]
    seconds += sum(op.seconds for op in warm if op.error is None)
    return seconds, [err] if err else [], warm


def _run_ops(wl, ctx, deadline: float, max_rounds: int | None = None) -> list:
    """Closed loop: issue the workload's operations one after another until
    the deadline passes at a round boundary (or ``max_rounds`` rounds)."""
    ops, rounds = [], 0
    for kind, fn in wl.ops(ctx):
        ops.append(_call(kind, fn))
        if len(ops) % wl.round_size == 0:
            rounds += 1
            if time.perf_counter() >= deadline or rounds == max_rounds:
                return ops


def _result(failed: int, attempted: int, metrics: dict, spec: list) -> dict:
    if [(k, u) for k, (_, u) in metrics.items()] != [(k, u) for k, u, _ in spec]:
        raise RuntimeError("metric names or units differ from their declaration")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a value nothing measured (every operation failed) is null, not NaN
        "metrics": {
            k: {"value": None if math.isnan(v) else v, "unit": u} for k, (v, u) in metrics.items()
        },
    }


def measure(name: str, seed: int, seconds: int, run_dir: str) -> dict:
    """One untraced run of one workload: every end-to-end metric."""
    from harness import RssSampler, Tracer, quantile
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[name]()
    ctx = Ctx(None, os.path.join(run_dir, "tables"), os.path.join(run_dir, "warehouse"),
              os.path.join(OUT, "inputs"), seed, Tracer())
    wl.inputs(ctx)

    t = time.perf_counter()
    spark = ctx.spark = _start_session(run_dir, trace=False)
    start_s = time.perf_counter() - t
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    errors = []
    try:
        with RssSampler(jvm_pid) as rss:
            t = time.perf_counter()
            _warm_up(spark)
            warmup_s = time.perf_counter() - t
            stage_s, errors, warm = _setup(wl, ctx)
            ops = _run_ops(wl, ctx, time.perf_counter() + seconds)
            rss.sample()
    finally:
        spark.stop()

    good = [op for op in ops if op.error is None]
    errors += [op.error for op in warm + ops if op.error]
    lat = [op.seconds for op in good] or [float("nan")]
    setup_s = start_s + warmup_s + stage_s
    metrics = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (sum(op.items for op in good) / max(1e-9, sum(lat)), "items/s"),
        "op_p50_ms": (quantile(lat, 0.5) * 1e3, "ms"),
        "op_p90_ms": (quantile(lat, 0.9) * 1e3, "ms"),
        "peak_rss_mb": (rss.peak_bytes / 1e6, "MB"),
    }
    attempted = len(warm) + len(ops) + 1  # the staging check counts as one operation
    res = _result(len(errors), attempted, metrics, END_TO_END)
    print(f"perfbench {name} seed={seed}: {len(ops)} operations, {len(good)} correct")
    print(f"  session start {start_s:.2f} s, worker warm-up {warmup_s:.2f} s, "
          f"staging and first use {stage_s:.2f} s, JVM peak RSS {rss.peak_root_bytes / 1e6:.0f} MB")
    for k, (v, u) in metrics.items():
        print(f"  {k:<12} {v:14.4f} {u}")
    alias = {"build": "build_pages_per_s", "query": "query_per_s"}[name]
    print(f"  {alias} = items_per_s; fail_frac = {len(errors)}/{attempted} = {len(errors) / attempted:.4f}")
    if name == "query":
        print("  query_p50_ms = op_p50_ms; query_p90_ms = op_p90_ms")
    for e in errors:
        print(f"  FAILED {e}")
    for s in ctx.tracer.spans:
        print(f"perfbench: span {s.name} {s.wall_s:.3f} s", file=sys.stderr)
    return res


def traced(seed: int, run_dir: str) -> dict:
    """One traced pass of every workload: every per-layer metric."""
    from harness import Tracer, attribute, quantile, read_event_log
    from workloads import BUILD_SPANS, DEDUP_SPANS, QUERY_KINDS, WORKLOADS, Ctx

    ctx = Ctx(None, os.path.join(run_dir, "tables"), os.path.join(run_dir, "warehouse"),
              os.path.join(OUT, "inputs"), seed, Tracer())
    wls = [WORKLOADS[n]() for n in ("build", "query")]
    for wl in wls:
        wl.inputs(ctx)
    t = time.perf_counter()
    spark = ctx.spark = _start_session(run_dir, trace=True)
    start_s = time.perf_counter() - t
    ctx.tracer.spark = spark
    errors, attempted, e2e = [], 0, {}
    try:
        t = time.perf_counter()
        _warm_up(spark)
        warmup_s = time.perf_counter() - t
        for wl in wls:
            e2e[f"{wl.name}.stage_s"], errs, warm = _setup(wl, ctx)
            ops = _run_ops(wl, ctx, float("inf"), max_rounds=1)
            errors += errs + [op.error for op in warm + ops if op.error]
            attempted += len(warm) + len(ops) + 1
            good = [op.seconds for op in ops if op.error is None] or [float("nan")]
            e2e[f"{wl.name}.items_per_s"] = sum(op.items for op in ops if not op.error) / sum(good)
            e2e[f"{wl.name}.op_p50_ms"] = quantile(good, 0.5) * 1e3
    finally:
        spark.stop()
    spans = ctx.tracer.spans
    eng = attribute(read_event_log(os.path.join(run_dir, "eventlog")), spans)

    metrics: dict[str, tuple[float, str]] = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
    }
    for name in BUILD_SPANS + DEDUP_SPANS:
        mine = [s for s in spans if s.name == name]
        e = [eng[s.id] for s in mine]
        wall = sum(s.wall_s for s in mine)
        vals = {
            "wall_s": wall,
            "driver_s": wall - sum(x.job_s for x in e),
            "cpu_s": sum(x.cpu_s for x in e),
            "gc_s": sum(x.gc_s for x in e),
            "shuffle_write_mb": sum(x.shuffle_write_mb for x in e),
            "spill_mb": sum(x.spill_mb for x in e),
            "task_skew": max(x.task_skew for x in e),
            "python_s": sum(x.python_s for x in e),
        }
        for m, u, _ in SPAN_METRICS:
            metrics[f"{name}.{m}"] = (vals[m], u)
    for kind in QUERY_KINDS:
        mine = [s for s in spans if s.name == kind]
        e = [eng[s.id] for s in mine]
        vals = {
            "p50_ms": quantile([s.wall_s for s in mine], 0.5) * 1e3,
            "driver_ms": quantile([s.wall_s - x.job_s for s, x in zip(mine, e)], 0.5) * 1e3,
            "jobs": quantile([x.jobs for x in e], 0.5),
            "rows_read_per_result": sum(x.records_read for x in e) / max(1, sum(s.rows for s in mine)),
        }
        for m, u, _ in QUERY_METRICS:
            metrics[f"{kind}.{m}"] = (vals[m], u)
    for k in ("dedup.lsh_candidate_yield", "dedup.recall"):  # NaN if the build failed
        metrics[k] = (ctx.stats.get(k, float("nan")), "ratio")

    with open(os.path.join(OUT, f"trace-s{seed}.json"), "w") as f:
        json.dump({
            "seed": seed,
            "end_to_end_traced": e2e,
            "spans": [
                {**vars(s), "wall_s": s.wall_s, **vars(eng[s.id])} for s in spans
            ],
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "errors": errors,
        }, f, indent=1)
    print(f"perfbench trace seed={seed}: {len(spans)} spans, {attempted} operations, "
          f"{len(errors)} failed")
    for k, (v, u) in metrics.items():
        print(f"  {k:<52} {v:12.4f} {u}")
    for e in errors:
        print(f"  FAILED {e}")
    return _result(len(errors), attempted, metrics, per_layer())


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import aardvark_geometry_quadtree_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from harness import become_subreaper, end_descendants

    become_subreaper()
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.trace:
            res = traced(args.seed, run_dir)
        else:
            res = measure(args.workload, args.seed, args.seconds, run_dir)
    finally:
        _end_jvm()
        killed = end_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    if killed:
        print(f"perfbench: processes {killed} did not exit and were signalled", file=sys.stderr)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
