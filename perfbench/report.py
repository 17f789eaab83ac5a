"""Traced-run report: runs one traced pass of both workloads between two
untraced runs of each workload on the same seed, and writes
``perfbench/REPORT.md``.

    python3 perfbench/report.py --seed 1

For every build and dedup span the report checks that stage run time plus
``driver_s`` accounts for the span's wall time within 10%, and names the
remainder: time inside a Spark job that no stage covers (job submission,
adaptive re-planning between the stages of one job, result collection).
It also states the tracing overhead: the traced pass against the mean of
the untraced runs before and after it, which brackets drift in host speed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import BUILD_SPANS, DEDUP_SPANS, QUERY_KINDS  # noqa: E402

TOLERANCE = 0.10


def _run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=os.path.dirname(HERE), check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _hardware() -> str:
    model = "unknown CPU"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    return f"{os.cpu_count()} x {model}, {mem_gb:.0f} GB RAM, {platform.system()}"


def render(seed: int, trace: dict, untraced: dict[str, dict]) -> str:
    spans = trace["spans"]
    m = trace["metrics"]
    e2e = trace["end_to_end_traced"]
    lines = [
        "# Traced-run report",
        "",
        f"Seed {seed}; {_hardware()}; Spark `local[4]`. Generated by "
        "`python3 perfbench/report.py --seed {seed}`.".replace("{seed}", str(seed)),
        "",
        "## Tracing overhead",
        "",
        "| workload | metric | untraced before | untraced after | traced | traced / untraced mean |",
        "|---|---|---|---|---|---|",
    ]
    for wl, key in (("build", "items_per_s"), ("build", "op_p50_ms"), ("query", "items_per_s"),
                    ("query", "op_p50_ms")):
        before, after = (r["metrics"][key]["value"] for r in untraced[wl])
        t = e2e[f"{wl}.{key}"]
        lines.append(
            f"| {wl} | {key} | {before:.4g} | {after:.4g} | {t:.4g} | {2 * t / (before + after):.3f} |"
        )
    lines += [
        "",
        "Where the two untraced runs differ by more than the traced one differs "
        "from their mean, the overhead is below what one run can resolve; the "
        "spread of `BENCHMARK.json` metrics over ten seeds is in `README.md`.",
        "",
        "## Build and dedup spans",
        "",
        "`stage_s` is the union of the span's stage run intervals; `driver_s` is "
        "wall time outside any Spark job. `covered` = (stage_s + driver_s) / wall_s.",
        "",
        "| span | wall_s | stage_s | driver_s | covered | jobs | cpu_s | python_s | gc_s "
        "| shuffle_write_mb | spill_mb | task_skew |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    gaps = []
    for name in BUILD_SPANS + DEDUP_SPANS:
        mine = [s for s in spans if s["name"] == name]
        wall = sum(s["wall_s"] for s in mine)
        stage = sum(s["stage_s"] for s in mine)
        driver = m[f"{name}.driver_s"]
        covered = (stage + driver) / wall
        if abs(1 - covered) > TOLERANCE:
            gaps.append((name, wall - stage - driver))
        lines.append(
            f"| {name} | {wall:.3f} | {stage:.3f} | {driver:.3f} | {covered:.3f} "
            f"| {sum(s['jobs'] for s in mine)} | {m[f'{name}.cpu_s']:.3f} "
            f"| {m[f'{name}.python_s']:.3f} | {m[f'{name}.gc_s']:.3f} "
            f"| {m[f'{name}.shuffle_write_mb']:.3f} | {m[f'{name}.spill_mb']:.3f} "
            f"| {m[f'{name}.task_skew']:.3f} |"
        )
    lines.append("")
    if gaps:
        lines.append(
            "Spans outside the 10% band, with the seconds no stage covers inside their "
            "jobs (job submission and planning of adaptive query stages between the "
            "stages of one job, and the driver collecting results):"
        )
        lines += [f"- `{n}`: {g:.3f} s" for n, g in gaps]
    else:
        lines.append("Every span is inside the 10% band.")
    lines += [
        "",
        "## Query kinds",
        "",
        "| kind | p50_ms | driver_ms | jobs | rows_read_per_result |",
        "|---|---|---|---|---|",
    ]
    for k in QUERY_KINDS:
        lines.append(
            f"| {k} | {m[f'{k}.p50_ms']:.1f} | {m[f'{k}.driver_ms']:.1f} | {m[f'{k}.jobs']:.0f} "
            f"| {m[f'{k}.rows_read_per_result']:.2f} |"
        )
    lines += [
        "",
        "## Session and useful work",
        "",
        f"- `session.start_s` {m['session.start_s']:.3f}, `session.warmup_s` {m['session.warmup_s']:.3f}",
        f"- `dedup.lsh_candidate_yield` {m['dedup.lsh_candidate_yield']:.4f} "
        f"(verified pairs per LSH candidate), `dedup.recall` {m['dedup.recall']:.4f} "
        "(planted exact and edited pairs found)",
        f"- operations failed in the traced pass: {len(trace['errors'])}",
        "",
    ]
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    seed, secs = str(args.seed), str(args.seconds)
    workloads = ("build", "query")
    untraced = {w: [] for w in workloads}
    for w in workloads:
        untraced[w].append(_run("--workload", w, "--seed", seed, "--seconds", secs, "--trace", "0"))
    _run("--workload", "build", "--seed", seed, "--seconds", secs, "--trace", "1")
    with open(os.path.join(HERE, ".out", f"trace-s{seed}.json")) as f:
        trace = json.load(f)
    for w in workloads:
        untraced[w].append(_run("--workload", w, "--seed", seed, "--seconds", secs, "--trace", "0"))
    with open(os.path.join(HERE, "REPORT.md"), "w") as f:
        f.write(render(args.seed, trace, untraced))
    return 0


if __name__ == "__main__":
    sys.exit(main())
