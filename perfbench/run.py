#!/usr/bin/env python3
"""The repository benchmark: one workload per process, closed loop with
one client (the next round or leaf starts only after the previous one
finished), on local[4].

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Run from the repository root.  --trace 0 measures the end-to-end
metrics with tracing off; --trace 1 runs an untraced, a traced and an
untraced round (or pass) and reports the per-layer metrics plus the
tracing overhead.  Human-readable lines (host probe, checks,
failed_frac, metrics with units) come first; the last stdout line is one
JSON object.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import metrics  # noqa: E402

PLANTS = ("dup_frontier_row", "drop_new_url", "perturb_leaf_row")


class Report:
    """Operations attempted and failed, check outcomes and metric values
    of one run."""

    def __init__(self, plants=()):
        self.plants = set(plants)
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []
        self.values: dict[str, float] = {}

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, result: tuple[bool, str]) -> bool:
        ok, detail = result
        self.checks.append((name, ok, detail))
        return ok


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy sizes for the self-test")
    ap.add_argument("--plant", default="",
                    help="comma-separated faults planted in collected outputs "
                    f"before the checks (self-test only): {', '.join(PLANTS)}")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = harness.missing_program_files()
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    plants = [p for p in args.plant.split(",") if p]
    unknown = sorted(set(plants) - set(PLANTS))
    if unknown:
        print(f"perfbench: unknown --plant {unknown}", file=sys.stderr)
        return 2

    work = harness.work_dir()
    harness.prepare_environment(work)
    report = Report(plants)
    try:
        membw_start = harness.host_membw()
        if args.workload == "crawl_rounds":
            import crawl_rounds as workload
        else:
            import curation_ops as workload
        workload.run(args, work, report)
        membw_end = harness.host_membw()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"host.membw_passes_s: start {membw_start} end {membw_end} 1/s")
    for name, ok, detail in report.checks:
        print(f"check {name}: {'ok' if ok else 'FAIL'} ({detail})")
    failed_frac = report.failed / max(report.attempted, 1)
    print(f"failed_frac: {failed_frac:.4f} ({report.failed}/{report.attempted} operations)")

    if args.trace:
        report.values["host.membw_start_passes_s"] = membw_start
        report.values["host.membw_end_passes_s"] = membw_end
        names = [n for n, *_ in metrics.PER_LAYER]
    else:
        names = [n for n, *_ in metrics.END_TO_END]
    out = {}
    for name in names:
        value = report.values.get(name, 0.0) if args.trace else report.values[name]
        out[name] = {"value": value, "unit": metrics.UNITS[name]}
        print(f"{args.workload} {name}: {value:.6g} {metrics.UNITS[name]}")
    correct = report.attempted > 0 and all(ok for _, ok, _ in report.checks) and report.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": report.attempted,
        "failed": report.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
