#!/usr/bin/env python3
"""Smoke self-test of the benchmark, at toy sizes (about four minutes).

    python3 perfbench/selftest.py

- BENCHMARK.json lists exactly the metrics of perfbench/metrics.py.
- Each workload, traced, emits every per-layer metric, passes its
  checks and fills the layers it exercises.
- Each workload, untraced, emits every end-to-end metric, and each
  correctness check fails on a planted fault: a duplicated frontier row,
  one dropped new URL, one perturbed leaf row.  The second crawl run of
  the seed also checks that the crawl state digest repeats.
- Outside a checkout (only BENCHMARK.json and perfbench/), the benchmark
  exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import metrics  # noqa: E402

SEED = 7
failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def run(workload: str, trace: int, plant: str = "", cwd: str = harness.ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    checks = {}
    for line in lines:
        if line.startswith("check ") and ": " in line:
            name, rest = line[len("check "):].split(": ", 1)
            checks[name] = rest.startswith("ok")
    result = None
    if p.returncode == 0 and lines:
        result = json.loads(lines[-1])
    else:
        print(p.stderr[-3000:], file=sys.stderr)
    return p.returncode, result, checks


def main() -> int:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        expect(json.load(fh) == metrics.benchmark_json(), "BENCHMARK.json matches perfbench/metrics.py")

    layer_names = {n for n, *_ in metrics.PER_LAYER}
    e2e_names = {n for n, *_ in metrics.END_TO_END}
    digests = os.path.join(harness.state_dir(), "digests.json")
    if os.path.exists(digests):
        with open(digests) as fh:
            seen = json.load(fh)
        for key in [k for k in seen if k.startswith(f"crawl_rounds:{SEED}:")]:
            del seen[key]
        with open(digests, "w") as fh:
            json.dump(seen, fh)

    own = {
        "crawl_rounds": ["crawl_loop.jobs", "crawl_loop.job_cover_s", "tables.commit_s",
                         "tables.files_written", "fetch.rows", "frontier.urlseen_dedup_s",
                         "scheduler.select_batch_s", "frontier.bloom_pass_frac"],
        "curation_ops": [f"curation.{leaf}.wall_s" for leaf in metrics.CURATION_LEAVES],
    }
    for workload in metrics.WORKLOADS:
        code, result, checks = run(workload, 1)
        expect(code == 0 and result is not None, f"{workload} traced run exits 0 with a result")
        if result is None:
            continue
        expect(set(result["metrics"]) == layer_names, f"{workload} traced run emits every per-layer metric")
        expect(result["correct"] and result["failed"] == 0 and all(checks.values()),
               f"{workload} traced run passes its checks")
        expect(all(result["metrics"][n]["value"] > 0 for n in own[workload]),
               f"{workload} fills its own layers")

    planted = {
        "crawl_rounds": ("dup_frontier_row,drop_new_url",
                         ["frontier count == distinct(url, collection_id)", "urlseen new set == left_anti"]),
        "curation_ops": ("perturb_leaf_row", None),
    }
    for workload, (plant, failing) in planted.items():
        code, result, checks = run(workload, 0, plant)
        expect(code == 0 and result is not None, f"{workload} planted run exits 0 with a result")
        if result is None:
            continue
        expect(set(result["metrics"]) == e2e_names, f"{workload} untraced run emits every end-to-end metric")
        expect(all(result["metrics"][n]["value"] > 0 for n in e2e_names), f"{workload} end-to-end metrics are > 0")
        bad = sorted(n for n, ok in checks.items() if not ok)
        if failing is None:  # the first leaf of the seed order is perturbed
            expect(len(bad) == 1 and bad[0].endswith("== oracle_sql"), f"{workload} perturbed leaf row fails {bad}")
        else:
            expect(bad == sorted(failing), f"{workload} planted faults fail exactly {bad}")
        expect(not result["correct"] and result["failed"] == len(bad),
               f"{workload} planted faults count as failed operations")
        if workload == "crawl_rounds":
            expect(checks.get("state digest stable per seed") is True, "crawl state digest repeats for the seed")

    bare = os.path.join(harness.state_dir(), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(harness.ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _ = run("crawl_rounds", 0, cwd=bare)
    expect(code != 0 and result is None, "outside a checkout the benchmark exits non-zero without a result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"\n{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
