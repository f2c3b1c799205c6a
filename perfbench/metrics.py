"""Metric catalogue of the benchmark: names, units and directions.

BENCHMARK.json at the repository root lists the same metrics (the
self-test checks that the two agree).  Every workload emits every
metric of the mode it runs in; a layer a workload never calls reads 0.

Run `python3 perfbench/metrics.py` to print the BENCHMARK.json body.
"""

from __future__ import annotations

import json

WORKLOADS = {
    "crawl_rounds": "north-star BSP crawl rounds over the synthetic web: many small Spark jobs, "
    "snapshot commits and the fetch kernel, mixing first fetches with recrawls",
    "curation_ops": "read-only training-data operator leaves on a generated corpus: few "
    "jobs each, shuffle/window/join work and the Python kernels",
}

# name, unit, better, bound (share of the parent's median a change may worsen it).
# The timed window is all engine work after set-up (crawl: seed + rounds;
# curation: collect pass + noop passes), counted in CPU seconds of the
# whole process tree (Python driver, JVM, Python workers): unlike wall
# time this does not count the time a shared host takes the cores away,
# nor waits on a throttled disk.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("window_cpu_s", "s", "lower", 0.25),
    ("step_cpu_geomean_s", "s", "lower", 0.25),
    ("rows_per_cpu_s", "1/s", "higher", 0.25),
    ("mem_peak_mb", "MB", "lower", 0.2),
]

CURATION_LEAVES = [
    "dedup_ngram_jaccard",
    "dedup_phash_hamming",
    "dedup_substring",
    "sim_embedding_neardup",
    "sim_ann_sq8",
    "q1_fts_rank",
    "q13_words_view",
    "text_ccnet_buckets",
    "p2_html_parse",
    "curate_aspect_bucket",
    "linkrank_pagerank",
]

PER_LAYER = [
    # streaming.crawl_loop, per traced round (median)
    ("crawl_loop.round_wall_s", "s", "lower"),
    ("crawl_loop.jobs", "count", "lower"),
    ("crawl_loop.stages", "count", "lower"),
    ("crawl_loop.driver_only_s", "s", "lower"),
    ("crawl_loop.job_cover_s", "s", "lower"),
    ("crawl_loop.core_util", "ratio", "higher"),
    # operators.scheduler
    ("scheduler.batch_fill", "ratio", "higher"),
    ("scheduler.select_batch_s", "s", "lower"),
    # operators.fetch / operators.admission: input shape, should not move
    ("fetch.rows", "count", "higher"),
    ("fetch.error_frac", "ratio", "lower"),
    ("admission.new_url_frac", "ratio", "higher"),
    # operators.frontier, one URL-seen scale step on the crawled frontier
    ("frontier.bloom_build_s", "s", "lower"),
    ("frontier.urlseen_dedup_s", "s", "lower"),
    ("frontier.bloom_pass_frac", "ratio", "lower"),
    ("frontier.bloom_fp_frac", "ratio", "lower"),
    ("frontier.merge_commit_s", "s", "lower"),
    # sources.tables, per traced round (median)
    ("tables.commit_s", "s", "lower"),
    ("tables.append_s", "s", "lower"),
    ("tables.bytes_written", "bytes", "lower"),
    ("tables.files_written", "count", "lower"),
    # Spark data plane of the scale step
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    # curation leaves, per traced pass
    ("curation.pass_wall_s", "s", "lower"),
]
for _leaf in CURATION_LEAVES:
    PER_LAYER += [
        (f"curation.{_leaf}.wall_s", "s", "lower"),
        (f"curation.{_leaf}.task_s", "s", "lower"),
        (f"curation.{_leaf}.driver_s", "s", "lower"),
        (f"curation.{_leaf}.shuffle_mb", "MB", "lower"),
        (f"curation.{_leaf}.spill_mb", "MB", "lower"),
    ]
PER_LAYER += [
    ("host.membw_start_passes_s", "1/s", "higher"),
    ("host.membw_end_passes_s", "1/s", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
