"""Workload `crawl_rounds`: BSP `CrawlEngine.run_round` calls over the
synthetic web of `sources.webgraph` (image mode).

Set-up starts the session.  The timed window is a crawl job from that
fresh session: `seed` of 400 link-rich documents (i % 4 == 3) chosen by
the seed, then rounds back to back, at least two.  The logical clock
steps 100 minutes per round, past the adaptive minimum recrawl interval
(1 h) but inside the 2 h max-age some pages serve, so the second round
mixes first fetches with recrawls that go through change detection or
the HTTP-cache gate.  With 400 seeds the second round claims a full
batch of 1024 on every seed.

After the window, one URL-seen scale step runs on the crawled frontier:
select_batch claim -> bloom_build -> urlseen_dedup of candidates that
are half frontier URLs and half new -> merge_frontier + bucket commit.
Its admitted set is checked against a plain left_anti.
"""

from __future__ import annotations

import json
import random
import time
from datetime import datetime, timedelta

import harness
from checks import frontier_unique, new_urls_exact, round_accounting, stable_digest

SIZES = {
    "full": dict(n_docs=20000, n_hosts=200, n_seeds=400, batch=1024, budget=64, buckets=16),
    "toy": dict(n_docs=400, n_hosts=20, n_seeds=20, batch=64, budget=16, buckets=4),
}
T0 = datetime(2024, 1, 1)
STEP = timedelta(minutes=100)
MIN_ROUNDS = 2  # rounds per timed window; the digest is taken after these
SALT_BUCKETS = 4
BLOOM_BITS = 1 << 20


def _policy():
    from sosse_spark.operators.admission import CollectionPolicy

    return CollectionPolicy(
        collection_id=1,
        unlimited_regex=r"^http://img[0-9]+\.example\.com/",
        recursion_depth=2,
        keep_params=False,
        recrawl_freq="adaptive",
    )


def seed_urls(seed: int, size: dict) -> list[str]:
    from sosse_spark.sources.webgraph import WebConfig, url_of

    web = WebConfig(n_docs=size["n_docs"], n_hosts=size["n_hosts"])
    docs = random.Random(seed).sample(range(3, size["n_docs"], 4), size["n_seeds"])
    return [url_of(i, web) for i in docs]


class Crawl:
    def __init__(self, sess, root: str, size: dict):
        from sosse_spark.sources.webgraph import WebConfig
        from sosse_spark.streaming.crawl_loop import CrawlEngine

        self.sess = sess
        self.root = root
        self.size = size
        self.engine = CrawlEngine(
            sess.spark, root, WebConfig(n_docs=size["n_docs"], n_hosts=size["n_hosts"]), _policy(),
            n_buckets=size["buckets"], batch_size=size["batch"],
            per_host_budget=size["budget"], salt_buckets=SALT_BUCKETS, bloom_bits=BLOOM_BITS,
        )
        self.t = T0
        self.rounds: list[dict] = []  # metrics rows of every round run

    def round(self, report) -> tuple[dict, float, float]:
        """One round; its metrics row, wall seconds and CPU seconds."""
        r = self.engine.round_no()
        with harness.job_group(self.sess.sc, f"pb-round-{r}"):
            try:
                m, wall, cpu = harness.timed(self.engine.run_round, self.t)
            except Exception as e:  # a failed round is a failed operation
                report.check(f"round {r} runs", (False, f"{type(e).__name__}: {e}"))
                report.op(False)
                raise
        self.t += STEP
        if m is None:
            report.check(f"round {r} runs", (False, "engine quiescent"))
            report.op(False)
            raise RuntimeError("crawl went quiescent")
        self.rounds.append(m)
        report.op(report.check(f"round {r} accounting", round_accounting(m)))
        return m, wall, cpu

    def traced_round(self, report, spans) -> tuple[float, dict]:
        """One round with layer spans installed; returns its wall and its
        per-layer figures."""
        from sosse_spark.sources.tables import AppendTable, SnapshotTable

        before = harness.tree_size(self.root)
        spans.wrap(SnapshotTable, "commit", "tables.commit")
        spans.wrap(AppendTable, "append", "tables.append")
        try:
            m, wall, _ = self.round(report)
        finally:
            spans.remove()
        after = harness.tree_size(self.root)
        g = harness.group_stats(self.sess.sc, f"pb-round-{m['round_no']}")
        s = spans.take()
        return wall, {
            "crawl_loop.round_wall_s": wall,
            "crawl_loop.jobs": g.jobs,
            "crawl_loop.stages": g.stages,
            "crawl_loop.driver_only_s": max(wall - g.cover_s, 0.0),
            "crawl_loop.job_cover_s": g.cover_s,
            "crawl_loop.core_util": g.task_s / (harness.CORES * wall),
            "scheduler.batch_fill": m["batch"] / self.size["batch"],
            "fetch.rows": m["fetched"],
            "fetch.error_frac": m["errors"] / max(m["fetched"], 1),
            "admission.new_url_frac": m["new_urls"] / max(m["links_extracted"], 1),
            "tables.commit_s": s.get("tables.commit", 0.0),
            "tables.append_s": s.get("tables.append", 0.0),
            "tables.bytes_written": after[0] - before[0],
            "tables.files_written": after[1] - before[1],
        }


def timed_crawl(crawl, urls, report, seconds) -> tuple[list[float], list[float], list[int]]:
    """The seed call, then rounds back to back until `seconds` have
    passed, at least MIN_ROUNDS: wall and CPU seconds of each step and
    the batch each round claimed."""
    t_start = time.perf_counter()
    _, wall, cpu = harness.timed(crawl.engine.seed, urls, T0)
    walls, cpus, batches = [wall], [cpu], []
    while len(batches) < MIN_ROUNDS or time.perf_counter() - t_start < seconds:
        m, wall, cpu = crawl.round(report)
        walls.append(wall)
        cpus.append(cpu)
        batches.append(m["batch"])
    return walls, cpus, batches


def traced_rounds(crawl, report) -> tuple[list[float], list[float], list[dict]]:
    """Untraced, traced, untraced rounds: a steady warm-up trend cancels
    out of the traced-vs-untraced overhead."""
    plain, traced, layer = [], [], []
    spans = harness.Spans()
    for trace in (False, True, False):
        if trace:
            wall, figures = crawl.traced_round(report, spans)
            traced.append(wall)
            layer.append(figures)
        else:
            plain.append(crawl.round(report)[1])
    return plain, traced, layer


def _snapshot_of_round(table, k: int):
    snap = table.latest()
    while snap and table.manifest(snap)["round"] > k:
        snap -= 1
    return snap


def _digest(spark, df) -> str:
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def state_digest(crawl, k: int) -> str:
    """Order-free digest of the frontier snapshot and the metrics rows as
    of round k (wall-clock columns of the metrics rows excluded)."""
    from pyspark.sql import functions as F

    spark = crawl.sess.spark
    eng = crawl.engine
    frontier = eng.frontier.read(spark, _snapshot_of_round(eng.frontier, k))
    rows = eng.metrics.read(spark).filter(F.col("round_no") <= k).drop("duration_sec", "urls_per_sec")
    return f"frontier {_digest(spark, frontier)} metrics {_digest(spark, rows)}"


def _candidates(frontier, seed: int, n_hosts: int, n_buckets: int):
    """Half of the candidates are frontier URLs picked by the seed, half
    are URLs the crawl has never seen."""
    from pyspark.sql import functions as F

    from sosse_spark.operators.frontier import with_bucket

    existing = frontier.filter(F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(2)) == 0).select("url")
    n_new = existing.count()
    fresh = frontier.sparkSession.range(n_new).select(
        F.concat(
            F.lit("http://img"), F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_hosts)).cast("string"),
            F.lit(f".example.com/fresh/{seed}/"), F.col("id").cast("string"),
        ).alias("url")
    )
    cands = existing.unionByName(fresh).select(
        "url",
        F.parse_url("url", F.lit("HOST")).alias("url_domain"),
        F.parse_url("url", F.lit("PATH")).alias("url_path"),
        F.lit(1).alias("collection_id"),
        F.lit(1).alias("crawl_recurse"),
        F.xxhash64("url", F.lit(seed)).alias("disc_order"),
    )
    return with_bucket(cands, n_buckets).cache()


def _as_frontier_rows(new_rows, round_no: int):
    from pyspark.sql import functions as F

    from sosse_spark.operators.frontier import FRONTIER_SCHEMA, assign_ids, frontier_row_defaults

    rows = assign_ids(new_rows, round_no)
    for name, value in frontier_row_defaults().items():
        if name not in rows.columns:
            rows = rows.withColumn(name, F.lit(value))
    return rows.select(*[F.col(f.name).cast(f.dataType) for f in FRONTIER_SCHEMA.fields])


def scale_step(crawl, seed: int, report, trace: bool) -> dict:
    """One URL-seen scale round on the crawled frontier; returns the
    frontier/scheduler layer figures (timings only when traced)."""
    from pyspark.sql import functions as F

    from sosse_spark.operators.frontier import bloom_build, bloom_prefilter, merge_frontier, urlseen_dedup
    from sosse_spark.operators.scheduler import select_batch
    from sosse_spark.sources.tables import SnapshotTable

    spark = crawl.sess.spark
    size = crawl.size
    n_buckets = crawl.engine.n_buckets
    layer = {}
    frontier = crawl.engine.frontier.read(spark).cache()
    frontier.count()
    cands = _candidates(frontier, seed, size["n_hosts"], n_buckets)
    cands.count()
    now = F.lit(crawl.t).cast("timestamp")
    with harness.job_group(crawl.sess.sc, "pb-scale"):
        t0 = time.perf_counter()
        batch = select_batch(frontier, now, size["batch"], size["budget"], 1, SALT_BUCKETS).cache()
        batch.count()
        t1 = time.perf_counter()
        bloom = bloom_build(frontier.select("bucket", "url_hash"), None, BLOOM_BITS).cache()
        bloom.count()
        t2 = time.perf_counter()
        admitted = urlseen_dedup(cands, frontier, bloom, BLOOM_BITS).cache()
        got = {r["url"] for r in admitted.select("url").collect()}
        t3 = time.perf_counter()
        round_no = crawl.engine.round_no()
        inserts = _as_frontier_rows(admitted, round_no)
        buckets = sorted(r["bucket"] for r in inserts.select("bucket").distinct().collect())
        merged = merge_frontier(frontier.filter(F.col("bucket").isin(buckets)), None, inserts)
        SnapshotTable(f"{crawl.root}-scale", "frontier", n_buckets).commit(
            spark, merged, round_no, changed_buckets=buckets
        )
        t4 = time.perf_counter()
    expected = {
        r["url"]
        for r in cands.select("url", "collection_id").distinct()
        .join(frontier.select("url", "collection_id"), ["url", "collection_id"], "left_anti")
        .collect()
    }
    if "drop_new_url" in report.plants and got:
        got.discard(sorted(got)[0])
    report.op(report.check("urlseen new set == left_anti", new_urls_exact(got, expected)))

    if trace:
        g = harness.group_stats(crawl.sess.sc, "pb-scale")
        probe = bloom_prefilter(cands.select("bucket", "url_hash").distinct(), bloom, BLOOM_BITS).cache()
        n_probe = probe.count()
        survivors = probe.filter("maybe_seen")
        n_pass = survivors.count()
        n_fp = survivors.join(frontier.select("url_hash"), "url_hash", "left_anti").count()
        probe.unpersist()
        layer = {
            "scheduler.select_batch_s": t1 - t0,
            "frontier.bloom_build_s": t2 - t1,
            "frontier.urlseen_dedup_s": t3 - t2,
            "frontier.merge_commit_s": t4 - t3,
            "frontier.bloom_pass_frac": n_pass / max(n_probe, 1),
            "frontier.bloom_fp_frac": n_fp / max(n_pass, 1),
            "spark.shuffle_write_mb": g.shuffle_write_mb,
            "spark.spill_mb": g.spill_mb,
            "spark.task_skew": g.task_skew,
        }
    for df in (frontier, cands, batch, bloom, admitted):
        df.unpersist()
    return layer


def run(args, work: str, report) -> None:
    size = SIZES[args.scale]
    t0 = time.perf_counter()
    sess = harness.Session(work, "perfbench-crawl_rounds")
    try:
        crawl = Crawl(sess, f"{work}/crawl", size)
        urls = seed_urls(args.seed, size)
        report.values["setup_s"] = time.perf_counter() - t0

        if args.trace:
            crawl.engine.seed(urls, T0)
            crawl.round(report)  # first round, a warm-up
            plain, traced, layer = traced_rounds(crawl, report)
            for name in layer[0]:
                report.values[name] = harness.median([row[name] for row in layer])
            report.values["trace.overhead_frac"] = harness.median(traced) / harness.mean(plain) - 1
        else:
            walls, cpus, batches = timed_crawl(crawl, urls, report, args.seconds)
            print(f"step walls (seed, rounds): {', '.join(f'{w:.2f}' for w in walls)} s")
            report.values["window_cpu_s"] = sum(cpus)
            report.values["step_cpu_geomean_s"] = harness.geomean(cpus)
            report.values["rows_per_cpu_s"] = sum(batches) / sum(cpus)

        k = crawl.rounds[MIN_ROUNDS - 1]["round_no"]
        digest = state_digest(crawl, k)
        key = f"crawl_rounds:{args.seed}:{json.dumps(size, sort_keys=True)}"
        keys = [(r["url"], r["collection_id"]) for r in
                crawl.engine.frontier.read(sess.spark).select("url", "collection_id").collect()]
        if "dup_frontier_row" in report.plants:
            keys.append(keys[0])
        unique = report.check("frontier count == distinct(url, collection_id)", frontier_unique(keys))
        stable = report.check("state digest stable per seed",
                              stable_digest(f"{harness.state_dir()}/digests.json", key, digest))
        if not (unique and stable):
            report.failed += 1  # the final state is the last round's output
        report.values.update(scale_step(crawl, args.seed, report, bool(args.trace)))
        report.values["mem_peak_mb"] = sess.peak_rss_mb()
    finally:
        sess.close()
