"""Workload `curation_ops`: read-only training-data operator leaves of
`__spark_entry__.queries()` over a corpus generated from the seed.

Each leaf is mostly one module (operators.dedup, operators.similarity,
operators.fts, functions.text, operators.htmlparse, operators.curation,
operators.graph).  The seed generates the corpus and permutes the leaf
order.  Set-up starts the session and writes the corpus.  The timed
window runs one pass that collects every leaf's rows for the oracle
check, then passes that force each leaf with write.format("noop"), at
least one.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

import harness
from checks import leaf_matches_oracle
from metrics import CURATION_LEAVES

SIZES = {"full": dict(docs=1000, embeddings=400), "toy": dict(docs=150, embeddings=80)}
MIN_PASSES = 1  # noop passes per timed window
# the sf testdata's documents table: 10..100 words from a 30-word
# vocabulary, 5% planted near-duplicates, five languages, 20 sources
VOCAB = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast the row agg key query a scan batch"
).split()
EMBEDDING_LEAVES = {"sim_embedding_neardup", "sim_ann_sq8"}


def write_corpus(seed: int, size: dict, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = size["docs"]
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in rng.integers(10, 101, size=n)]
    for j in sorted(rng.choice(np.arange(2, n), size=n // 20, replace=False)):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    langs = rng.choice(["en", "zh", "es", "fr", "de"], size=n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    m = size["embeddings"]
    v = rng.standard_normal((m, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=m).astype(np.int32), pa.int32()),
    }), f"{out}/embeddings.parquet")


def _pass(sess, queries, order, corpus, tag, report, trace, collected=None):
    """One pass over every leaf, back to back: each leaf forced with a
    noop write or, given `collected`, its rows collected into it.
    Returns each leaf's wall and CPU seconds and, with `trace`, its
    Spark figures."""

    def force(leaf):
        df = queries[leaf](sess.spark, corpus)
        if collected is None:
            df.write.format("noop").mode("overwrite").save()
        else:
            collected[leaf] = (df.columns, [tuple(r) for r in df.collect()])

    walls, cpus, layer = {}, {}, {}
    for leaf in order:
        group = f"pb-{tag}-{leaf}"
        with harness.job_group(sess.sc, group):
            try:
                _, wall, cpu = harness.timed(force, leaf)
            except Exception as e:  # a failed leaf is a failed operation
                report.check(f"{leaf} runs", (False, f"{type(e).__name__}: {e}"))
                report.op(False)
                raise
        report.op(True)
        walls[leaf] = wall
        cpus[leaf] = cpu
    if trace:
        for leaf in order:
            g = harness.group_stats(sess.sc, f"pb-{tag}-{leaf}")
            layer[leaf] = {
                "wall_s": walls[leaf],
                "task_s": g.task_s,
                "driver_s": max(walls[leaf] - g.cover_s, 0.0),
                "shuffle_mb": g.shuffle_write_mb,
                "spill_mb": g.spill_mb,
            }
    return walls, cpus, layer


def timed_passes(sess, queries, order, corpus, report, seconds, collected) -> list[tuple[dict, dict]]:
    """The collect pass, then noop passes back to back until `seconds`
    have passed, at least MIN_PASSES: each pass's leaf walls and CPU
    seconds."""
    t_start = time.perf_counter()
    passes = [_pass(sess, queries, order, corpus, "c", report, False, collected)[:2]]
    while len(passes) < 1 + MIN_PASSES or time.perf_counter() - t_start < seconds:
        passes.append(_pass(sess, queries, order, corpus, f"p{len(passes)}", report, False)[:2])
    return passes


def traced_passes(sess, queries, order, corpus, report):
    """Untraced, traced, untraced passes: a steady warm-up trend cancels
    out of the traced-vs-untraced overhead."""
    plain, traced, layers = [], [], []
    for i, trace in enumerate((False, True, False)):
        walls, _, layer = _pass(sess, queries, order, corpus, f"t{i}", report, trace)
        (traced if trace else plain).append(sum(walls.values()))
        if trace:
            layers.append(layer)
    return plain, traced, layers


def run(args, work: str, report) -> None:
    import duckdb

    import __spark_entry__ as entry

    size = SIZES[args.scale]
    order = list(CURATION_LEAVES)
    random.Random(args.seed).shuffle(order)
    corpus = f"{work}/corpus"
    queries = entry.queries()

    t0 = time.perf_counter()
    sess = harness.Session(work, "perfbench-curation_ops")
    try:
        write_corpus(args.seed, size, corpus)
        report.values["setup_s"] = time.perf_counter() - t0

        collected = {}
        if args.trace:
            _pass(sess, queries, order, corpus, "c", report, False, collected)  # a warm-up
            plain, traced, layers = traced_passes(sess, queries, order, corpus, report)
            for leaf in order:
                for stat in layers[0][leaf]:
                    report.values[f"curation.{leaf}.{stat}"] = harness.median(
                        [layer[leaf][stat] for layer in layers]
                    )
            report.values["curation.pass_wall_s"] = harness.median(traced)
            report.values["trace.overhead_frac"] = harness.median(traced) / harness.mean(plain) - 1
        else:
            passes = timed_passes(sess, queries, order, corpus, report, args.seconds, collected)
            print(f"pass walls (collect, noop): {', '.join(f'{sum(w.values()):.2f}' for w, _ in passes)} s")
            window_cpu = sum(sum(c.values()) for _, c in passes)
            rows_per_pass = sum(
                size["embeddings"] if leaf in EMBEDDING_LEAVES else size["docs"] for leaf in order
            )
            report.values["window_cpu_s"] = window_cpu
            report.values["step_cpu_geomean_s"] = harness.geomean(
                [sum(c[leaf] for _, c in passes) / len(passes) for leaf in order]
            )
            report.values["rows_per_cpu_s"] = rows_per_pass * len(passes) / window_cpu
        report.values["mem_peak_mb"] = sess.peak_rss_mb()
    finally:
        sess.close()

    # oracle check of the collect pass outputs, after the session is gone
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{work}/duckdb-tmp'")
        for table in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{corpus}/{table}.parquet')")
        for leaf in order:
            cols, rows = collected[leaf]
            if "perturb_leaf_row" in report.plants and leaf == order[0] and rows:
                first = rows[0][0]
                first = first + 1 if isinstance(first, (int, float)) else f"{first}~"
                rows = [(first,) + tuple(rows[0][1:])] + rows[1:]
            res = con.execute(oracles[leaf])
            ok = report.check(f"{leaf} == oracle_sql", leaf_matches_oracle(
                rows, cols, res.fetchall(), [d[0] for d in res.description]))
            report.op(ok)
    finally:
        con.close()
