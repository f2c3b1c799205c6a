"""Correctness checks of the benchmark, run outside the timed window.

Each check takes plain Python data collected from the engine's outputs
and returns (ok, detail), so the self-test can plant a fault in the
same data and see the check fail.
"""

from __future__ import annotations

import json
import os
from collections import Counter


def frontier_unique(keys: list[tuple]) -> tuple[bool, str]:
    """The frontier holds each (url, collection_id) once."""
    dups = [k for k, n in Counter(keys).items() if n > 1]
    return not dups, f"{len(keys)} rows, {len(dups)} duplicated keys {dups[:2]}"


def round_accounting(m: dict) -> tuple[bool, str]:
    """Every claimed URL was fetched, rejected by robots or served from
    the HTTP cache."""
    parts = m["fetched"] + m["robots_rejected"] + m["cache_hits"]
    return m["batch"] == parts, (
        f"round {m['round_no']}: batch {m['batch']} vs fetched {m['fetched']} + "
        f"robots_rejected {m['robots_rejected']} + cache_hits {m['cache_hits']}"
    )


def stable_digest(path: str, key: str, digest: str) -> tuple[bool, str]:
    """The digest of one seed's crawl state equals the digest every
    earlier run of that seed in this checkout recorded."""
    seen = {}
    if os.path.exists(path):
        with open(path) as fh:
            seen = json.load(fh)
    if key in seen:
        return seen[key] == digest, f"{key}: {digest} vs recorded {seen[key]}"
    seen[key] = digest
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(seen, fh, sort_keys=True)
    os.replace(tmp, path)
    return True, f"{key}: recorded {digest}"


def new_urls_exact(got: set, expected: set) -> tuple[bool, str]:
    """URL-seen admission equals a plain left_anti of the candidates
    against the frontier: a bloom false negative would drop a URL here,
    a missed exact probe would admit a seen one."""
    return got == expected, (
        f"{len(got)} admitted vs {len(expected)} expected, "
        f"{len(expected - got)} dropped, {len(got - expected)} already seen"
    )


def leaf_matches_oracle(rows, cols, oracle_rows, oracle_cols) -> tuple[bool, str]:
    """A leaf's rows equal its oracle_sql() rows under the gate replica's
    normalize-and-compare (jobs/gate_replica.py::_normalize)."""
    from jobs.gate_replica import _normalize as normalize

    cols = [c.lower() for c in cols]
    oracle_cols = [c.lower() for c in oracle_cols]
    if sorted(cols) != sorted(oracle_cols):
        return False, f"columns {cols} vs {oracle_cols}"
    if len(rows) != len(oracle_rows):
        return False, f"rowcount {len(rows)} vs {len(oracle_rows)}"
    bad = [(a, b) for a, b in zip(normalize(rows, cols), normalize(oracle_rows, oracle_cols)) if a != b]
    return not bad, f"{len(rows)} rows" + (f", first mismatch {bad[0]}" if bad else "")
