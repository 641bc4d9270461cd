"""Doc-vs-code drift guards for the bench pin tables.

BASELINE.md's job-count map is the judge-facing record; bench.py's
PINNED_JOBS is what the artifact actually annotates regressions with.
They were hand-copied once (r12) — this keeps them from drifting
apart silently. Wall pins are floats that legitimately ratchet; job
counts are plan facts that must match the documented map exactly."""

from __future__ import annotations

import importlib.util
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _baseline_job_map() -> dict[str, int]:
    with open(os.path.join(REPO, "BASELINE.md")) as f:
        md = f.read()
    anchor = md.index("| query | build jobs | exec jobs | total |")
    out: dict[str, int] = {}
    for line in md[anchor:].splitlines()[2:]:
        m = re.match(r"\| ([a-z_0-9]+) \| (\d+) \| (\d+) \| (\d+) \|", line)
        if not m:
            break
        out[m.group(1)] = int(m.group(4))
    return out


def test_pinned_jobs_match_baseline_md():
    bench = _bench()
    doc = _baseline_job_map()
    assert doc, "BASELINE.md job-map table not found/parseable"
    assert bench.PINNED_JOBS == doc, (
        "bench.PINNED_JOBS diverged from BASELINE.md's job-count map — "
        "update BOTH when a plan legitimately changes shape: "
        f"{ {k: (bench.PINNED_JOBS.get(k), doc.get(k)) for k in set(bench.PINNED_JOBS) | set(doc) if bench.PINNED_JOBS.get(k) != doc.get(k)} }"
    )


def test_pin_tables_cover_the_headline():
    bench = _bench()
    headline = set(bench.HEADLINE)
    for table_name in ("BEST_KNOWN", "BEST_KNOWN_CURATED", "PINNED_JOBS",
                       "PINNED_JOBS_CURATED"):
        table = getattr(bench, table_name)
        missing = headline - set(table)
        extra = set(table) - headline
        assert not missing, f"{table_name} missing headline queries: {missing}"
        assert not extra, f"{table_name} pins non-headline queries: {extra}"


def test_benchmark_harness_clears_every_memo(spark):
    """perfbench/workloads.py's clear_memos (frozen with the benchmark)
    must empty every session.Memo between timed passes; a renamed
    clear hook or a memo it misses fails here, not in a benchmark run."""
    from seqdatapipeline_spark.extensions import dedup, graph  # noqa: F401
    from seqdatapipeline_spark.ops import joins  # noqa: F401
    from seqdatapipeline_spark.session import _MEMOS

    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", os.path.join(REPO, "perfbench", "workloads.py")
    )
    workloads = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(workloads)

    assert {"interval-stats", "pagerank-ranks", "dup-factor", "persist-ring"} <= {
        m.name for m in _MEMOS
    }
    for m in _MEMOS:
        m.put(("harness-probe", m.name), m.name, spark.range(1).persist())
        assert len(m) > 0
    workloads.clear_memos(spark)
    assert {m.name: len(m) for m in _MEMOS} == {m.name: 0 for m in _MEMOS}
