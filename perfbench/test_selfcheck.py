"""Self-checks of the benchmark itself.

- The Spark counters a later change may cite as evidence must repeat
  exactly: two traced runs of one step over the sf0.01 inputs give
  identical job, stage and shuffle-write counts.
- The output check must catch a wrong answer: corrupting one collected
  row makes the step count as failed.

Run from the repository root: ``python3 -m pytest perfbench/test_selfcheck.py -q``
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, tracing  # noqa: E402
from perfbench import run as bench  # noqa: E402

STEP = "analytics_events_rollup"


@pytest.fixture(scope="module")
def run():
    work = os.path.join(ROOT, "perfbench", ".work", f"selfcheck-{os.getpid()}")
    os.makedirs(work)
    bench._environment(work)
    r = bench.Run(argparse.Namespace(workload="recon_batch", seed=0, seconds=1, trace=0), work)
    r.start_session()
    try:
        yield r
    finally:
        r.stop_session()
        shutil.rmtree(work, ignore_errors=True)


def _request(r):
    from recon_spark import registry

    return bench._collect(lambda: registry.QUERIES[STEP](r.spark, bench.INPUTS))


def test_counters_repeat_exactly(run):
    stats = tracing.SparkStats(run.spark)
    run.step(STEP, "warmup", _request(run))
    seen = []
    for _ in range(2):
        j0 = stats.job_count()
        wall, _ = run.step(STEP, "request", _request(run))
        counters = stats.step(j0, stats.job_count(), wall)
        seen.append(
            (counters["jobs"], counters["stages"], counters["shuffle_write_mb"])
        )
    assert seen[0][0] > 0
    assert seen[0] == seen[1]


def test_corrupted_output_counts_as_failed(run):
    wall, (df, rows) = run.step(STEP, "request", _request(run))
    assert wall is not None
    want = checks.oracle_hashes(bench.INPUTS, [STEP])[STEP]
    run.check(STEP, checks.spark_hash(df, rows) == want)
    failed, attempted = run.failed, run.attempted
    assert failed == 0

    corrupted = [tuple(rows[0][:-1]) + ("corrupted",)] + list(rows[1:])
    run.check(STEP, checks.spark_hash(df, corrupted) == want)
    assert run.failed / run.attempted > failed / attempted
