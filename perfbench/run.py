"""Benchmark of the recon_spark engine, driven through its public surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload recon_batch --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``recon_batch``: set-up renders the raw exports; the timed run is the
  month-end close (clean-once write, engines A-D, corrections with the
  engine-output write, merge-apply, KPI rollup) followed by the analyst's
  other graded reads over its outputs, sent one at a time in an order
  permuted by the seed.
- ``corpus_prep``: one full corpus composition
  (``plans.corpus.build_training_corpus``) in a fresh session.

Each run times one job in a fresh process, as a scheduled batch runs.
``--seconds`` bounds only the tracing-overhead pairs of a traced run.

The inputs are the engine's sf0.01 testdata tables, shipped under
``perfbench/data``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics (CPU seconds of the timed job and of set-up; the line
before it has the wall times); with ``--trace 1`` it carries the
per-layer metrics of a traced pass, and the spans are written next to the
run's result file.
Outputs are checked after timing; a failed or mismatching step counts in
``failed``. Exit code 2 means the program under test is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", "data")

#: the workload inputs (customer, orders, events, documents), copied from
#: the engine's sf0.01 testdata
SF = 0.01
INPUTS = os.path.join(DATA, "sf0.01")
ORACLE_CACHE = os.path.join(ROOT, "perfbench", ".work", "oracle-hashes.json")

#: corpus build output over ``INPUTS``: (row count, value hash)
CORPUS_PINNED = (95, "24d6f52731c19e427d0d6bcdcc982f8768705605e9dcb5ac7c409649a0a080ef")

#: the month-end close, in dependency order after ``clean_tables``
CLOSE = (
    "engine_a_match_planid",
    "engine_b_age_taxcode",
    "engine_c_roth_taxable",
    "engine_d_ira_rollover",
    "corrections_all",  # first consumer: writes the engine A and C outputs
    "corrections_merge_apply",
    "analytics_kpi_all",
)

#: the analyst's reads over the close's outputs and the event table
READS = (
    "analytics_monthly_all",
    "analytics_trends_all",
    "analytics_crosstab_all",
    "analytics_histograms_all",
    "analytics_unmatched_engine_a",
    "analytics_action_mix_engine_c",
    "analytics_events_monthly",
    "analytics_event_funnel",
    "analytics_cohort_retention",
    "analytics_value_percentiles",
    "analytics_user_reach",
    "analytics_events_rollup",
    "sessionization_events",
    "asof_click_purchase",
    "range_join_lookback",
)

END_TO_END_UNITS = {"cpu_s": "s", "setup_s": "s"}


class Run:
    """State of one benchmark process: work directory, session, tracer,
    and the per-step record."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.session_s = 0.0
        self.session_cpu_s = 0.0
        self.tracer = None
        self.stats = None
        self.steps: list[dict] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------------
    def start_session(self) -> None:
        from perfbench import proc
        from recon_spark.session import get_spark

        meter, t0 = proc.CpuMeter(), time.perf_counter()

        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.session_s = time.perf_counter() - t0
        self.session_cpu_s = meter.seconds()
        if self.args.trace:
            from perfbench import tracing

            self.stats = tracing.SparkStats(self.spark)
            self.tracer = tracing.Tracer(run_id=f"{self.args.workload}-{self.args.seed}")
            self.tracer.install(self.stats)

    def stop_session(self) -> None:
        from perfbench import proc

        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                # the JVM exits when its stdin closes
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=30)
        proc.reap_descendants()

    # -- steps ----------------------------------------------------------------
    def step(self, name: str, phase: str, fn, traced: bool = True):
        """Run ``fn()`` as one step; returns ``(seconds, value)``, or
        ``(None, None)`` when it raised. The step's record also keeps the
        CPU and steal time over it (``proc.CpuMeter``). Spark counters are
        read only in a traced pass."""
        from perfbench import proc

        tracing_on = self.tracer is not None and traced
        if self.tracer is not None:
            self.tracer.active, self.tracer.phase = tracing_on, phase
        j0 = self.stats.job_count() if tracing_on else 0
        rec = {"name": name, "phase": phase}
        self.attempted += 1
        meter, t0 = proc.CpuMeter(), time.perf_counter()
        try:
            value = fn()
            wall = time.perf_counter() - t0
            rec["cpu_s"], rec["steal_s"] = meter.seconds(), meter.steal_seconds()
        except Exception as exc:  # noqa: BLE001 — record the step and go on
            wall, value = None, None
            self.failed += 1
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            print(f"perfbench: step {name} failed: {rec['error']}", file=sys.stderr)
        finally:
            if self.tracer is not None:
                self.tracer.active = False
        rec["wall_s"] = wall
        if tracing_on:
            rec["spark"] = self.stats.step(j0, self.stats.job_count(), wall or 0.0)
        self.steps.append(rec)
        self._release()
        return wall, value

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count a step whose output failed its check as failed."""
        if not ok:
            self.failed += 1
            print(f"perfbench: check {name} failed {detail}".rstrip(), file=sys.stderr)

    def _release(self) -> None:
        """Drop what one step cached: cached blocks plus every module's
        staged-persist ledger (as ``bench.py`` does between queries)."""
        self.spark.catalog.clearCache()
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("recon_spark") or mod is None:
                continue
            for attr in ("release_staged", "release_auto_staged", "release_staged_frames"):
                fn = getattr(mod, attr, None)
                if callable(fn):
                    getattr(fn, "__wrapped__", fn)()

    def spark_totals(self) -> dict[str, float]:
        from perfbench import tracing

        out = dict.fromkeys(tracing.SPARK_COUNTERS, 0.0)
        for rec in self.steps:
            for k, v in rec.get("spark", {}).items():
                out[k] += v
        return {f"spark.{k}": v for k, v in out.items()}


# -- workloads ----------------------------------------------------------------


def _collect(df_fn):
    """Build a query and bring its rows to the client."""

    def go():
        df = df_fn()
        return df, df.collect()

    return go


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetDataset(path).read(columns=[]).num_rows


def recon_batch(run: Run) -> dict:
    from recon_spark import registry
    from recon_spark.sources import fixtures

    from perfbench import checks

    run.start_session()
    spark = run.spark
    t0 = time.perf_counter()
    raw_dir = os.path.join(run.work, "raw_exports")
    # the render is also the JIT warm-up of the fixture and cleaning code
    run.step(
        "render_raw_exports", "setup", lambda: fixtures.materialize_raw(spark, INPUTS, raw_dir)
    )
    setup_wall_s = run.session_s + (time.perf_counter() - t0)
    setup_s = run.session_cpu_s + run.steps[-1].get("cpu_s", 0.0)
    raw_rows = sum(_parquet_rows(os.path.join(raw_dir, f)) for f in os.listdir(raw_dir))

    def query(name):
        return _collect(lambda: registry.QUERIES[name](spark, INPUTS))

    order = random.Random(run.args.seed).sample(READS, len(READS))
    requests = (
        [("clean_tables", "clean", lambda: registry.clean_tables(spark, INPUTS))]
        + [(name, "close", query(name)) for name in CLOSE]
        + [(name, "request", query(name)) for name in order]
    )
    first: dict[str, tuple[int, str]] = {}
    cleaned: list[bool] = []

    def on_result(name: str, out) -> None:
        if name == "clean_tables":
            cleaned.append(sorted(out) == ["basis", "demo", "matrix", "relius"])
        elif name not in first:
            first[name] = checks.spark_hash(*out)

    res = _measure(run, requests, on_result)
    run.check("clean_tables", all(cleaned), "tables=" + repr(cleaned))
    oracle = checks.oracle_hashes(INPUTS, sorted(first), ORACLE_CACHE)
    for name, got in sorted(first.items()):
        run.check(name, got == oracle[name], f"spark={got} oracle={oracle[name]}")
    events = _parquet_rows(os.path.join(INPUTS, "events.parquet"))
    res.update(setup_s=setup_s, setup_wall_s=setup_wall_s, input_rows=raw_rows + events)
    return res


def corpus_full(spark, sf_dir: str):
    """The full-stack corpus build over a page-shaped corpus: every five
    documents form one page, one document per line with a terminal period;
    every 7th page repeats its first line, every 11th ends in an
    unpunctuated line and every 13th starts with a decomposed-accent line,
    so the paragraph-dedup, C4-line and NFC stages have work to do."""
    from pyspark.sql import functions as F

    from recon_spark.operators import sampling
    from recon_spark.plans import corpus
    from recon_spark.sources.tpch import load

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    pid = F.col("doc_id")
    pages = docs.groupBy(F.floor(F.col("doc_id") / 5).alias("doc_id")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("doc_id").alias("k"), F.col("text").alias("t"))
                )
            ),
            lambda s: F.concat(s["t"], F.lit(".")),
        ).alias("__ls")
    )
    ls = F.col("__ls")
    ls = F.when(pid % 7 == 0, F.concat(F.slice(ls, 1, 1), ls)).otherwise(ls)
    ls = F.when(pid % 11 == 0, F.concat(ls, F.array(F.lit("no punct tail")))).otherwise(ls)
    ls = F.when(
        pid % 13 == 0,
        F.concat(
            F.array(F.lit("café menu offers plenty of seasonal words here.")),
            ls,
        ),
    ).otherwise(ls)
    pages = pages.select("doc_id", F.array_join(ls, "\n").alias("text")).repartition(
        spark.sparkContext.defaultParallelism
    )
    ref = sampling.with_split(pages).filter(F.col("split") == "train")
    return corpus.build_training_corpus(
        pages,
        perplexity_keep=0.95,
        perplexity_ref=ref,
        unicode_form="NFC",
        c4_lines=True,
        dedup_paras=True,
        boilerplate_spans=8,
        near_dup_method="auto",
        bpe_merges=200,
    )


def corpus_prep(run: Run) -> dict:
    from perfbench import checks

    documents = _parquet_rows(os.path.join(INPUTS, "documents.parquet"))
    pages = -(-documents // 5)
    run.start_session()
    spark = run.spark
    kept: list[int] = []

    def on_result(name: str, out) -> None:
        got = checks.spark_hash(*out)
        kept.append(got[0])
        run.check(name, got == CORPUS_PINNED, f"got={got} want={CORPUS_PINNED}")

    requests = [("corpus_build_full", "request", _collect(lambda: corpus_full(spark, INPUTS)))]
    res = _measure(run, requests, on_result)
    res.update(setup_s=run.session_cpu_s, setup_wall_s=run.session_s, input_rows=documents)
    if "layers" in res and kept:
        res["layers"]["plans.corpus.kept_frac"] = (kept[0] / pages, "ratio")
    return res


WORKLOADS = {"recon_batch": recon_batch, "corpus_prep": corpus_prep}


def _measure(run: Run, requests: list, on_result) -> dict:
    """Send ``requests`` (``(name, phase, fn)`` triples) one at a time,
    once: the timed job.

    A traced run traces that same job for the per-layer metrics. Then,
    for ``--seconds`` (at least one pair), the warm ``request``-phase
    requests run again as untraced/traced pairs, alternating which goes
    first; traced minus untraced time over the pairs is the tracing
    overhead."""

    def send(name, phase, fn, traced: bool):
        wall, out = run.step(name, phase, fn, traced=traced)
        if wall is not None:
            on_result(name, out)
        return wall

    walls = [(phase, send(n, phase, fn, bool(run.tracer))) for n, phase, fn in requests]
    res = {
        "wall_s": sum(w for _, w in walls if w is not None),
        "cpu_s": sum(rec.get("cpu_s", 0.0) for rec in run.steps[-len(requests) :]),
        "steal_s": sum(rec.get("steal_s", 0.0) for rec in run.steps[-len(requests) :]),
        "latencies": [w for phase, w in walls if phase == "request" and w is not None],
    }
    if run.tracer:
        res["layers"] = per_layer(run)
        plain = traced = 0.0
        warm = [r for r in requests if r[1] == "request"]
        t_end = time.perf_counter() + run.args.seconds
        for i, (name, phase, fn) in enumerate(warm * 2):
            if i and time.perf_counter() >= t_end:
                break
            first = bool(i % 2)
            a = send(name, "overhead", fn, first)
            b = send(name, "overhead", fn, not first)
            if a is not None and b is not None:
                untraced, with_trace = (b, a) if first else (a, b)
                plain, traced = plain + untraced, traced + with_trace
        res["layers"]["trace.overhead_s"] = (traced - plain, "s")
    return res


# -- metrics ------------------------------------------------------------------


def end_to_end(res: dict) -> dict[str, float]:
    """The gated metrics: CPU seconds of the timed job and of set-up. Wall
    times move more with the hypervisor's steal and are reported beside
    them (:func:`wall_times`)."""
    return {"cpu_s": res["cpu_s"], "setup_s": res["setup_s"]}


def wall_times(res: dict) -> dict[str, float]:
    wall = res["wall_s"]
    return {
        "wall_s": wall,
        "rows_per_s": res["input_rows"] / wall if wall else 0.0,
        "setup_wall_s": res["setup_wall_s"],
        "steal_s": res["steal_s"],
    }


def per_layer(run: Run) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of everything traced so far."""
    out: dict[str, tuple[float, str]] = {}
    for k, v in run.tracer.layer_metrics().items():
        out[k] = (v, "s" if k.endswith("_s") else "count")
    for k, v in run.spark_totals().items():
        unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
        out[k] = (v, unit)
    out["registry.reuse_frac"] = (run.tracer.clean_tables_reuse(), "ratio")
    out["plans.corpus.kept_frac"] = (0.0, "ratio")
    return out


def stamp(run: Run, ext_cores: float) -> dict:
    import pyspark

    digest = hashlib.sha256()
    src = os.path.join(ROOT, "recon_spark")
    for dirpath, dirnames, files in os.walk(src):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "git_sha": _git_sha(),
        "source_sha256": digest.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "sf": SF,
        "pyspark": pyspark.__version__,
        "seed": run.args.seed,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "external_cpu_cores": round(ext_cores, 3),
        "contended": ext_cores > 0.5,
    }


def _git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


# -- entry point --------------------------------------------------------------


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size the driver
    for this machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the spark-submit launcher too): no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    # Python workers import recon_spark too (mapInPandas stages)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Spark tasks get all cores but one: the driver JVM's JIT compiler and
    # GC threads, this process and the Python workers share the last one,
    # instead of preempting task threads (which made run times spread)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(len(os.sched_getaffinity(0)) - 1, 1)))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(4, int(mem_gb // 4)))}g")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "recon_spark", "registry.py")):
        print(f"perfbench: no recon_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import proc

    base = os.path.join(ROOT, "perfbench", ".work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(base, tag)
    os.makedirs(work)
    _environment(work)
    run = Run(args, work)
    cpu = proc.CpuWindow()
    try:
        with proc.RssSampler() as rss:
            try:
                res = WORKLOADS[args.workload](run)
            finally:
                rss.sample()
                run.stop_session()
        ext = cpu.external_cores()
        failed_frac = run.failed / max(run.attempted, 1)
        if args.trace:
            metrics = res["layers"]
            metrics["failed_frac"] = (failed_frac, "ratio")
            metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
            run.tracer.write(os.path.join(base, f"{tag}.spans.jsonl"))
        else:
            metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in end_to_end(res).items()}
        info = {
            "stamp": stamp(run, ext),
            "failed_frac": failed_frac,
            "peak_rss_mb": rss.peak_mb,
            "n_requests": len(res["latencies"]),
            **wall_times(res),
        }
        with open(os.path.join(base, f"{tag}.result.json"), "w") as fh:
            json.dump(
                {
                    "info": info,
                    "latencies_s": res["latencies"],
                    "steps": run.steps,
                    "metrics": metrics,
                },
                fh,
                indent=1,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
