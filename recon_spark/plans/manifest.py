"""Run manifest: the audit trail of a pipeline run, collected with
``Observation`` metrics that ride the run's own action — zero extra jobs.

The reference logs row counts and warning tallies to the console as each
stage runs (``print``/``warnings.warn`` sprinkled through
/root/reference/src/cleaning/clean_relius.py:254-288 and
/root/reference/src/outputs/build_correction_file.py) — fine in a
single-process pandas run, but on a cluster a ``df.count()`` per stage
would launch one full job per counter. ``df.observe`` instead attaches
aggregate expressions to a plan node; Spark accumulates them while the
run's ONE real action (the sink write) executes, so a fully-instrumented
run costs the same as an uninstrumented one. That property holds at any
scale — the metrics are map-side accumulators merged on the driver.

Usage::

    m = RunManifest("daily-2026-08-14")
    raw = m.stage(raw, "relius_raw")
    clean = m.stage(cleaning.clean_relius(raw), "relius_clean",
                    invalid_ssn=F.sum((~F.col("ssn_valid")).cast("long")))
    ...
    corrections.write.parquet(out)          # the one action
    print(json.dumps(m.report()))           # metrics already collected

Constraints inherited from Spark's Observation API: each observed node's
metrics materialize when an action executes that node's plan — stages on
branches the final action never touches report no metrics (``report``
marks them ``"collected": False`` rather than blocking forever), and a
given Observation binds to one DataFrame only (the manifest generates
unique internal names).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..session import shuffle_partitions


class RunManifest:
    """Collects per-stage Observation metrics for one pipeline run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self._stages: dict[str, Observation] = {}
        self._key_profiles: dict[str, dict[str, Any]] = {}

    def profile_key(self, df: DataFrame, key: str, name: str, **kwargs) -> dict:
        """Run :func:`key_profile` on ``df[key]`` and record it in the
        manifest under ``name`` (reported as ``key_profiles``). The one
        manifest entry that costs a probe job — see :func:`key_profile`
        for why a per-key count cannot ride an Observation. Returns the
        profile so the caller can branch on ``["skewed"]`` (e.g. switch
        to ``sessionize_bucketed``) in the same run."""
        if name in self._key_profiles:
            raise ValueError(f"duplicate key profile: {name}")
        prof = key_profile(df, key, **kwargs)
        self._key_profiles[name] = prof
        return prof

    def stage(self, df: DataFrame, name: str, **metrics: Column) -> DataFrame:
        """Instrument ``df`` as stage ``name``: always records ``n_rows``,
        plus any caller-named aggregate expressions. Returns the observed
        DataFrame (use it in place of ``df`` downstream — observations
        attach to the returned plan node, not to ``df``)."""
        if name in self._stages:
            raise ValueError(f"duplicate manifest stage: {name}")
        obs = Observation(f"{self.run_id}/{name}")
        self._stages[name] = obs
        named = [F.count(F.lit(1)).alias("n_rows")]
        named += [c.alias(k) for k, c in metrics.items()]
        return df.observe(obs, *named)

    def report(self) -> dict[str, Any]:
        """The manifest as a plain dict (JSON-ready). Call AFTER the
        run's action; stages the action never executed are reported as
        uncollected instead of blocking."""
        out: dict[str, Any] = {"run_id": self.run_id, "stages": {}}
        for name, obs in self._stages.items():
            # Observation.get blocks until metrics arrive; probe the JVM
            # Observation's getRowOrEmpty (an Option — py4j-safe, unlike
            # getOrEmpty's Scala Map) so a never-executed stage reports
            # uncollected instead of hanging. If the probe itself is
            # unavailable (Spark Connect has no _jo; the private method
            # may be renamed), collected stays None ("unknown") and the
            # blocking get is SKIPPED — never block on a stage we cannot
            # prove has executed (the no-hang promise outranks metric
            # completeness on an exotic runtime).
            collected: bool | None = None
            try:
                collected = (
                    obs._jo is not None and not obs._jo.getRowOrEmpty().isEmpty()
                )
            except Exception:
                collected = None  # probe unavailable: report unknown
            metrics = dict(obs.get) if collected else {}
            out["stages"][name] = {"collected": collected, **metrics}
        if self._key_profiles:
            out["key_profiles"] = dict(self._key_profiles)
        return out


def validity_metrics(prefix: str = "") -> dict[str, Column]:
    """The standard cleaned-table metric set: invalid-flag tallies that
    mirror the reference's per-table warning logs (V7)."""
    flag = lambda c: F.sum((~F.col(c)).cast("long"))  # noqa: E731
    return {
        f"{prefix}invalid_ssn": flag("ssn_valid"),
        f"{prefix}invalid_amount": flag("amount_valid"),
        f"{prefix}invalid_date": flag("date_valid"),
        f"{prefix}invalid_1099r_code": flag("code_1099r_valid"),
    }


def instrumented_engine_a(
    spark, sf_dir: str, run_id: str = "engine_a"
) -> tuple[DataFrame, RunManifest]:
    """Engine A end-to-end with a full audit manifest: raw row counts,
    cleaned counts + validity tallies, match-status mix, and the
    correction deliverable's action mix — all collected by the caller's
    single sink action."""
    from ..engines import match_planid
    from ..operators import cleaning
    from ..sources import fixtures
    from . import corrections as corr

    m = RunManifest(run_id)
    relius_raw = m.stage(fixtures.relius_raw(spark, sf_dir), "relius_raw")
    matrix_raw = m.stage(fixtures.matrix_raw(spark, sf_dir), "matrix_raw")
    relius = m.stage(
        cleaning.clean_relius(relius_raw), "relius_clean", **validity_metrics()
    )
    matrix = m.stage(
        cleaning.clean_matrix(matrix_raw), "matrix_clean", **validity_metrics()
    )
    matched = m.stage(
        match_planid.reconcile_relius_matrix(relius, matrix),
        "engine_a",
        n_needs_correction=F.sum(
            (F.col("match_status") == "match_needs_correction").cast("long")
        ),
        n_unmatched=F.sum(
            F.col("match_status").isin("unmatched_relius", "unmatched_matrix")
            .cast("long")
        ),
    )
    out = m.stage(
        # sort=False: the global range sort's sampling pass would
        # re-execute the plan above the join exchange and double every
        # upstream observation (see build_correction_df docstring)
        corr.build_correction_df(matched, sort=False),
        "corrections",
        n_update_1099=F.sum((F.col("Action") == "UPDATE_1099").cast("long")),
        n_investigate=F.sum((F.col("Action") == "INVESTIGATE").cast("long")),
    )
    return out, m


# --- hot-key probe (VERDICT r8 task #7) ---------------------------------------

#: AQE's own skew convention: a partition is skewed at 5x the median
#: (spark.sql.adaptive.skewJoin.skewedPartitionFactor default). The probe
#: applies the same factor to KEYS: a key is bot-grade when it alone
#: holds more rows than ``skew_factor`` ideal hash partitions would —
#: the regime where a keyed AGGREGATION (session_window, groupBy) gets a
#: straggler task that AQE's join-only skew logic never splits
#: (measured: tools/skew_graded.py / SCALING.md round-8 skew study).
SKEW_FACTOR = 5.0


def key_profile(
    df: DataFrame,
    key: str,
    *,
    skew_factor: float = SKEW_FACTOR,
    partitions: int | None = None,
) -> dict[str, Any]:
    """Hot-key profile of ``df[key]`` — the measured basis for choosing
    the skew-proof twin of a keyed lineage (``sessionize_bucketed`` vs
    ``sessionize``; salted vs plain aggregation).

    Unlike :meth:`RunManifest.stage` metrics this launches ONE bounded
    probe job (a per-key count cannot ride an Observation): a map-side-
    combinable ``groupBy(key).count()`` over the single pruned column,
    reduced to four scalars — the same shape as
    ``tools/skew_graded.py``'s organic profile, now callable inside a
    run. Cost is one pass over one column; run it on a sample or on
    yesterday's partition if even that is too much.

    Returns ``rows / keys / top_key / top_rows / top_share /
    skew_ratio / skewed`` where ``skew_ratio`` is top-key rows over the
    ideal per-partition row count (``rows / partitions``) and ``skewed``
    is ``skew_ratio > skew_factor``.
    """
    spark = df.sparkSession
    if partitions is None:
        partitions = shuffle_partitions(spark)
    top = (
        df.groupBy(key)
        .count()
        .agg(
            F.sum("count").alias("rows"),
            F.count(F.lit(1)).alias("keys"),
            F.max(F.struct("count", F.col(key).alias("k"))).alias("top"),
        )
        .first()
    )
    if not top or top["rows"] is None:
        return {"key": key, "rows": 0, "keys": 0, "skewed": False}
    rows, keys = top["rows"], top["keys"]
    top_rows = top["top"]["count"]
    ideal = rows / max(partitions, 1)
    ratio = top_rows / ideal if ideal else 0.0
    return {
        "key": key,
        "rows": rows,
        "keys": keys,
        "top_key": top["top"]["k"],
        "top_rows": top_rows,
        "top_share": round(top_rows / rows, 4),
        "partitions": partitions,
        "skew_ratio": round(ratio, 2),
        "skewed": bool(ratio > skew_factor),
    }
