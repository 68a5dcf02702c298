"""Engine A over bucketed clean tables: the deployment shape where the
cleaners' output is persisted bucketed by the match key and every
downstream reconciliation run joins WITHOUT shuffling either side."""

import contextlib
import io

from pyspark.sql import functions as F

from recon_spark.engines import match_planid
from recon_spark.operators import partitioning as P
from recon_spark.registry import _lazy_clean_tables, clean_tables

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_engine_a_exchange_free_over_bucketed_cleans(spark, tmp_path):
    # the lazy lineage: this test writes its OWN bucketed tables to
    # exercise write_bucketed end-to-end (the clean_tables path is
    # covered by test_clean_tables_materialized_* below)
    t = _lazy_clean_tables(spark, SF)
    # Bucket by the STRING key prefix (plan_id, ssn), not the full 3-part
    # join key: gross_amt is DOUBLE, and Spark's NormalizeFloatingNumbers
    # rewrites float join keys, which makes the planner disable bucketed
    # scans ("Bucketed: false (disabled by query planner)"). Hash
    # partitioning on a subset of the join keys still co-locates the join,
    # so bucketing by the string prefix gives the exchange-free plan.
    keys = ["plan_id", "ssn"]
    P.write_bucketed(t["relius"], "b_relius", keys, buckets=8,
                     sort_by=keys, path=str(tmp_path / "r"))
    P.write_bucketed(t["matrix"], "b_matrix", keys, buckets=8,
                     sort_by=keys, path=str(tmp_path / "m"))
    try:
        out = match_planid.reconcile_relius_matrix(
            spark.table("b_relius"), spark.table("b_matrix")
        )
        plan = _plan(out)
        assert "Exchange" not in plan, plan

        # result parity with the unbucketed run
        base = match_planid.reconcile_relius_matrix(t["relius"], t["matrix"])
        cols = ["plan_id", "ssn", "gross_amt", "match_status", "new_tax_code"]
        got = sorted(map(tuple, out.select(*cols).collect()))
        want = sorted(map(tuple, base.select(*cols).collect()))
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS b_relius")
        spark.sql("DROP TABLE IF EXISTS b_matrix")


def test_engine_a_reuses_cleaner_exchanges_unbucketed(spark):
    """Round-5 guard: the cleaners' dedup partitions on the (plan_id,
    ssn) PREFIX of the match keys, so even WITHOUT bucketing Engine A's
    3-key full-outer SMJ must add no exchange of its own — exactly one
    hash exchange per cleaned side (subset partitioning satisfies the
    superset clustering requirement)."""
    t = _lazy_clean_tables(spark, SF)
    out = match_planid.reconcile_relius_matrix(t["relius"], t["matrix"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    hashex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashex) == 2, plan
    for spec in hashex:
        assert spec.startswith("plan_id"), spec  # the cleaners' prefix key


def test_engine_c_window_reuses_matrix_exchange(spark):
    """Round-5 guard: Engine C's participant window (A1) must ride the
    matrix cleaner's (plan_id, ssn) exchange — three hash exchanges total
    (one per cleaned input), none introduced by the engine itself."""
    from recon_spark.engines import roth_taxable

    t = _lazy_clean_tables(spark, SF)
    out = roth_taxable.run_roth_taxable_analysis(t["matrix"], t["demo"], t["basis"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    hashex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashex) == 3, plan


def test_clean_tables_materialized_matches_lazy_and_is_exchange_free(spark):
    """The default clean_tables() path: bucketed clean-once tables must be
    value-identical to the lazy lineage AND give Engine A an
    exchange-free plan (the deployment shape is now the DEFAULT shape,
    not just a test artifact)."""
    lazy = _lazy_clean_tables(spark, SF)
    mat = clean_tables(spark, SF)

    # value parity on every table (arrays joined for hashable tuples)
    for name in ("relius", "matrix", "demo", "basis"):
        cols = [c for c in lazy[name].columns if c != "validation_issues"]
        a = sorted(map(tuple, lazy[name].select(*cols).collect()))
        b = sorted(map(tuple, mat[name].select(*cols).collect()))
        assert a == b, f"{name}: materialized != lazy"

    # Engine A over the materialized tables: no Exchange anywhere
    out = match_planid.reconcile_relius_matrix(mat["relius"], mat["matrix"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
