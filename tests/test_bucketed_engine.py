"""Engine A over bucketed clean tables: the deployment shape where the
cleaners' output is persisted bucketed by the match key and every
downstream reconciliation run joins WITHOUT shuffling either side."""

import contextlib
import io

from pyspark.sql import functions as F

from recon_spark.engines import match_planid
from recon_spark.operators import partitioning as P
from recon_spark.registry import _lazy_clean_tables, clean_tables
from recon_spark.session import shuffle_partitions

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


def test_bucket_count_follows_input_bytes():
    """One bucket per MiB of the largest raw input, at least one, at most
    the shuffle partition count: 0.40 MB (matrix_raw at sf0.01) gives 1,
    3.75 MB (sf0.1) gives 4."""
    mib = 2**20
    assert P.bucket_count(0, 8, mib) == 1
    assert P.bucket_count(400_000, 8, mib) == 1
    assert P.bucket_count(3_750_000, 8, mib) == 4
    assert P.bucket_count(37_500_000, 32, mib) == 32
    assert P.bucket_count(3_750_000, 2, mib) == 2

    class _Conf:
        def get(self, k):
            return "auto"

    class _SC:
        defaultParallelism = 3

    class _Auto:
        conf = _Conf()
        sparkContext = _SC()

    assert P.bucket_count(3_750_000, shuffle_partitions(_Auto()), mib) == 3
    assert P.bucket_count(400_000, shuffle_partitions(_Auto()), mib) == 1


def _num_buckets(spark, df) -> int:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    table = leaves.apply(0).catalogTable().get().identifier().unquotedString()
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def test_clean_tables_share_one_bucket_count(spark):
    """All four clean tables carry the same bucket count (Engine A's join
    is co-partitioned only then), sized from the raw input: sf0.001's
    inputs are far below 1 MiB, so one bucket."""
    counts = {name: _num_buckets(spark, df) for name, df in clean_tables(spark, SF).items()}
    assert counts == dict.fromkeys(("relius", "matrix", "demo", "basis"), 1), counts


def test_engines_same_rows_at_1_and_4_buckets(spark, tmp_path):
    """Engine A and Engine C rows do not depend on the clean-once
    layout's bucket count."""
    from recon_spark.engines import roth_taxable

    t = _lazy_clean_tables(spark, SF)
    keys = ["plan_id", "ssn"]

    def rows(df):
        return sorted(map(repr, df.collect()))

    out = {}
    try:
        for n in (1, 4):
            b = {}
            for name, df in t.items():
                table = f"nb{n}_{name}"
                P.write_bucketed(df, table, keys, buckets=n, sort_by=keys,
                                 path=str(tmp_path / table))
                b[name] = spark.table(table)
            out[n] = (
                rows(match_planid.reconcile_relius_matrix(b["relius"], b["matrix"])),
                rows(roth_taxable.run_roth_taxable_analysis(b["matrix"], b["demo"], b["basis"])),
            )
    finally:
        for n in (1, 4):
            for name in t:
                spark.sql(f"DROP TABLE IF EXISTS nb{n}_{name}")
    assert out[1][0] == out[4][0]
    assert out[1][1] == out[4][1]
    assert out[1][0] and out[1][1]
