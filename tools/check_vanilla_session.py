"""Pre-driver guard: run every registered query on a VANILLA
SparkSession — none of recon_spark.session.get_spark's tuned confs — and
row-count-compare against the DuckDB oracles.

Why it exists: the grading driver supplies its own session, so any
hidden dependency on our session factory (the unionOutputPartitioning
correctness pin, subset co-partitioning, constraint-propagation/codegen
knobs) would pass every local check and fail only in the driver's run.
The per-query `_with_session_hygiene` wrapper (recon_spark.registry)
exists for exactly that gap; this tool proves the whole surface executes
and row-counts correctly without our factory. Value-level compare is
`tools/check_correctness.py`'s job.

It also checks the cache contract: after each query,
``staging.release_staged()`` must free every persisted RDD the query
left behind, so a following ``clearCache()`` finds nothing more to drop
(a grading session need not call ``clearCache`` at all).

Usage: python tools/check_vanilla_session.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as E

    from recon_spark import staging
    from recon_spark.oracles import duckdb_oracle

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("vanilla-check")
        # the two confs a grading harness realistically sets itself;
        # everything recon-specific is deliberately absent
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs, oracles = E.queries(), E.oracle_sql()
    jsc = spark.sparkContext._jsc
    fails = leaks = 0
    for nm, fn in qs.items():
        try:
            n_spark = len(fn(spark, sf_dir).collect())
            con = duckdb_oracle(spark, sf_dir)
            n_oracle = len(con.execute(oracles[nm]).fetchall())
            con.close()
            if n_spark != n_oracle:
                fails += 1
                print(f"ROWS MISMATCH {nm}: {n_spark} vs {n_oracle}")
        except Exception as ex:  # noqa: BLE001
            fails += 1
            msg = str(ex).splitlines()[0][:200]
            print(f"ERROR {nm}: {type(ex).__name__}: {msg}")
        finally:
            staging.release_staged()
            after_release = jsc.getPersistentRDDs().size()
            spark.catalog.clearCache()
            left = after_release - jsc.getPersistentRDDs().size()
            if left:
                leaks += 1
                print(f"LEDGER LEAK {nm}: {left} persisted RDDs outlive release_staged()")
    print(
        f"vanilla-session check: {fails} failures, {leaks} ledger leaks "
        f"/ {len(qs)} queries"
    )
    sys.exit(1 if fails or leaks else 0)


if __name__ == "__main__":
    main()
