"""Dump ``explain('formatted')`` for named bench/registry queries into
``plans/r14/<query>_<tag>.txt`` — the round-14 optimization evidence
(OPTIMIZATION_r14.md cites these files as the plan-diff anchors).

Usage: python tools/r14_plans.py <tag> <query> [<query> ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from bench import EXTRA_QUERIES
    from recon_spark import staging
    from recon_spark.registry import QUERIES
    from recon_spark.session import get_spark

    spark = get_spark("r14_plans", cpus=8)
    os.makedirs("plans/r14", exist_ok=True)
    for name in names:
        fn = QUERIES.get(name) or EXTRA_QUERIES[name]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = f"plans/r14/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(path, len(buf.getvalue().splitlines()), "lines")
        spark.catalog.clearCache()
        staging.release_staged()
    spark.stop()


if __name__ == "__main__":
    main()
