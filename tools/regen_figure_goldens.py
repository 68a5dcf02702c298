"""Regenerate the committed figure-spec goldens (VERDICT r8 task #3).

Builds all 19 figure specs from the REAL engine outputs over the seeded
sf0.001 corpus — everything upstream is deterministic (driver parquet +
md5-coin fixtures + Column algebra), so the specs are byte-stable — and
writes one JSON per figure to ``tests/goldens/figures/``.

``tests/test_figures.py::test_figure_specs_match_committed_goldens``
compares every live spec against these files; a drift in percent math,
annotation formatting, category ordering, or empty-fallback behavior
shows up as a reviewable golden diff instead of passing the structural
checks silently.

Run after intentionally changing figure semantics::

    python tools/regen_figure_goldens.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
GOLDEN_DIR = os.path.join(REPO, "tests", "goldens", "figures")


def build_all_specs(spark) -> dict[str, dict]:
    """name -> spec for all 19 figures over the sf0.001 engine outputs."""
    from recon_spark.plans import figures as G
    from recon_spark.registry import _lazy_engine_output

    specs: dict[str, dict] = {}
    for eng, names in G.ENGINE_FIGURES.items():
        df = _lazy_engine_output(spark, SF_DIR, f"engine_{eng}").persist()
        try:
            for name in names:
                specs[name] = G.ALL_FIGURES[name](df)
        finally:
            df.unpersist()
    return specs


def main() -> None:
    from recon_spark.session import get_spark

    spark = get_spark("figure-goldens", cpus=8)
    specs = build_all_specs(spark)
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for name, spec in specs.items():
        path = os.path.join(GOLDEN_DIR, f"{name}.json")
        with open(path, "w") as fh:
            json.dump(spec, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {os.path.relpath(path, REPO)}")
    print(f"{len(specs)} goldens regenerated")


if __name__ == "__main__":
    main()
