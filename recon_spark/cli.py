"""End-to-end CLI: fixtures -> cleaners -> Engine A -> correction file.

Parity target: ``python -m src.outputs.build_correction_file``
(/root/reference/src/outputs/build_correction_file.py:367-420) — the
reference's primary deliverable. Spark-era differences: inputs are parquet
(either the four canonical raw tables, or the TPC-H-derived fixtures when
given a testdata sf dir), the sink is a ``partitionBy`` parquet/csv write,
and the date filter accepts the full F2 config surface (month names,
"all", range sanity).

Usage::

    python -m recon_spark.cli --sf-dir /root/testdata/sf0.001 --out /tmp/corr
    python -m recon_spark.cli --sf-dir ... --plan-ids 300004PLAT,300004MBD \\
        --date-start 2025-01-01 --date-end 2025-12-31 --months Jan,feb,3 \\
        --format csv --cpus 8
"""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="recon_spark",
        description="Run the inherited-plan reconciliation and write the correction file.",
    )
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001", help="testdata scale dir")
    p.add_argument(
        "--relius", default=None, metavar="PATH",
        help="raw Relius export (.xlsx/.parquet/.csv); default: seeded sample from --sf-dir",
    )
    p.add_argument("--matrix", default=None, metavar="PATH", help="raw Matrix export")
    p.add_argument("--demo", default=None, metavar="PATH", help="raw demographics export")
    p.add_argument("--roth-basis", default=None, metavar="PATH", help="raw Roth basis extract")
    p.add_argument(
        "--input-format", default="auto", choices=["auto", "parquet", "csv", "xlsx"],
        help="format of the --relius/--matrix/--demo/--roth-basis paths "
        "(auto: by extension)",
    )
    p.add_argument("--out", default="/tmp/recon_spark_corrections", help="output path")
    p.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    p.add_argument(
        "--engine", default="a", choices=["a", "b", "c", "d"],
        help="a: inherited-plan reconciliation (default), b: age tax-code audit, "
        "c: Roth taxable analysis, d: IRA rollover audit",
    )
    p.add_argument("--plan-ids", default=None, help="comma-separated plan scope (default: inherited plans)")
    p.add_argument("--date-start", default=None)
    p.add_argument("--date-end", default=None)
    p.add_argument("--months", default="all", help="month names/numbers, comma-separated, or 'all'")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--no-business-rules", action="store_true")
    p.add_argument(
        "--figures", default=None, metavar="DIR",
        help="write the engine's figure SPECS (plans/figures.py — the "
        "ported plot_* layer) as JSON files under DIR, one per figure; "
        "render with plans.figures.render_figure where matplotlib exists",
    )
    p.add_argument(
        "--manifest", default=None, metavar="PATH",
        help="write a run-manifest JSON (per-stage row counts, validity "
        "tallies, action mix) collected via df.observe — no extra jobs. "
        "Disables the global output sort (its range-sampling pass would "
        "double-count upstream metrics); files are sorted within "
        "partitions instead.",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from .engines import age_taxcode, ira_rollover, match_planid, roth_taxable
    from .functions.dateconfig import DateFilterConfig
    from .operators import cleaning
    from .plans.corrections import build_correction_df
    from .session import get_spark
    from .sources import fixtures, load
    from .sources.sinks import write_correction_file

    spark = get_spark("recon_spark_cli", cpus=args.cpus)

    from .plans import manifest as manifest_mod

    mf = manifest_mod.RunManifest(f"cli-engine-{args.engine}") if args.manifest else None

    def obs(df, name, **metrics):
        return mf.stage(df, name, **metrics) if mf else df

    date_filter = DateFilterConfig(
        date_start=args.date_start,
        date_end=args.date_end,
        months=[m for m in args.months.split(",") if m] if args.months else "all",
    )
    plan_ids = [p.strip() for p in args.plan_ids.split(",")] if args.plan_ids else None

    def fmt_for(path: str) -> str:
        if args.input_format != "auto":
            return args.input_format
        return "xlsx" if path.endswith(".xlsx") else ("csv" if path.endswith(".csv") else "parquet")

    def raw(path, loader, sample_fn):
        """Explicit export path (any supported format, xlsx included) or
        the seeded --sf-dir sample — reference load_data.py path/sample
        duality."""
        if path is None:
            return sample_fn(spark, args.sf_dir)
        return loader(spark, path, fmt=fmt_for(path))

    vm = manifest_mod.validity_metrics if mf else (lambda: {})
    matrix = obs(
        cleaning.clean_matrix(raw(args.matrix, load.load_matrix, fixtures.matrix_raw)),
        "matrix_clean",
        **vm(),
    )
    if args.engine == "a":
        relius = obs(
            cleaning.clean_relius(
                raw(args.relius, load.load_relius, fixtures.relius_raw)
            ),
            "relius_clean",
            **vm(),
        )
        matched = match_planid.reconcile_relius_matrix(
            relius,
            matrix,
            plan_ids=plan_ids,
            apply_business_rules=not args.no_business_rules,
            date_filter=date_filter,
        )
    elif args.engine == "b":
        demo = obs(
            cleaning.clean_relius_demo(
                raw(args.demo, load.load_relius_demo, fixtures.relius_demo_raw)
            ),
            "demo_clean",
            **vm(),
        )
        matched = age_taxcode.run_age_taxcode_analysis(matrix, demo, date_filter=date_filter)
    elif args.engine == "c":
        demo = obs(
            cleaning.clean_relius_demo(
                raw(args.demo, load.load_relius_demo, fixtures.relius_demo_raw)
            ),
            "demo_clean",
            **vm(),
        )
        basis = obs(
            cleaning.clean_roth_basis(
                raw(args.roth_basis, load.load_roth_basis, fixtures.roth_basis_raw)
            ),
            "basis_clean",
            **vm(),
        )
        matched = roth_taxable.run_roth_taxable_analysis(
            matrix, demo, basis, date_filter=date_filter
        )
    else:
        matched = ira_rollover.run_ira_rollover_analysis(matrix, date_filter=date_filter)
    from pyspark.sql import functions as F

    engine_metrics = (
        {"n_actionable": F.sum(F.col("action").isNotNull().cast("long"))}
        if "action" in matched.columns
        else {}
    )
    if args.figures:
        # figures run their own aggregate actions over the engine output;
        # build them from the PRE-observation frame so those extra
        # executions cannot re-fire (and double-count) manifest metrics
        from .plans import figures as figures_mod

        for p_ in figures_mod.write_figure_specs(
            args.engine, matched, args.figures
        ):
            print(f"Figure spec written to: {p_}")
    matched = obs(matched, "engine_output", **engine_metrics)
    if mf:
        # the D4 global sort's range-sampling pass would re-execute every
        # stage above the last shuffle and double all observed counts;
        # keep files readable via a within-partition sort instead
        corrections = build_correction_df(matched, sort=False).sortWithinPartitions(
            "Matrix Account", "Participant SSN", "Transaction Date"
        )
        corrections = obs(
            corrections,
            "corrections",
            n_update_1099=F.sum((F.col("Action") == "UPDATE_1099").cast("long")),
            n_investigate=F.sum((F.col("Action") == "INVESTIGATE").cast("long")),
        )
    else:
        corrections = build_correction_df(matched)
    # cache: the count action and the partitioned write both consume it
    corrections = corrections.persist()
    total = corrections.count()
    path = write_correction_file(corrections, args.out, fmt=args.format)
    corrections.unpersist()

    print(f"Corrections written to: {path}")
    print(f"Total corrections: {total}")
    if mf:
        import json

        report = mf.report()
        with open(args.manifest, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"Run manifest written to: {args.manifest}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
