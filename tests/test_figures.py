"""Figure layer (plans/figures.py): all 19 reference ``plot_*``
counterparts produce well-formed specs from the real engine outputs at
sf0.001, the load-bearing semantics (ordering, percent math, validation
errors, empty fallbacks, reference lines) mirror the reference plots,
and the renderer is correctly gated on matplotlib's absence."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from recon_spark.plans import figures as G
from recon_spark.registry import _lazy_engine_output

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engines(spark):
    return {
        f"engine_{e}": _lazy_engine_output(spark, SF_DIR, f"engine_{e}").persist()
        for e in G.ENGINE_FIGURES
    }


def _engine_for(name: str) -> str:
    if "roth" in name or name == "plot_taxable_delta_distribution":
        return "engine_c"
    if "ira" in name:
        return "engine_d"
    if name in (
        "plot_age_taxcode_kpi_summary",
        "plot_term_date_correction_rates",
        "plot_correction_reason_crosstab",
        "plot_corrections_over_time",
        "plot_mistake_breakdown",
    ):
        return "engine_b"
    return "engine_a"


def test_all_19_figures_build_and_serialize(spark, engines):
    """Every reference plot name has a builder; every spec produced from
    the real sf0.001 engine outputs is JSON-serializable, carries a
    title + kind, and non-empty specs have aligned categories/series."""
    assert len(G.ALL_FIGURES) == 19
    for name, fn in G.ALL_FIGURES.items():
        spec = fn(engines[_engine_for(name)])
        json.dumps(spec)  # a spec must be a plain-data chart description
        assert spec["title"], name
        assert spec["kind"] in ("bar", "barh", "line", "dual_axis",
                                "heatmap", "panel"), name
        if spec.get("empty"):
            continue
        panels = spec["panels"] if spec["kind"] == "panel" else [spec]
        for p in panels:
            n = len(p["categories"])
            assert n > 0, name
            for s in p["series"]:
                assert len(s["values"]) == n, (name, s["name"])
            if "annotations" in p:
                assert len(p["annotations"]) == n, name


def test_kpi_percent_math_and_order(spark, engines):
    """KPI spec mirrors the reference exactly: declared group order,
    percents of ALL rows, '{pct:.1f}% ({count})' annotations."""
    spec = G.fig_match_kpi_summary(engines["engine_a"])
    assert spec["categories"] == [g for g, _ in G.MATCH_STATUS_GROUPS]
    total = engines["engine_a"].count()
    by_status = {
        r["match_status"]: r["n"]
        for r in engines["engine_a"].groupBy("match_status").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    for i, (label, status) in enumerate(G.MATCH_STATUS_GROUPS):
        n = by_status.get(status, 0)
        assert spec["series"][0]["values"][i] == pytest.approx(100.0 * n / total)
        assert spec["annotations"][i].endswith(f"({n})")


def test_date_lag_has_tolerance_ref_line(spark, engines):
    spec = G.fig_date_lag_distribution(engines["engine_a"])
    if not spec.get("empty"):
        assert spec["ref_lines"] == [
            {"axis": "x", "value": G.MAX_DATE_LAG_DAYS, "label": "Max tolerance"}
        ]
        # histogram sums to the expected-matched row count
        expected = engines["engine_a"].filter(
            ~F.col("match_status").isin("unmatched_relius", "unmatched_matrix")
        ).count()
        assert sum(spec["series"][0]["values"]) == expected


def test_validation_mirrors_reference(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="Missing required columns"):
        G.fig_match_kpi_summary(df)


def test_strict_date_builds_raise_on_null_txn_date(spark):
    df = spark.createDataFrame(
        [("match_needs_correction", None)],
        "match_status string, txn_date date",
    )
    with pytest.raises(ValueError, match="missing or malformed txn_date"):
        G.fig_ira_correction_counts(df)


def test_empty_fallbacks(spark):
    empty = spark.createDataFrame(
        [], "match_status string, term_date date, tax_code_1 string, "
            "correction_reason string, txn_date date",
    )
    spec = G.fig_age_taxcode_kpi_summary(empty)
    assert spec["empty"] and spec["message"] == G.NO_DATA
    spec = G.fig_mistake_breakdown(empty)
    assert spec["empty"] and spec["message"] == "No corrections to display"


def test_reason_summary_counts_desc_with_pct_of_instances(spark):
    df = spark.createDataFrame(
        [
            ("match_needs_correction", "A"),
            ("match_needs_correction", "A"),
            ("match_needs_correction", "B"),
            ("match_no_action", "C"),       # out of scope
            # fillna'd to 'Unknown' and counted, like the reference's
            # build_correction_reason_summary (:279)
            ("match_needs_correction", None),
        ],
        "match_status string, correction_reason string",
    )
    spec = G.fig_correction_reason_summary(df)
    assert spec["categories"] == ["A", "B", "Unknown"]
    assert spec["series"][0]["values"] == [2, 1, 1]
    assert spec["annotations"] == ["2 (50.0%)", "1 (25.0%)", "1 (25.0%)"]


def test_roth_crosstab_excludes_rows_without_suggestion(spark):
    df = spark.createDataFrame(
        [
            ("match_needs_correction", "7", None, "B", None),
            ("match_needs_correction", None, None, "4", "G"),
            ("match_needs_correction", "7", None, None, None),  # no suggestion
            ("match_no_action", "7", None, "B", None),          # out of scope
        ],
        "match_status string, tax_code_1 string, tax_code_2 string, "
        "suggested_tax_code_1 string, suggested_tax_code_2 string",
    )
    spec = G.fig_roth_tax_code_crosstab(df)
    assert spec["rows"] == ["7", "Unknown"]
    assert spec["categories"] == ["4G", "B"]
    cells = {s["name"]: s["values"] for s in spec["series"]}
    assert cells["7"] == [0, 1] and cells["Unknown"] == [1, 0]


def test_render_is_gated_on_matplotlib(spark, engines):
    spec = G.fig_match_kpi_summary(engines["engine_a"])
    try:
        import matplotlib  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="presentation adapter"):
            G.render_figure(spec)
    else:  # pragma: no cover - container has no matplotlib
        fig = G.render_figure(spec)
        assert fig is not None


def test_engine_figure_groups_cover_all_19():
    groups = [n for names in G.ENGINE_FIGURES.values() for n in names]
    assert sorted(groups) == sorted(G.ALL_FIGURES)


# --- golden snapshots (VERDICT r8 #3) -----------------------------------------


def test_figure_specs_match_committed_goldens(spark, engines):
    """Every live spec over the seeded sf0.001 engine outputs equals its
    committed golden byte-for-byte (tools/regen_figure_goldens.py) — so
    percent-math / annotation / ordering drift the structural checks
    would tolerate shows up as a reviewable golden diff."""
    import os

    golden_dir = os.path.join(os.path.dirname(__file__), "goldens", "figures")
    for eng, names in G.ENGINE_FIGURES.items():
        df = engines[f"engine_{eng}"]
        for name in names:
            with open(os.path.join(golden_dir, f"{name}.json")) as fh:
                golden = json.load(fh)
            live = json.loads(json.dumps(G.ALL_FIGURES[name](df)))
            assert live == golden, f"{name} drifted from its golden"


# --- renderer adapter via fake-matplotlib shim (VERDICT r8 #4) ----------------


class _FakeAxes:
    """Recorder standing in for a matplotlib Axes: every method call is
    appended to ``calls`` as (name, args, kwargs); ``twinx`` hands back a
    second recorder so the dual-axis branch is observable."""

    def __init__(self):
        self.calls = []
        self.twin = None

    def twinx(self):
        self.twin = _FakeAxes()
        self.calls.append(("twinx", (), {}))
        return self.twin

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)

        def record(*args, **kwargs):
            self.calls.append((name, args, kwargs))

        return record

    def named(self, *names):
        return [c for c in self.calls if c[0] in names]


class _FakeFig:
    def __init__(self):
        self.calls = []

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)

        def record(*args, **kwargs):
            self.calls.append((name, args, kwargs))

        return record


@pytest.fixture()
def fake_mpl(monkeypatch):
    """Install fake ``matplotlib``/``matplotlib.pyplot`` modules so
    ``render_figure``'s body actually executes in this container; yields
    the list of (fig, axes) pairs subplots produced."""
    import sys
    import types

    made = []

    def subplots(*args, **kwargs):
        fig = _FakeFig()
        if args and args[0] == 1 and len(args) > 1:  # (1, n) panel form
            axes = [_FakeAxes() for _ in range(args[1])]
            made.append((fig, axes))
            return fig, axes
        ax = _FakeAxes()
        made.append((fig, [ax]))
        return fig, ax

    mpl = types.ModuleType("matplotlib")
    plt = types.ModuleType("matplotlib.pyplot")
    plt.subplots = subplots
    mpl.pyplot = plt
    monkeypatch.setitem(sys.modules, "matplotlib", mpl)
    monkeypatch.setitem(sys.modules, "matplotlib.pyplot", plt)
    return made


def test_render_barh_branch(fake_mpl):
    spec = {
        "kind": "barh", "title": "T", "x_label": "X", "y_label": "Y",
        "categories": ["a", "b"], "series": [{"name": "n", "values": [1, 2]}],
        "annotations": ["1 (33%)", "2 (66%)"],
        "ref_lines": [{"axis": "x", "value": 5, "label": "max"}],
    }
    fig = G.render_figure(spec)
    assert fig is fake_mpl[0][0]
    ax = fake_mpl[0][1][0]
    # reference draws barh top-down: categories and values reversed
    (_, args, _), = ax.named("barh")
    assert args == (["b", "a"], [2, 1])
    texts = [a for _, a, _ in ax.named("text")]
    assert texts == [(2, 0, " 2 (66%)"), (1, 1, " 1 (33%)")]
    (_, args, kw), = ax.named("axvline")
    assert args == (5,) and kw["label"] == "max"
    assert ("set_title", ("T",), {}) in ax.calls
    assert ("set_xlabel", ("X",), {}) in ax.calls
    assert ("set_ylabel", ("Y",), {}) in ax.calls


def test_render_bar_branch_stringifies_categories(fake_mpl):
    spec = {
        "kind": "bar", "title": "T", "categories": [1, 2],
        "series": [{"name": "n", "values": [3, 4]}],
        "annotations": ["3", "4"],
    }
    G.render_figure(spec)
    ax = fake_mpl[0][1][0]
    (_, args, _), = ax.named("bar")
    assert args == (["1", "2"], [3, 4])
    assert [a for _, a, _ in ax.named("text")] == [(0, 3, "3"), (1, 4, "4")]


def test_render_dual_axis_routes_series(fake_mpl):
    spec = {
        "kind": "dual_axis", "title": "T", "categories": ["m1", "m2"],
        "series": [
            {"name": "count", "values": [10, 20], "axis": "left"},
            {"name": "rate", "values": [0.1, 0.2], "axis": "right"},
        ],
    }
    G.render_figure(spec)
    ax = fake_mpl[0][1][0]
    assert ax.twin is not None
    # left series -> bars on the primary axis, right -> line on the twin
    (_, args, _), = ax.named("bar")
    assert args == (["m1", "m2"], [10, 20])
    (_, args, kw), = ax.twin.named("plot")
    assert args == (["m1", "m2"], [0.1, 0.2]) and kw["label"] == "rate"
    assert ax.named("legend")


def test_render_line_and_heatmap_branches(fake_mpl):
    G.render_figure({
        "kind": "line", "title": "T", "categories": ["a"],
        "series": [{"name": "s", "values": [1]}],
    })
    ax = fake_mpl[0][1][0]
    (_, args, _), = ax.named("plot")
    assert args == (["a"], [1])

    G.render_figure({
        "kind": "heatmap", "title": "H", "categories": ["c1", "c2"],
        "rows": ["r1"], "series": [{"name": "r1", "values": [1, 2]}],
    })
    hax = fake_mpl[1][1][0]
    (_, args, kw), = hax.named("imshow")
    assert args[0].tolist() == [[1, 2]] and kw["cmap"] == "Blues"
    assert hax.named("set_xticks") and hax.named("set_yticks")


def test_render_panel_and_empty_branches(fake_mpl):
    spec = {
        "kind": "panel", "title": "P",
        "panels": [
            {"kind": "bar", "title": "p1", "categories": ["a"],
             "series": [{"name": "s", "values": [1]}]},
            {"kind": "bar", "title": "p2", "empty": True, "message": "nope"},
        ],
    }
    fig = G.render_figure(spec)
    fig_rec, axes = fake_mpl[0]
    assert fig is fig_rec and len(axes) == 2
    assert ("tight_layout", (), {}) in fig_rec.calls
    assert axes[0].named("bar")
    # empty sub-panel: message text + axis off, nothing plotted
    (_, args, kw), = axes[1].named("text")
    assert args == (0.5, 0.5, "nope")
    assert axes[1].named("set_axis_off") and not axes[1].named("bar")
