"""Count-Min sketch (operators/sketches.cm_*, r14): exactness without
collisions, the never-undercount guarantee under forced collisions,
EXACT partition invariance (the property that makes this sketch
oracle-gradable), lossless merge, weighted counts, null skipping, and
DuckDB differential fuzz through the graded CTEs."""

from __future__ import annotations

import random

import duckdb

from pyspark.sql import functions as F

from recon_spark import staging
from recon_spark.operators import sketches as SK


def _cells(df, **kw):
    out = sorted(
        (r.row, r.bucket, r.cnt) for r in SK.cm_cells(df, "item", **kw).collect()
    )
    staging.release_staged()
    return out


def _items_df(spark, items, n_parts=4):
    return spark.createDataFrame(
        [(i, it) for i, it in enumerate(items)], "i long, item string"
    ).repartition(n_parts)


def test_exact_when_wide(spark):
    """With width >> items, no collisions: every estimate equals the
    true count."""
    items = ["a"] * 5 + ["b"] * 3 + ["c"]
    df = _items_df(spark, items)
    cells = SK.cm_cells(df, "item", width=4096)
    qs = spark.createDataFrame([("a",), ("b",), ("c",)], "item string")
    est = {r.item: r.est for r in SK.cm_point_estimates(cells, qs, width=4096).collect()}
    assert est == {"a": 5, "b": 3, "c": 1}


def test_never_undercounts_under_collisions(spark):
    """width=4 forces collisions: est >= true for EVERY item, and each
    sketch row sums to N."""
    rnd = random.Random(0xC31)
    items = [f"it{rnd.randrange(40)}" for _ in range(300)]
    true = {}
    for it in items:
        true[it] = true.get(it, 0) + 1
    df = _items_df(spark, items)
    cells = SK.cm_cells(df, "item", width=4)
    rows = cells.collect()
    for r in range(SK.CM_DEPTH):
        assert sum(c.cnt for c in rows if c.row == r) == len(items)
    qs = _items_df(spark, list(true)).select("item")
    est = {r.item: r.est for r in SK.cm_point_estimates(cells, qs, width=4).collect()}
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true)


def test_partition_invariance_exact(spark):
    """Unlike MG/HLL/KLL, the cell grid is bit-identical across ANY
    physical layout — the oracle-gradability property."""
    rnd = random.Random(0xC32)
    items = [f"u{rnd.randrange(25)}" for _ in range(200)]
    layouts = [
        _cells(_items_df(spark, items, n_parts=p), width=64) for p in (1, 7, 16)
    ]
    assert layouts[0] == layouts[1] == layouts[2]


def test_merge_lossless(spark):
    """merge(build(even), build(odd)) == build(all), exactly."""
    items = [f"x{i % 9}" for i in range(120)]
    df = _items_df(spark, items)
    whole = _cells(df, width=32)
    even = SK.cm_cells(df.filter(F.col("i") % 2 == 0), "item", width=32)
    odd = SK.cm_cells(df.filter(F.col("i") % 2 == 1), "item", width=32)
    merged = sorted(
        (r.row, r.bucket, r.cnt) for r in SK.cm_merge(even, odd).collect()
    )
    assert merged == whole


def test_weighted_and_null_items(spark):
    df = spark.createDataFrame(
        [("a", 10), (None, 99), ("a", 5), ("b", 1)], "item string, w long"
    )
    cells = SK.cm_cells(df, "item", width=2048, weight_col="w")
    qs = spark.createDataFrame([("a",), ("b",)], "item string")
    est = {
        r.item: r.est
        for r in SK.cm_point_estimates(cells, qs, width=2048).collect()
    }
    # null item skipped entirely; weights summed
    assert est == {"a": 15, "b": 1}


def test_differential_fuzz_vs_duckdb(spark):
    """Random user_id corpora through cm_parity vs the verbatim
    cm_parity_ctes replay — cells, query sample, true counts, min
    estimates and overcounts must all match."""
    from recon_spark.oracles import plans_sql

    rnd = random.Random(0xC33)
    for trial in range(3):
        uids = [
            rnd.choice([None, rnd.randrange(30), rnd.randrange(3000)])
            for _ in range(250)
        ]
        ev = spark.createDataFrame(
            [(i, u) for i, u in enumerate(uids)], "event_id long, user_id long"
        ).repartition(5)
        got = SK.cm_parity(ev, "user_id", depth=3, width=16, query_mod=3).collect()[0]
        staging.release_staged()
        con = duckdb.connect()
        con.execute("CREATE TABLE events (event_id BIGINT, user_id BIGINT)")
        con.executemany(
            "INSERT INTO events VALUES (?, ?)", list(enumerate(uids))
        )
        want = con.sql(
            f"WITH {plans_sql.cm_parity_ctes(depth=3, width=16, query_mod=3)}"
            " SELECT * FROM cm_parity"
        ).fetchone()
        con.close()
        assert (got.n_cm_cells, got.cm_ck, got.n_cmq_rows, got.cmq_ck) == want, (
            f"trial {trial}"
        )
