"""The grading certificate has one home, ``recon_spark.functions.checksum``:
a Spark-free guard that no other module spells the hash again, plus
value checks of ``hash32``, ``row_ck`` and ``certificate`` against the
DuckDB oracle's SQL twin (``oracles.llm_sql.hash32``)."""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from recon_spark.functions.checksum import certificate, hash32, row_ck
from recon_spark.oracles import llm_sql

PKG = Path(__file__).resolve().parents[1] / "recon_spark"
CHECKSUM = PKG / "functions" / "checksum.py"
ORACLES = PKG / "oracles"

STRINGS = [
    "",
    "plain",
    "héllo wörld ✓ 日本語 🙂",
    "a|b||c|",
    "|",
    "long " * 4000,
]


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _hash_copies(tree: ast.Module) -> list[str]:
    """Every place ``tree`` defines, binds, imports or reads a
    ``_hash32``, or spells the md5 -> ``conv`` hash by hand."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name in ("_hash32", "_ck"):
                found.append(f"line {node.lineno}: def {node.name}")
        elif isinstance(node, ast.ImportFrom):
            found += [
                f"line {node.lineno}: imports {a.name}"
                for a in node.names
                if a.name == "_hash32"
            ]
        elif isinstance(node, ast.Attribute) and node.attr == "_hash32":
            found.append(f"line {node.lineno}: reads .{node.attr}")
        elif isinstance(node, ast.Name) and node.id == "_hash32":
            if isinstance(node.ctx, ast.Store):
                found.append(f"line {node.lineno}: binds {node.id}")
        elif isinstance(node, ast.Call) and _callee(node) == "conv":
            if any(
                isinstance(sub, ast.Call) and _callee(sub) == "md5"
                for arg in node.args
                for sub in ast.walk(arg)
            ):
                found.append(f"line {node.lineno}: md5 -> conv hash")
    return found


def test_no_module_spells_its_own_hash32():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == CHECKSUM or ORACLES in path.parents:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders += [f"{path.relative_to(PKG)} {f}" for f in _hash_copies(tree)]
    assert not offenders, "use recon_spark.functions.checksum:\n" + "\n".join(
        offenders
    )


def test_guard_sees_a_hand_written_copy():
    src = (
        "from .dedup import _hash32\n"
        "def _hash32(c):\n"
        "    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast('long')\n"
        "_hash32 = hash32\n"
        "ck = DD._hash32(c)\n"
    )
    assert len(_hash_copies(ast.parse(src))) == 5


#: the oracle's spelling of ``row_ck("i", "s")``
ROW_CK_SQL = llm_sql.hash32("CAST(i AS VARCHAR) || '|' || s")


def _frame(spark, rows):
    return spark.createDataFrame(rows, "i long, s string")


def _duck(rows, select: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, s VARCHAR)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    out = con.sql(f"SELECT {select} FROM t").fetchall()
    con.close()
    return out


def test_hash32_and_row_ck_match_duckdb(spark):
    rows = list(enumerate(STRINGS))
    got = _frame(spark, rows).select("i", hash32(F.col("s")), row_ck("i", "s"))
    got = sorted(map(tuple, got.collect()))
    assert got == sorted(_duck(rows, f"i, {llm_sql.hash32('s')}, {ROW_CK_SQL}"))
    assert all(0 <= h < 2**32 for _, h, _ in got)


def test_certificate_matches_oracle_and_is_zero_on_empty(spark):
    oracle = (
        f"CAST(count(*) AS BIGINT), CAST(COALESCE(SUM({ROW_CK_SQL}), 0) AS BIGINT)"
    )
    empty = certificate(_frame(spark, []), "t", "i", "s")
    assert empty.columns == ["n_t_rows", "t_ck"]
    assert [tuple(r) for r in empty.collect()] == [(0, 0)] == _duck([], oracle)
    rows = list(enumerate(STRINGS))
    full = certificate(_frame(spark, rows), "t", "i", "s")
    assert [tuple(r) for r in full.collect()] == _duck(rows, oracle)
