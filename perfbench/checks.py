"""Output checks, run outside the timed window.

A graded step's collected rows are reduced to one value hash with the
canonicalization of ``tools/check_correctness.py`` (sorted column names,
canonical type spellings, full-precision cell rendering, order-insensitive
row multiset) and compared with the same hash of its ``registry.ORACLES``
DuckDB query over the same input files.

Oracle hashes are cached in the benchmark's work directory, keyed by the
DuckDB version, the oracle's SQL text and the input files' contents, so
only the first run in a checkout pays the DuckDB queries.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def _canon():
    """``(canon_type, norm_cell)`` from the repo's correctness tool.

    The tool prepends a fixed checkout path to ``sys.path`` on import;
    that entry is dropped again so it can never shadow the code under test.
    """
    saved = list(sys.path)
    try:
        from tools.check_correctness import canon_type, norm_cell
    finally:
        sys.path[:] = saved
    return canon_type, norm_cell


def value_hash(columns: list[str], types: list[str], rows) -> tuple[int, str]:
    """``(row count, sha256)`` of a result, independent of row and column
    order and of the engine's type spellings."""
    canon_type, norm_cell = _canon()
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(
        json.dumps([norm_cell(row[i]) for i in order]) for row in rows
    )
    head = [[columns[i], canon_type(str(types[i]))] for i in order]
    digest = hashlib.sha256(json.dumps([head, body]).encode()).hexdigest()
    return len(body), digest


def spark_hash(df, rows) -> tuple[int, str]:
    fields = df.schema.fields
    return value_hash(
        [f.name for f in fields], [f.dataType.simpleString() for f in fields], rows
    )


def oracle_hashes(
    sf_dir: str, names: list[str], cache_path: str | None = None
) -> dict[str, tuple[int, str] | str]:
    """DuckDB oracle hash per query name over the parquet files in
    ``sf_dir``; an oracle that raises maps to its error text (and is not
    cached)."""
    import duckdb

    from recon_spark import registry

    files = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    inputs = hashlib.sha256(duckdb.__version__.encode())
    for f in files:
        with open(os.path.join(sf_dir, f), "rb") as fh:
            inputs.update(f.encode() + hashlib.sha256(fh.read()).digest())
    keys = {
        name: hashlib.sha256(
            inputs.digest() + registry.ORACLES[name].encode()
        ).hexdigest()
        for name in names
    }
    cache: dict[str, list] = {}
    if cache_path and os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    out: dict[str, tuple[int, str] | str] = {
        name: tuple(cache[key]) for name, key in keys.items() if key in cache
    }
    missing = [name for name in names if name not in out]
    if not missing:
        return out
    con = duckdb.connect()
    try:
        con.execute("SET threads=4; SET memory_limit='2GB'")
        for f in files:
            path = os.path.join(sf_dir, f)
            con.execute(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM '{path}'")
        for name in missing:
            try:
                rel = con.sql(registry.ORACLES[name])
                out[name] = value_hash(rel.columns, [str(t) for t in rel.types], rel.fetchall())
                cache[keys[name]] = list(out[name])
            except Exception as exc:  # noqa: BLE001 — recorded as a failed check
                out[name] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        con.close()
    if cache_path:
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh)
        os.replace(tmp, cache_path)
    return out
