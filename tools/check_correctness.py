"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` mirror on DuckDB over the same sf dir, then compares
row count, column-name set, the per-column *data types* (canonicalized
across the Spark/DuckDB spellings, decimal precision/scale included),
and the order-insensitive multiset of row values (exact — full-precision
float repr, no rounding).

The type + exact-value comparison exists because the driver's hash is
type-sensitive: round 2 shipped three queries whose values were
identical but whose decimal precision differed (Spark sum over
decimal(18,6) yields decimal(28,6); the oracle cast to DECIMAL(38,6)),
and the old ``%.9g``-normalized compare here called them green while the
driver called them red. Pass ``--approx`` to get the old lenient
compare back for debugging value drift.

Usage: python tools/check_correctness.py [--approx] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

APPROX = False


def canon_type(t: str) -> str:
    """Map a Spark ``simpleString`` or DuckDB type spelling to one
    canonical form so the two catalogs can be compared directly.

    Strict where the driver is strict (decimal precision/scale, numeric
    class); lenient only on representational spellings of the same
    logical type (VARCHAR vs string, FLOAT[] vs array<float>, timestamp
    timezone flavors — the driver grades those green today).
    """
    t = t.strip().lower()
    if t.endswith("[]"):  # duckdb array spelling
        return f"array<{canon_type(t[:-2])}>"
    m = re.fullmatch(r"array<(.+)>", t)
    if m:
        return f"array<{canon_type(m.group(1))}>"
    t = re.sub(r"\s+", " ", t)
    aliases = {
        "varchar": "string",
        "text": "string",
        "blob": "binary",
        "integer": "int",
        "int4": "int",
        "int8": "bigint",
        "long": "bigint",
        "real": "float",
        "double precision": "double",
        "timestamp with time zone": "timestamp",
        "timestamp_ntz": "timestamp",
        "timestamptz": "timestamp",
        "bool": "boolean",
    }
    t = aliases.get(t, t)
    t = re.sub(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", r"decimal(\1,\2)", t)
    return t


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}" if APPROX else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def row_key(row, cols_order):
    return tuple(norm_cell(row[i]) for i in cols_order)


def compare(name, spark_df, duck_rows, duck_cols, duck_types):
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        return f"SCHEMA MISMATCH\n  spark: {s_cols}\n  duck : {d_cols}"
    s_types = {
        f.name: canon_type(f.dataType.simpleString()) for f in spark_df.schema.fields
    }
    d_types = {c: canon_type(str(t)) for c, t in zip(duck_cols, duck_types)}
    type_diffs = [
        (c, s_types[c], d_types[c]) for c in s_cols if s_types[c] != d_types[c]
    ]
    if type_diffs and not APPROX:
        msg = f"TYPE MISMATCH ({len(type_diffs)} cols)"
        for c, st, dt in type_diffs:
            msg += f"\n  {c}: spark={st} duck={dt}"
        return msg
    s_rows = spark_df.collect()
    if len(s_rows) != len(duck_rows):
        return f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(duck_rows)}"
    s_order = [spark_df.columns.index(c) for c in s_cols]
    d_order = [duck_cols.index(c) for c in d_cols]
    s_set = sorted(row_key(r, s_order) for r in s_rows)
    d_set = sorted(row_key(r, d_order) for r in duck_rows)
    if s_set != d_set:
        diffs = [(a, b) for a, b in zip(s_set, d_set) if a != b]
        msg = f"VALUE MISMATCH ({len(diffs)} differing sorted rows of {len(s_set)})"
        for a, b in diffs[:3]:
            msg += f"\n  spark: {a}\n  duck : {b}"
        return msg
    return None


def main():
    global APPROX
    argv = [a for a in sys.argv[1:] if a != "--approx"]
    APPROX = len(argv) != len(sys.argv) - 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as E
    from recon_spark.oracles import duckdb_oracle
    from recon_spark.session import get_spark

    spark = get_spark("check", cpus=8)

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for nm, fn in qs.items():
        if only and nm not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if nm not in oracles:
                n = sdf.count()
                print(f"  {nm}: rows-only ({n} rows) [{time.time()-t0:.1f}s]")
                continue
            con = duckdb_oracle(spark, sf_dir)
            rel = con.sql(oracles[nm])
            duck_cols = rel.columns
            duck_types = rel.types
            duck_rows = rel.fetchall()
            err = compare(nm, sdf, duck_rows, duck_cols, duck_types)
            con.close()
        except Exception as ex:  # noqa: BLE001
            err = f"EXCEPTION {type(ex).__name__}: {ex}"
        if err:
            failures += 1
            print(f"✗ {nm}: {err}")
        else:
            print(f"✓ {nm} ({len(duck_rows)} rows) [{time.time()-t0:.1f}s]")
        # the next query's build releases the staging ledger; this also
        # drops anything cached outside it
        spark.catalog.clearCache()
    print(f"\n{failures} failures / {len(qs)} queries")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
