"""Spark-side rendering of the fixture derivation spec (sources/spec.py).

Produces the four reference-shaped *raw* input tables (raw export headers,
dirty values) from the driver's ``orders`` x ``customer`` parquet. The
matching DuckDB rendering lives in :mod:`recon_spark.oracles.fixtures_sql`.

Scale notes (100 TB design): the derivation is a projection over a single
equi-join ``orders ⋈ customer`` on ``custkey``; with a real fact table this
is the classic fact-dim join — left unhinted so AQE broadcasts the dim when
it actually fits and falls back to a shuffle join when it doesn't (a forced
hint would OOM executors once customer grows past driver memory).
``(src_order, src_seq)`` gives D1/D2 dedup an explicit *total* ordering
(pandas "file order" has no distributed equivalent; src_order alone is a
per-block constant, so key collisions inside one block would be arbitrary).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from .. import staging
from . import spec
from .tpch import load


def parquet_schema(schema: StructType) -> StructType:
    """The schema ``spark.read.parquet`` infers for files Spark wrote
    from a frame of ``schema``: the same, with every field and element
    nullable. Passing it to ``spark.read.schema`` skips the inference
    job."""

    def nullable(dt: DataType) -> DataType:
        if isinstance(dt, StructType):
            return StructType(
                [StructField(f.name, nullable(f.dataType), True, f.metadata) for f in dt]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(nullable(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(nullable(dt.keyType), nullable(dt.valueType), True)
        return dt

    return nullable(schema)


def materialize_raw(spark: SparkSession, sf_dir: str, target_dir: str) -> None:
    """Bench-harness-only: render the four raw fixture tables to parquet
    under ``target_dir`` once per session and serve every later ``*_raw``
    call in that session from the scan (a write-once tier of the session
    store, :func:`recon_spark.staging.written`).

    The fixture derivation (orders ⋈ customer + the expression battery
    below) is a fixed cost that re-runs inside EVERY registered query via
    ``clean_tables``; in a deployment the raw exports are files on disk
    and each engine reads them once. Materializing them makes the bench
    measure the engines, not repeated fixture synthesis. Not used by the
    correctness path (tools/check_correctness.py never calls this).
    """
    builders = {
        "relius": relius_raw,
        "matrix": matrix_raw,
        "demo": relius_demo_raw,
        "basis": roth_basis_raw,
    }
    for name, build in builders.items():
        staging.written(
            spark,
            ("raw", sf_dir, name),
            lambda build=build: build(spark, sf_dir),
            path=os.path.join(target_dir, f"{name}_raw.parquet"),
        )


def _materialized(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    return staging.lookup(spark, ("raw", sf_dir, name))


def _raw_written(spark: SparkSession, sf_dir: str) -> bool:
    """Whether :func:`materialize_raw` has written ``sf_dir``'s raw
    exports in this session."""
    return _materialized(spark, sf_dir, "basis") is not None


def pick(key: Column, values: Sequence[str | None]) -> Column:
    """values[key % len(values)] with None -> NULL (1-based element_at)."""
    arr = F.array(*[F.lit(v).cast("string") for v in values])
    return F.element_at(arr, (key % len(values)).cast("int") + 1)


# --- customer-keyed expressions ---------------------------------------------

def _k() -> Column:
    return F.col("c_custkey")


def plan_id_expr(k: Column) -> Column:
    return pick(k, spec.PLAN_IDS)


def ssn9_expr(k: Column) -> Column:
    return F.lpad(((k * spec.SSN_MULTIPLIER) % spec.SSN_MODULUS).cast("string"), 9, "0")


def ssn_raw_expr(k: Column) -> Column:
    """Dirty SSN variants exercising C1: float artifact, hyphens, short, padded."""
    s = ssn9_expr(k)
    v = k % 6
    return (
        F.when(v == 1, F.concat(s, F.lit(".0")))
        .when(
            v == 2,
            F.concat(
                F.substring(s, 1, 3), F.lit("-"), F.substring(s, 4, 2), F.lit("-"), F.substring(s, 6, 4)
            ),
        )
        .when(v == 3, F.regexp_replace(s, "^0+", ""))
        .when(v == 4, F.concat(F.lit(" "), s, F.lit(" ")))
        .otherwise(s)
    )


def first_name_expr(k: Column) -> Column:
    return F.when(k % 29 != 0, F.concat(F.lit("First"), (k % 50).cast("string")))


def last_name_expr(k: Column) -> Column:
    return F.when(k % 31 != 0, F.concat(F.lit("Last"), (k % 73).cast("string")))


def participant_name_expr(k: Column) -> Column:
    return F.when(
        k % 37 != 0,
        F.concat(
            F.lit("First"), (k % 50).cast("string"), F.lit(" "), F.lit("Last"), (k % 73).cast("string")
        ),
    )


def state_expr(k: Column) -> Column:
    return pick(k, spec.STATES)


def dob_raw_expr(k: Column) -> Column:
    d = F.make_date(
        (F.lit(1940) + k % 61).cast("int"), (F.lit(1) + k % 12).cast("int"), (F.lit(1) + k % 28).cast("int")
    )
    return (
        F.when(k % 19 == 0, F.lit(None).cast("string"))
        .when(k % 53 == 0, F.lit("not-a-date"))
        .otherwise(d.cast("string"))
    )


def term_raw_expr(k: Column) -> Column:
    d = F.make_date(
        (F.lit(2010) + k % 15).cast("int"),
        (F.lit(1) + (k * 5) % 12).cast("int"),
        (F.lit(1) + (k * 3) % 28).cast("int"),
    )
    return F.when(k % 4 != 0, d.cast("string"))


# --- orders-keyed expressions ------------------------------------------------

def exported_date_expr(o: Column) -> Column:
    shifted = F.add_months(F.col("o_orderdate").cast("date"), spec.EXPORT_SHIFT_MONTHS)
    return F.when(o % 101 == 0, F.lit("2099-01-01").cast("date")).otherwise(shifted)


def cents(c: Column) -> Column:
    """floor(x*100)/100 — bit-deterministic across Spark and DuckDB.

    ``round(x, 2)`` is NOT: Spark rounds the shortest decimal rendering
    HALF_UP while DuckDB rounds the binary value half-away, so exact-half
    cents can diverge by 0.01. floor over the identical IEEE product
    cannot.
    """
    return F.floor(c * 100) / 100


def gross_expr() -> Column:
    return cents(F.col("o_totalprice"))


def txn_date_expr(o: Column) -> Column:
    return F.date_add(exported_date_expr(o), (o % 15).cast("int"))


def tax_year_raw_expr(o: Column) -> Column:
    y = F.year(exported_date_expr(o)).cast("string")
    return (
        F.when(o % 97 == 0, F.lit(None).cast("string"))
        .when(o % 89 == 0, F.concat(y, F.lit(".0")))
        .otherwise(y)
    )


def matrix_account_expr(o: Column, k: Column) -> Column:
    return (
        F.when(o % 23 == 0, F.lit("07B00442"))
        .when(o % 23 == 1, F.lit("07I00442"))
        .otherwise(F.concat(F.lit("07C00"), F.lpad((k % 900).cast("string"), 3, "0")))
    )


def txn_method_expr(o: Column) -> Column:
    return (
        F.when(o % 41 == 0, F.lit(spec.IGNORED_TXN_METHOD_MOD_41))
        .when(o % 43 == 0, F.lit(spec.IGNORED_TXN_METHOD_MOD_43))
        .otherwise(pick(o, spec.TXN_METHODS))
    )


def fed_taxable_expr(o: Column) -> Column:
    g = gross_expr()
    return (
        F.when(o % 37 == 0, cents(g * 1.2))
        .when(o % 4 == 0, g)
        .when(o % 4 == 1, F.lit(0.0))
        .when(o % 4 == 2, F.lit(None).cast("double"))
        .otherwise(cents(g * 0.5))
    )


def transaction_id_expr(o: Column) -> Column:
    base = (o * 10 + 3).cast("string")
    return (
        F.when(o % 31 == 0, F.concat(F.lit("TX"), base))
        .when(o % 5 == 0, F.concat(base, F.lit(".0")))
        .otherwise(base)
    )


def ric_year_expr(k: Column) -> Column:
    return (
        F.when(k % 11 == 0, F.lit(None).cast("long"))
        .when(k % 13 == 0, F.lit(0).cast("long"))
        .otherwise((F.lit(2005) + k % 14).cast("long"))
    )


# --- table builders -----------------------------------------------------------

def _orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select("c_custkey")
    # fact ⋈ dim: no hint — AQE picks broadcast while customer fits the
    # threshold, shuffle-hash/SMJ beyond that (customer grows with sf)
    return orders.join(customer, orders.o_custkey == customer.c_custkey)


def relius_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relius distributions export (raw headers, ~4/5 of orders + dup block)."""
    if (m := _materialized(spark, sf_dir, "relius")) is not None:
        return m
    oc = _orders_customer(spark, sf_dir)
    o, k = F.col("o_orderkey"), F.col("c_custkey")

    def sel(df: DataFrame, dist_code: Column, dist_name: Column, src: int) -> DataFrame:
        return df.select(
            plan_id_expr(k).alias("PLANID_1"),
            ssn_raw_expr(k).alias("SSNUM_1"),
            first_name_expr(k).alias("FIRSTNAM"),
            last_name_expr(k).alias("LASTNAM"),
            state_expr(k).alias("STATEADDR"),
            gross_expr().alias("GROSSDISTRAMT"),
            exported_date_expr(o).cast("string").alias("EXPORTEDDATE"),
            tax_year_raw_expr(o).alias("TAXYR"),
            dist_code.alias("DISTR1CD"),
            dist_name.alias("DISTRNAM"),
            F.lit(src).cast("long").alias("src_order"),
            o.cast("long").alias("src_seq"),
        )

    base = sel(oc.filter(o % 5 != 4), pick(o, spec.DIST_CODES_1), pick(o, spec.DIST_NAMES), 0)
    dups = sel(
        oc.filter((o % 5 != 4) & (o % 50 == 0)), F.lit("1"), F.lit("Rollover"), 1
    )
    return base.unionByName(dups)


def matrix_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix disbursements export (raw headers, ~6/7 of orders + dup block)."""
    if (m := _materialized(spark, sf_dir, "matrix")) is not None:
        return m
    oc = _orders_customer(spark, sf_dir)
    o, k = F.col("o_orderkey"), F.col("c_custkey")

    def sel(df: DataFrame, tax_code_1: Column, txn_id: Column, src: int) -> DataFrame:
        return df.select(
            matrix_account_expr(o, k).alias("Matrix Account"),
            plan_id_expr(k).alias("Client Account"),
            ssn_raw_expr(k).alias("Participant SSN"),
            participant_name_expr(k).alias("Participant Name"),
            state_expr(k).alias("Participant State"),
            gross_expr().alias("Gross Amount"),
            txn_date_expr(o).cast("string").alias("Transaction Date"),
            txn_method_expr(o).alias("Transaction Type"),
            tax_code_1.alias("Tax Code"),
            pick(o, spec.TAX_CODES_2).alias("Tax Code 2"),
            pick(o, spec.TAX_FORMS).alias("Tax Form"),
            pick(o, spec.FED_TAXING_METHODS).alias("Federal Taxing Method"),
            pick(o, ["Rollover", "Cash", "Roth"]).alias("Distribution Type"),
            txn_id.alias("Transaction Id"),
            fed_taxable_expr(o).alias("Fed Taxable Amount"),
            ric_year_expr(k).alias("Roth Initial Contribution Year"),
            F.lit(src).cast("long").alias("src_order"),
            o.cast("long").alias("src_seq"),
        )

    base = sel(oc.filter(o % 7 != 6), pick(o, spec.TAX_CODES_1), transaction_id_expr(o), 0)
    dups = sel(
        oc.filter((o % 7 != 6) & (o % 60 == 0)),
        F.lit("1"),
        F.concat((o * 10 + 3).cast("string"), F.lit("9")),
        1,
    )
    return base.unionByName(dups)


def relius_demo_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participant master: one row per customer + dup block (keep-last dedup)."""
    if (m := _materialized(spark, sf_dir, "demo")) is not None:
        return m
    customer = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")

    def sel(df: DataFrame, dob: Column, term: Column, first: Column, src: int) -> DataFrame:
        return df.select(
            plan_id_expr(k).alias("PLANID"),
            ssn_raw_expr(k).alias("SSNUM"),
            first.alias("FIRSTNAM"),
            last_name_expr(k).alias("LASTNAM"),
            dob.alias("BIRTHDATE"),
            term.alias("TERM_DATE"),
            F.lit(src).cast("long").alias("src_order"),
            k.cast("long").alias("src_seq"),
        )

    base = sel(customer, dob_raw_expr(k), term_raw_expr(k), first_name_expr(k), 0)
    dups = sel(
        customer.filter(k % 10 == 0),
        F.lit(None).cast("string"),
        F.lit(None).cast("string"),
        F.lit("DupFirst"),
        1,
    )
    return base.unionByName(dups)


def roth_basis_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roth basis extract: Roth-plan customers (buckets 3-5), 2/3 coverage,
    plus an all-null dup block (completeness-ranked dedup D3)."""
    if (m := _materialized(spark, sf_dir, "basis")) is not None:
        return m
    customer = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    in_scope = (k % 10).isin(3, 4, 5) & (k % 3 != 2)

    first_year = (
        F.when(k % 13 == 0, F.lit(None).cast("string"))
        .when(k % 17 == 0, F.lit("1800"))
        .when(k % 23 == 0, F.lit("0"))
        .otherwise((F.lit(2005) + k % 16).cast("string"))
    )
    basis = (
        F.when(k % 9 == 0, F.lit(None).cast("double"))
        .when(k % 21 == 0, F.lit(-100.0))
        .otherwise((k % 200).cast("double") * 2500.0 + 500.0)
    )

    def sel(df: DataFrame, year_c: Column, basis_c: Column, src: int) -> DataFrame:
        return df.select(
            plan_id_expr(k).alias("PLANID"),
            ssn_raw_expr(k).alias("SSNUM"),
            first_name_expr(k).alias("FIRSTNAM"),
            last_name_expr(k).alias("LASTNAM"),
            year_c.alias("FIRSTTAXYEARROTH"),
            basis_c.alias("Total"),
            F.lit(src).cast("long").alias("src_order"),
            k.cast("long").alias("src_seq"),
        )

    base = sel(customer.filter(in_scope), first_year, basis, 0)
    dups = sel(
        customer.filter(in_scope & (k % 12 == 0)),
        F.lit(None).cast("string"),
        F.lit(None).cast("double"),
        1,
    )
    return base.unionByName(dups)


def _nearmiss_oc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = F.col("o_orderkey")
    return _orders_customer(spark, sf_dir).filter(
        o % spec.NEAR_MISS_MOD == spec.NEAR_MISS_REM
    )


def relius_nearmiss_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``relius_raw`` + the ORGANIC near-miss block (VERDICT r13 #7):
    one extra relius row per ``o % 35 == 34`` order — orders absent
    from BOTH base exports, so nothing pre-existing moves. Paired with
    :func:`matrix_nearmiss_raw`'s one-field-off twins, this fixture
    variant exercises the near-miss audit with ``plant_demos=False``
    (no planting shim); dual-rendered by
    oracles/fixtures_sql.fixture_ctes(nearmiss=True)."""
    oc = _nearmiss_oc(spark, sf_dir)
    o, k = F.col("o_orderkey"), F.col("c_custkey")
    block = oc.select(
        plan_id_expr(k).alias("PLANID_1"),
        ssn_raw_expr(k).alias("SSNUM_1"),
        first_name_expr(k).alias("FIRSTNAM"),
        last_name_expr(k).alias("LASTNAM"),
        state_expr(k).alias("STATEADDR"),
        gross_expr().alias("GROSSDISTRAMT"),
        exported_date_expr(o).cast("string").alias("EXPORTEDDATE"),
        tax_year_raw_expr(o).alias("TAXYR"),
        pick(o, spec.DIST_CODES_1).alias("DISTR1CD"),
        pick(o, spec.DIST_NAMES).alias("DISTRNAM"),
        F.lit(2).cast("long").alias("src_order"),
        o.cast("long").alias("src_seq"),
    )
    return relius_raw(spark, sf_dir).unionByName(block)


def matrix_nearmiss_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``matrix_raw`` + the ORGANIC one-field-off twins of
    :func:`relius_nearmiss_raw`'s block — shape by ``o % 3`` (see
    spec.NEAR_MISS_MOD): same-SSN/+1-cent, flipped-SSN/name-kept, or
    flipped-SSN/foreign-name. The flipped first digit is always '9'
    (organic SSNs stay <= 8 by the modulus), giving edit distance 1 on
    the cleaned value; the +1 cent is exact integer arithmetic before
    the one division, so both engines render the identical double."""
    oc = _nearmiss_oc(spark, sf_dir)
    o, k = F.col("o_orderkey"), F.col("c_custkey")
    shape = o % 3
    ssn = F.when(shape == 0, ssn_raw_expr(k)).otherwise(
        F.concat(F.lit("9"), F.substring(ssn9_expr(k), 2, 8))
    )
    name = F.when(shape == 1, participant_name_expr(k)).otherwise(
        F.when(shape == 2, F.lit(spec.NEAR_MISS_FOREIGN_NAME))
    )
    gross = F.when(
        shape == 0, (F.floor(F.col("o_totalprice") * 100) + 1) / 100
    ).otherwise(gross_expr())
    block = oc.select(
        matrix_account_expr(o, k).alias("Matrix Account"),
        plan_id_expr(k).alias("Client Account"),
        ssn.alias("Participant SSN"),
        name.alias("Participant Name"),
        state_expr(k).alias("Participant State"),
        gross.alias("Gross Amount"),
        txn_date_expr(o).cast("string").alias("Transaction Date"),
        txn_method_expr(o).alias("Transaction Type"),
        pick(o, spec.TAX_CODES_1).alias("Tax Code"),
        pick(o, spec.TAX_CODES_2).alias("Tax Code 2"),
        pick(o, spec.TAX_FORMS).alias("Tax Form"),
        pick(o, spec.FED_TAXING_METHODS).alias("Federal Taxing Method"),
        pick(o, ["Rollover", "Cash", "Roth"]).alias("Distribution Type"),
        transaction_id_expr(o).alias("Transaction Id"),
        fed_taxable_expr(o).alias("Fed Taxable Amount"),
        ric_year_expr(k).alias("Roth Initial Contribution Year"),
        F.lit(2).cast("long").alias("src_order"),
        o.cast("long").alias("src_seq"),
    )
    return matrix_raw(spark, sf_dir).unionByName(block)


def unicode_twin_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents corpus with planted composed/decomposed Unicode twins
    (VERDICT r12 #6) — the mixed-encoding input the NFC stage
    (operators/unicode_norm.py) exists for, derived deterministically
    from the driver's ``documents`` parquet (which is pure ASCII, so
    the accents must be planted).

    For every source doc with ``doc_id % 17 == 0`` and non-null text,
    two extra rows are emitted whose VISIBLE text is identical but
    whose codepoint sequences differ:

    - ``doc_id + 2_000_000``: every ``a`` replaced with COMPOSED á
      (U+00E1);
    - ``doc_id + 3_000_000``: every ``a`` replaced with DECOMPOSED
      ``a`` + combining acute (U+0301).

    NFC maps the decomposed spelling onto the composed one, so each
    planted pair collapses to a single fingerprint AFTER normalization
    and stays two distinct fingerprints before it — exact dedup run
    without the NFC pass under-deletes by exactly the number of planted
    pairs (asserted in tests/test_unicode_norm.py)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.filter((F.col("doc_id") % 17 == 0) & F.col("text").isNotNull())
    composed = src.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.regexp_replace("text", "a", "á").alias("text"),
    )
    decomposed = src.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.regexp_replace("text", "a", "á").alias("text"),
    )
    return docs.unionByName(composed).unionByName(decomposed)
