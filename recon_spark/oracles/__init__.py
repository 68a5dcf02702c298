"""DuckDB-dialect SQL mirroring every Spark operator, for the driver's
correctness oracle (__spark_entry__.oracle_sql) and the local test harness.
"""


def duckdb_oracle(spark, sf_dir: str):
    """A DuckDB connection with a view per testdata table of ``sf_dir``, sized
    by ``session.oracle_resources`` to fit next to ``spark``'s driver heap."""
    import duckdb

    from ..session import oracle_resources
    from ..sources.tpch import TABLES

    heap_mib = spark.sparkContext._jsc.getConf().getSizeAsMb("spark.driver.memory", "1g")
    threads, mib = oracle_resources(heap_mib)
    # explicit limits: DuckDB's memory autodetection has misfired here
    # ("bad allocation" at tiny block sizes)
    con = duckdb.connect()
    con.execute(f"SET threads={threads}; SET memory_limit='{mib}MiB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
