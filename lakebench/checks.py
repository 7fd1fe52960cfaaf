"""Output checks. A mismatch counts the operation as failed.

Registry queries are compared with their DuckDB oracle through the
canonical compare that ``python -m lambda_lakehouse_spark verify`` uses
(columns sorted by name, cells stringified, rows sorted). Dashboard
statements run in DuckDB over the star's parquet files. The stock
pipeline is held to the invariants of its golden test.
"""

from __future__ import annotations

import os

import duckdb

from lambda_lakehouse_spark.__main__ import TABLES, _canon_rows
from lakebench.gen import STAR_VIEWS


def describe_diff(got, want) -> str:
    """A short multiset diff of two canonical results."""
    from collections import Counter

    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    extra = list((Counter(got[1]) - Counter(want[1])).elements())[:3]
    missing = list((Counter(want[1]) - Counter(got[1])).elements())[:3]
    return f"{len(got[1])} rows vs {len(want[1])}; engine-only {extra}; oracle-only {missing}"


def canon(cols, rows):
    return sorted(cols), _canon_rows(list(cols), rows)


def canon_df(df):
    return canon(df.columns, df.collect())


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def register_tables(con, sf_dir: str) -> None:
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def register_star(con, store: str) -> None:
    for view, table in STAR_VIEWS.items():
        con.execute(
            f"CREATE VIEW {view} AS SELECT * FROM read_parquet("
            f"'{store}/{table}/**/*.parquet', hive_partitioning = true)")


def oracle(con, sql: str):
    cur = con.execute(sql)
    return canon([d[0] for d in cur.description], cur.fetchall())


def stock_invariants(spark, tables: dict, expected_stg_rows: int) -> list[str]:
    """The pipeline golden test's invariants over the whole store:
    stg contract shape, stg rows equal to the valid generated rows, one
    open SCD2 version per (symbol, country), and every stg row kept by
    the fact's left joins (plus exactly one extra row per version
    boundary, the G3 fan-out)."""
    from pyspark.sql import functions as F

    from lambda_lakehouse_spark.plans.stock_pipeline import STG_CONTRACT

    problems = []
    stg, fact, company = (tables["stg_stock"], tables["fact_stock_daily"],
                          tables["dim_company"])
    if [f.name for f in stg.schema.fields] != [c for c, _ in STG_CONTRACT]:
        problems.append("stg columns differ from the contract")
    n_stg = stg.count()
    if n_stg != expected_stg_rows:
        problems.append(f"stg rows {n_stg} != valid generated rows {expected_stg_rows}")
    c = company.agg(
        F.count(F.lit(1)).alias("versions"),
        F.countDistinct("symbol", "country").alias("keys"),
        F.sum(F.when(F.col("is_current"), 1).otherwise(0)).alias("open"),
        F.sum(F.when(F.col("is_current") & (F.col("effective_to") != F.lit("9999-12-31")
                                           .cast("date")), 1).otherwise(0)).alias("bad_open"),
    ).collect()[0]
    if c.open != c.keys or c.bad_open:
        problems.append(f"{c.open} open versions for {c.keys} keys ({c.bad_open} not open-ended)")
    keys = ["symbol", "country", "date_sk"]
    stg_keys = stg.select("symbol", "country", F.date_format("datadate", "yyyyMMdd")
                          .cast("int").alias("date_sk"))
    lost = stg_keys.join(fact.select(*keys).distinct(), keys, "left_anti").count()
    if lost:
        problems.append(f"{lost} stg rows missing from the fact")
    n_fact = fact.count()
    if n_fact != n_stg + c.versions - c.keys:
        problems.append(f"fact rows {n_fact} != stg {n_stg} + boundaries {c.versions - c.keys}")
    return problems
