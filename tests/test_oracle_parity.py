"""Spark-vs-DuckDB value parity for every oracle-checked query — a local
mirror of the driver's CORRECTNESS gate (row count + schema + order-
insensitive values), run at sf0.001 so failures surface before the driver
runs at sf0.01."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(value):
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 9)
    if isinstance(value, (int, str, bool)):
        return value
    return str(value)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    ), [cols[i] for i in order]


ORACLE = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_every_oracle_key_has_a_query():
    assert set(ORACLE) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    try:
        srows = sdf.collect()
    finally:
        # composed queries materialize with localCheckpoint and cache
        # nothing; a query or fixture that did call cache()/persist()
        # would otherwise keep its blocks in the shared test session
        # across 30+ parametrized cases
        spark.catalog.clearCache()
    scols = sdf.columns
    res = duck.execute(ORACLE[name]).fetchall()
    dcols = [d[0] for d in duck.description]

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(res), (
        f"{name}: row count {len(srows)} (spark) vs {len(res)} (duckdb)")

    sset, _ = _rowset(scols, [tuple(r) for r in srows])
    dset, _ = _rowset(dcols, res)
    mismatches = [
        (a, b) for a, b in zip(sset, dset) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_pii_regex_cross_engine_adversarial(spark, duck):
    """The PII patterns live in the Java-regex/RE2 common subset; pin
    that claim on adversarial strings (boundary digits, emails abutting
    IPs, '+' runs, version numbers), not just the synthetic corpus."""
    from pyspark.sql import Row, functions as F

    from webextract.functions.hygiene import PII_PATTERNS

    cases = [
        "a@b.co",
        "x a.b@c.d.ee y 1.2.3.4",
        "v1.2.3.4.5 ip 255.255.255.255.",
        "tel +31 20 5551234, +14155551234. +1 2 3",
        "no@tld a@b a@b. _%+-@ok.com",
        "mix +4912345678901234567890 and 999.999.999.999",
        "email@sub-domain.example.museum!",
        "+12 34-5678 edge +1-23-456",
        "dot.end. 1.2.3.4a 1..2..3..4",
        "",
    ]
    sdf = spark.createDataFrame([Row(i=i, t=t) for i, t in
                                 enumerate(cases)])
    for name, pattern, repl in PII_PATTERNS:
        srows = sorted(
            (r["i"], r["m"], r["c"]) for r in sdf.select(
                "i",
                F.regexp_replace("t", pattern, repl).alias("m"),
                F.regexp_count("t", F.lit(pattern)).alias("c")).collect())
        duck.execute("CREATE OR REPLACE TABLE _pii_cases(i INT, t VARCHAR)")
        duck.executemany("INSERT INTO _pii_cases VALUES (?, ?)",
                         list(enumerate(cases)))
        drows = sorted(tuple(r) for r in duck.execute(
            f"SELECT i, regexp_replace(t, '{pattern}', '{repl}', 'g'),"
            f" CAST(len(regexp_extract_all(t, '{pattern}')) AS INT)"
            " FROM _pii_cases").fetchall())
        assert srows == drows, f"{name} diverged: {srows} vs {drows}"
