"""The local contract gate must be TYPE-strict, not just value-strict.

Round-4 regression: DuckDB widens `sum(BIGINT)` to HUGEINT while Spark
returns BIGINT; Python's fetch coerces both to int, so a value-only compare
reported ALL PASS while the driver's typed hash failed (a16_degree_stats).
These tests pin the DuckDB->Spark type normalization and the mismatch
detector in tools/check_contract.py so that class of oracle drift is caught
locally before the driver grades.
"""

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_contract import duck_type_to_spark, oracle_types, type_mismatches


@pytest.mark.parametrize(
    "duck,spark",
    [
        ("BIGINT", "bigint"),
        ("INTEGER", "int"),
        ("HUGEINT", "hugeint"),  # deliberately NOT bigint: must mismatch
        ("DOUBLE", "double"),
        ("VARCHAR", "string"),
        ("BOOLEAN", "boolean"),
        ("DECIMAL(28,9)", "decimal(28,9)"),
        ("DECIMAL(38, 0)", "decimal(38,0)"),
        ("BIGINT[]", "array<bigint>"),
        ("VARCHAR[]", "array<string>"),
        ("TIMESTAMP", "timestamp"),
        ("BLOB", "binary"),
    ],
)
def test_duck_type_normalization(duck, spark):
    assert duck_type_to_spark(duck) == spark


def test_describe_exposes_hugeint_widening():
    """The exact a16 failure mode: uncast sum over BIGINT widens to HUGEINT."""
    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM range(10) tbl(i)")
    bad = oracle_types(con, "SELECT sum(i) AS m FROM t")
    good = oracle_types(con, "SELECT CAST(sum(i) AS BIGINT) AS m FROM t")
    assert bad == {"m": "hugeint"}
    assert good == {"m": "bigint"}
    # Spark's sum(bigint) stays bigint, so only the uncast oracle mismatches.
    assert type_mismatches({"m": "bigint"}, bad) == ["m: spark=bigint duck=hugeint"]
    assert type_mismatches({"m": "bigint"}, good) == []


def test_mismatch_detector_reports_all_drifts():
    spark = {"a": "bigint", "b": "double", "c": "string"}
    duck = {"a": "hugeint", "b": "double", "c": "decimal(18,3)"}
    assert type_mismatches(spark, duck) == [
        "a: spark=bigint duck=hugeint",
        "c: spark=string duck=decimal(18,3)",
    ]


def test_all_registered_oracles_type_match_spark_schema(spark):
    """Sweep EVERY oracle_sql() entry: DuckDB DESCRIBE types must equal the
    Spark result schema exactly (this is the cheap, data-free half of the
    full check_contract run — schemas only, no query execution on Spark
    beyond plan analysis, no DuckDB execution beyond DESCRIBE)."""
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    from concurrent.futures import ThreadPoolExecutor

    from engine.operators._pins import pin_scope

    def spark_types(name):
        with pin_scope():
            return dict(qs[name](spark, sf_dir).dtypes)

    # iterative queries run their rounds while the DataFrame is built, and a
    # round is mostly driver-side latency: the queries are independent, so
    # they build in a few threads of the one session (pins are per thread)
    with ThreadPoolExecutor(4) as ex:
        types = dict(zip(oracles, ex.map(spark_types, oracles)))
    drifts = {}
    for name, sql in oracles.items():
        tm = type_mismatches(types[name], oracle_types(con, sql))
        if tm:
            drifts[name] = tm
    assert drifts == {}
