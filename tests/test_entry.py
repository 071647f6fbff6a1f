"""Driver-contract smoke: entry() produces rows; every oracle key has a
query; linear_fit operator agrees with the integer-exact formula; the
codec round-trip queries match their DuckDB oracles."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
import pyspark.sql.functions as F
import pytest

from tests.conftest import SF0001
from modeltracking_spark.operators.aggregates import linear_fit
from tools.check_queries import compare, duck_connect


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "day_idx", "event_type", "n_events", "sum_cents", "min_cents", "max_cents",
    ]


def test_registry_consistency(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)  # every oracle has a query
    # >= 40 oracled entries (the correctness gate)
    assert len(oracles) >= 40


def test_linear_fit_operator_matches_formula(spark):
    # y = 2x + 1 exactly -> slope/intercept recovered
    df = spark.createDataFrame(
        [(float(x), 2.0 * x + 1.0) for x in range(50)], "x double, y double"
    )
    r = linear_fit(df, "x", "y").first()
    assert abs(r["slope"] - 2.0) < 1e-9 and abs(r["intercept"] - 1.0) < 1e-9
    assert r["n"] == 50


#: every query whose kernel runs through ``codec_roundtrip_stats``, plus
#: the CBOR round trip that shares its shape but not the harness
CODEC_QUERIES = [
    f"{codec}_roundtrip_docs"
    for codec in ("lz4", "snappy", "bz2", "lzma", "zstd", "zstd_dict", "xz",
                  "xz_bcj", "brotli", "cbor", "zlib_fdict")
] + ["zstd_trained_dict_docs"]


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF0001)
    yield con
    con.close()


@pytest.mark.parametrize("name", CODEC_QUERIES)
def test_codec_query_matches_oracle(spark, duck, name):
    """Exact cell-by-cell compare with the DuckDB twin at sf0.001, under
    the same order-insensitive rule as tools/check_queries.py; the
    output columns must also come out in the oracle's order."""
    sdf = entrymod.queries()[name](spark, SF0001)
    tbl = duck.execute(entrymod.oracle_sql()[name]).arrow()
    assert sdf.columns == tbl.column_names
    cols = sorted(sdf.columns)
    ok, msg = compare(
        [tuple(r[c] for c in cols) for r in sdf.collect()],
        [tuple(d[c] for c in cols) for d in tbl.to_pylist()],
        cols,
    )
    assert ok, msg
