"""Live DuckDB oracles of the near-dup catalog entries built on the
band/bucket pair joins (q29, q46, q51, q56, q67, q69): each Spark
result must equal its oracle SQL over the same parquet files, compared
as an order-insensitive row multiset the way tools/crosscheck.py does."""

import os

import duckdb
import pytest

from tools.crosscheck import TABLES, normalize

SF = "/root/testdata/sf0.001"

NEARDUP_QUERIES = [
    "q29_minhash_dups",
    "q46_image_neardup",
    "q51_image_neardup_flags",
    "q56_image_dedup_keep",
    "q67_incremental_dedup",
    "q69_text_neardup_stream_flags",
]


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF):
        pytest.skip(f"test data {SF} not present")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", NEARDUP_QUERIES)
def test_neardup_query_matches_live_oracle(spark, duck, name):
    from osm_read_enhanced_spark.plans.queries import QUERIES, QUERIES_EXTENDED

    qd = {**QUERIES, **QUERIES_EXTENDED}[name]
    df = qd.fn(spark, SF)
    rows = [tuple(r) for r in df.collect()]
    res = duck.execute(qd.oracle)
    ocols = [d[0] for d in res.description]
    assert sorted(df.columns) == sorted(ocols)
    assert normalize(rows, df.columns) == normalize(res.fetchall(), ocols)
