"""One registry query checked against its DuckDB oracle on tables the
benchmark generates at sf0.001 — the check ``queries_cold`` makes on every
run, end to end on a small input."""

import os

import pytest

from perfbench import audit, datagen

QUERY = "q14_promo_effect"


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from amazon_kinesis_replay_spark.session import build_spark
    session = build_spark("perfbench-test")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def test_one_query_matches_its_oracle(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    data = str(tmp_path / "sf0.001")
    datagen.make_tables(data, seed=1, sf=0.001)
    from amazon_kinesis_replay_spark.plans import QUERIES
    spec = QUERIES[QUERY]
    df = spec.fn(spark, data)
    cols, rows = df.columns, df.collect()
    con = duckdb.connect()
    for t in ("part", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t)}.parquet'")
    cur = con.execute(spec.oracle)
    ocols = [d[0] for d in cur.description]
    assert rows, "the oracle check needs a non-empty result"
    assert audit.compare_to_oracle(cols, rows, ocols, cur.fetchall()) == []
