"""Driver-gate replica for the kernel (non-SQL) queries: the Spark pipeline
must hash-match the pure-Python-kernel parquet oracles that
scripts/gen_oracles.py materializes at sf0.01 (the driver's correctness
scale). A failure here usually means the kernel changed and the oracles
were not regenerated."""

import os

import pytest

pyspark = pytest.importorskip("pyspark")
import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from nreadability_spark.spark.ops import SQL_OPS  # noqa: E402
from test_ops import normalize  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
ORACLE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "oracles", "sf0.01")

# every __spark_entry__ query that is not an SQL op checks against a kernel
# oracle
KERNEL_QUERIES = sorted(set(entry.queries()) - set(SQL_OPS))


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("kernel-oracle-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


def test_oracles_generated():
    for f in ("extract_full", "extract_hooked", "stitch_multipage",
              "media_features", "media_frames", "pdf_extract",
              "warc_pages"):
        assert os.path.exists(os.path.join(ORACLE_DIR, f"{f}.parquet")), (
            "run: python scripts/gen_oracles.py")


def test_every_query_has_an_oracle():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) == set(q), (set(q) - set(o), set(o) - set(q))


@pytest.mark.parametrize("name", KERNEL_QUERIES)
def test_kernel_query_matches_oracle(spark, name):
    sdf = entry.queries()[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duckdb.execute(entry.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}")

    _, s_norm = normalize(spark_rows, spark_cols)
    _, d_norm = normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: "
        f"{mismatches[:3]}")
