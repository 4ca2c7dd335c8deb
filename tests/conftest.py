import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .appName("docling_spark_tests")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


REF = pathlib.Path("/root/reference/tests/data")


def needs_reference(*relpaths, partial=False):
    """skipif mark for a test that reads Docling's test corpus.

    Each ``relpath`` names a file or directory under ``REF`` that the test
    reads. When one is absent the test skips with a reason naming the
    missing paths; when all are present it runs unchanged. With
    ``partial`` the test skips only when all are absent, so its own count
    of the fixtures it found fails on a partial corpus."""
    missing = [str(REF / p) for p in relpaths if not (REF / p).exists()]
    absent = len(missing) == len(relpaths) if partial else bool(missing)
    return pytest.mark.skipif(
        absent, reason="Docling corpus absent: " + ", ".join(missing))
