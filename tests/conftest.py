from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("trendmachine_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


#: FIXTURES.md §2 canonical micro-fixture. Variant A = first 6 lines,
#: variant B adds the out-of-range status line.
FIXTURE_LINES_A = [
    "20200101010000 301 AAAA1111X",
    "20200101020000 200 BBBB2222X",
    "20200101030000 200 BBBB2222X",
    "20200102010000 404 CCCC3333X",
    "20200102020000 -   BBBB2222X",
    "20200104010000 503 DDDD4444X",
]
FIXTURE_LINES_B = FIXTURE_LINES_A + ["20200105010000 0   EEEE5555X"]
