import pytest

from tstore_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tstore_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    from tstore_spark.datagen import pages_pandas

    return pages_pandas(rows=3000)


@pytest.fixture(scope="session")
def pages_sdf(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf).cache()


@pytest.fixture()
def scan_files_read(spark):
    """``scan_files_read(build)`` -> files the parquet scan of ``build()``'s
    DataFrame reads: the ``numFiles`` metric of the executed plan's scan
    leaves after a collect, with AQE off so the executed plan is final."""

    def files_read(build):
        key = "spark.sql.adaptive.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            df = build()
            df.collect()
            leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
            metrics = [leaves.apply(i).metrics() for i in range(leaves.size())]
            return sum(m.apply("numFiles").value() for m in metrics if m.contains("numFiles"))
        finally:
            spark.conf.set(key, prev)

    return files_read
