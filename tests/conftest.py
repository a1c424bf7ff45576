import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omigo_data_analytics_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--run-kafka", action="store_true", default=False,
        help="run the Kafka connector end-to-end test (needs the "
             "spark-sql-kafka jar and a broker at localhost:9092)")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("omigo_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """fn -> (fn(), number of Spark jobs fn submitted), counted through a
    job group of its own: the job-count pins. Status-tracker updates
    arrive from the listener bus, so the count is read until two reads
    agree."""
    import time
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count pin")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        n, prev = -1, None
        while n != prev:
            prev = n
            time.sleep(0.2)
            n = len(sc.statusTracker().getJobIdsForGroup(group) or [])
        return out, n
    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "lineitem")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "orders")


@pytest.fixture(scope="session")
def customer(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "customer")


@pytest.fixture(scope="session")
def nation(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "nation")


@pytest.fixture(scope="session")
def region(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "region")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "events")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "documents")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, sf_dir, "embeddings")


@pytest.fixture(scope="session")
def iris(spark):
    """150-row iris fixture (the reference's canonical example dataset) —
    regenerated deterministically here, string-typed like the reference."""
    from omigo_data_analytics_spark import OmigoDF
    from pyspark.sql import types as T
    import random

    rng = random.Random(7)
    classes = ["Iris-setosa", "Iris-versicolor", "Iris-virginica"]
    rows = []
    for i in range(150):
        cls = classes[i % 3]
        rows.append((
            f"{4.0 + rng.random() * 4:.1f}",
            f"{2.0 + rng.random() * 2:.1f}",
            f"{1.0 + rng.random() * 6:.1f}",
            f"{0.1 + rng.random() * 2.4:.1f}",
            cls,
        ))
    schema = T.StructType([
        T.StructField("sepal_length", T.StringType()),
        T.StructField("sepal_width", T.StringType()),
        T.StructField("petal_length", T.StringType()),
        T.StructField("petal_width", T.StringType()),
        T.StructField("class", T.StringType()),
    ])
    return OmigoDF(spark.createDataFrame(rows, schema))
