import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("tsne_flink_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        # unknown-size relations default to Long.MaxValue; deep iterative
        # plans then produce astronomically large BigInt size estimates that
        # grind Catalyst's stats visitor — cap to something sane
        .config("spark.sql.defaultSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def query_frame(spark):
    """``query_frame(name, sf_dir)``: the registered query's DataFrame over
    the test data in ``sf_dir``, built on first use and reused for the rest
    of the session.  Building a plan runs real driver actions for the
    iterative queries, so the two whole-registry sweeps
    (tests/test_plans.py, tests/test_registry.py) share one build per query
    instead of paying for two."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as m

    queries, built = m.queries(), {}

    def get(name, sf_dir):
        if (name, sf_dir) not in built:
            built[name, sf_dir] = queries[name](spark, sf_dir)
        return built[name, sf_dir]

    return get
