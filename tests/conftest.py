import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("jamie-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def persisted_rdds(spark):
    """Counts persistent RDDs, leaving out ``localCheckpoint`` blocks: the
    ContextCleaner frees those when their plans are garbage-collected, so
    their count moves with JVM GC timing, not with what a caller released."""

    def count() -> int:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(
            not rdds.get(k).rdd().isLocallyCheckpointed()
            for k in rdds.keySet().toArray()
        )

    return count
