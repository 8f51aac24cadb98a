import uuid

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
    """Counts persistent RDDs, leaving out local checkpoint blocks: the
    library pins only through ``frames.materialize``, whose checkpoints a
    ``frames.scope()`` releases and which, outside any scope, the
    ContextCleaner frees with their plans on JVM GC, so their count moves
    with GC timing. What this counts is what a caller ``persist()``-ed."""

    def count() -> int:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(
            not rdds.get(k).rdd().isLocallyCheckpointed()
            for k in rdds.keySet().toArray()
        )

    return count


@pytest.fixture
def pinned_rdds(spark):
    """Counts every persistent RDD made since its first call, local
    checkpoints included, so the first call returns 0. RDD ids only grow:
    a pin an earlier test left to the ContextCleaner, which frees it on
    JVM GC at any time, never moves the count; a pin the code under test
    leaves behind always does."""
    sc = spark.sparkContext
    mark = []

    def count() -> int:
        if not mark:
            mark.append(sc.emptyRDD().id())
        ids = sc._jsc.getPersistentRDDs().keySet().toArray()
        return sum(int(i) > mark[0] for i in ids)

    return count


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(block)`` runs ``block()`` under a fresh statusTracker
    job group and returns the number of Spark jobs it ran; the group is
    cleared after, errors included. The group is a property of the calling
    thread: jobs a stream query's micro-batches run on the query's own
    thread are not counted."""
    sc = spark.sparkContext

    def count(block) -> int:
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted block")
        try:
            block()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def dictionary_collects(spark, tmp_path, monkeypatch):
    """``watch(table)`` writes a dictionary table to parquet and returns it
    read back; ``count()`` is the number of driver ``collect`` calls that
    have read a watched table since, on any thread, a stream query's
    micro-batches included."""
    from types import SimpleNamespace

    paths, reads = [], []
    cls = type(spark.range(1))
    collect = cls.collect

    def counting(df):
        if any(p in f for p in paths for f in df.inputFiles()):
            reads.append(df)
        return collect(df)

    monkeypatch.setattr(cls, "collect", counting)

    def watch(table):
        path = str(tmp_path / f"dictionary-{len(paths)}")
        table.write.parquet(path)
        paths.append(path)
        return spark.read.parquet(path)

    return SimpleNamespace(watch=watch, count=lambda: len(reads))
