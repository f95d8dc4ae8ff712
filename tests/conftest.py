import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from geofileops_spark.session import get_spark

    s = get_spark(
        app_name="gfo-spark-tests",
        master=f"local[{os.environ.get('SPARK_TEST_CPUS', '4')}]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "2048"},
    )
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the number of Spark jobs ``fn()`` launched,
    counted by a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted call")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="module")
def wkt_layer(spark):
    """Build ``(fid, geom_wkb)`` layers from ``(fid, wkt)`` rows.

    ``wkt_layer(rows)`` caches and materializes the layer, so the planner
    sees its real size, as it sees a parquet scan's; the caches are
    released when the module ends. ``wkt_layer(rows, cached=False)``
    returns the plain frame, which a Python list sizes at
    ``Long.MaxValue`` bytes: it never fits a broadcast budget."""
    from pyspark.sql import functions as F

    from geofileops_spark.functions.st import st_geomfromtext

    made = []

    def make(rows, cached=True):
        df = spark.createDataFrame(rows, "fid long, wkt string").select(
            "fid", st_geomfromtext(F.col("wkt")).alias("geom_wkb"))
        if cached:
            df = df.cache()
            df.count()
            made.append(df)
        return df

    yield make
    for df in made:
        df.unpersist(blocking=True)
