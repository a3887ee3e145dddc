"""The session's Python workers and runners import the driver's compiled
PySpark, not the source-only ``pyspark.zip`` Spark puts first on their path,
and its codegen class cache holds a plan cycle larger than Spark's default."""

import os

import pyspark
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from tdataframe_spark import session
from tdataframe_spark.session import CODEGEN_CACHE_ENTRIES, get_spark


def _from_zip(path):
    return any(part.endswith(".zip") for part in path.split(os.sep))


def test_udf_worker_imports_compiled_pyspark(spark):
    def where(_):
        import pyspark as worker_pyspark

        yield worker_pyspark.__file__

    (path,) = spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()
    assert not _from_zip(path), path
    assert path.endswith(".py")


def test_data_source_runners_import_compiled_pyspark(spark):
    # defined here so cloudpickle ships them by value to the runners
    class FileAtPlanning(InputPartition):
        def __init__(self, path):
            self.path = path

    class PlannerReader(DataSourceReader):
        def partitions(self):
            import pyspark as runner_pyspark

            return [FileAtPlanning(runner_pyspark.__file__)]

        def read(self, partition):
            import pyspark as reader_pyspark

            yield (partition.path, reader_pyspark.__file__)

    class PlannerSource(DataSource):
        @classmethod
        def name(cls):
            return "session_pyspark_path"

        def schema(self):
            return "planner string, reader string"

        def reader(self, schema):
            return PlannerReader()

    spark.dataSource.register(PlannerSource)
    (row,) = spark.read.format("session_pyspark_path").load().collect()
    assert not _from_zip(row.planner), row.planner
    assert not _from_zip(row.reader), row.reader


def test_second_get_spark_does_not_wrap_twice(spark):
    launcher = spark.sparkContext.pythonExec
    assert get_spark("tdataframe-spark-tests", cpus=4, shuffle_partitions=4) is spark
    assert spark.sparkContext.pythonExec == launcher


def test_launcher_wraps_previous_exec_only_on_matching_version(spark, monkeypatch):
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "pythonExec", "python-under-test")
    monkeypatch.setattr(pyspark, "__version__", "0.0.0")
    assert not session._install_worker_launcher(spark)
    assert sc.pythonExec == "python-under-test"

    monkeypatch.setattr(pyspark, "__version__", spark.version)
    assert session._install_worker_launcher(spark)
    assert os.access(sc.pythonExec, os.X_OK)
    with open(sc.pythonExec) as f:
        script = f.read()
    assert 'exec python-under-test "$@"' in script
    assert os.path.dirname(os.path.dirname(pyspark.__file__)) in script


def test_repeated_plan_cycle_compiles_nothing(spark):
    # 150 distinct whole-stage classes. Spark's default cache of 100 entries is
    # four LRU segments of 25, and a cycle this long overflows every segment:
    # at the default the second round recompiles all 150.
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_round():
        before = compiles.getCount()
        for i in range(150):
            df = spark.range(0, 1, 1, 1).selectExpr(f"id * 7919 + {i} AS v")
            # planning a fresh DataFrame for execution compiles its class on
            # the driver (or finds it in the cache); no job runs
            df._jdf.queryExecution().executedPlan().execute()
        return compiles.getCount() - before

    assert one_round() >= 150
    assert one_round() == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
