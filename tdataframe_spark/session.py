"""SparkSession factory tuned for this engine.

Defaults target the local[N] test/bench environment but every setting is the
one we would ship on a 1000-executor cluster: AQE on (runtime re-plan, skew
join handling, partition coalescing), Arrow for any Python<->JVM data
movement, UTC session timezone (determinism + oracle parity), and shuffle
partitions sized to the parallelism at hand rather than the 200 default.

In local mode every Python process Spark starts -- the UDF daemon, pandas and
Arrow UDF workers, data-source planner runners, streaming source and sink
runners -- goes through a two-line ``/bin/sh`` launcher that imports the
driver's installed, byte-compiled PySpark. Without it Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` first on every worker's ``PYTHONPATH``;
the zip holds only ``.py`` files and zipimport caches no bytecode, so each
fresh process recompiles PySpark (``import pyspark.sql, pyspark.worker``: ~1.2 s
from the zip, ~0.4 s compiled, 4 cores). Results do not change, only where
``pyspark``/``py4j`` are imported from. The launcher is skipped off a local
master, when the driver's PySpark is not the JVM's version, and when the temp
directory cannot execute scripts; see ``_install_worker_launcher``.

Spark keeps the classes Janino compiles for generated code in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. An LRU cache
gets no hits when the plans a session cycles through need more entries than it
holds: every class is evicted before its plan runs again. One framebench
``query_lakehouse`` pass needs ~184 entries and one pass of all 197 registry
queries at sf0.01 ~2 540, so at the default every warm lakehouse pass
recompiled 164-168 classes, and the JIT warmed each new class up again.
``get_spark`` sizes the cache to ``CODEGEN_CACHE_ENTRIES``: a warm lakehouse
pass compiles 0 classes and takes ~20% less CPU time (4 cores).
"""

from __future__ import annotations

import os
import re
import shlex
import tempfile

import pyspark
from pyspark import SparkFiles
from pyspark.sql import SparkSession

# generated classes kept per JVM; holds the registry's ~2 540-entry working set
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "tdataframe-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then to the machine's CPU count.

    On a local master the session's Python workers and runners start from the
    driver's compiled PySpark instead of Spark's source-only ``pyspark.zip``
    (module docstring). It is skipped when the driver's PySpark version differs
    from the JVM's or the launcher script cannot be executed, and a second call
    on a running session does not wrap it twice. ``PYTHONPATH`` or
    ``spark.executorEnv.PYTHONPATH`` cannot do this: Spark appends both after
    the zip.

    The codegen class cache holds ``CODEGEN_CACHE_ENTRIES`` classes instead of
    Spark's 100, so a plan shape seen earlier in the session reuses its loaded,
    JIT-warmed class instead of being recompiled. Spark's LRU gets no hits once
    the cycle of plans is larger than the cache: a framebench
    ``query_lakehouse`` pass cycles ~184 entries, the 197-query registry
    ~2 540. The setting is static (Spark reads it once per JVM), and
    ``extra_conf`` overrides it like every other default.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 4)
    cpus = int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime row-level join pruning: inject a bloom filter built from
        # the filtered small side into the big side's scan — on a selective
        # dim-fact join this cuts the fact shuffle before it happens (off by
        # default in Spark; a pure win at 100 TB, negligible below).
        # Do NOT also enable runtimeFilter.semiJoinReduction: on this Spark
        # build it sends bucketed-join planning into a loop (test hang).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # many distinct codegen'd plans in one session exhaust the default
        # 240m code cache, silently disabling JIT and slowing late queries
        # 20-40x; reserve enough and allow flushing
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _install_worker_launcher(spark)
    return spark


def _install_worker_launcher(spark: SparkSession) -> bool:
    """Start the Python processes Spark launches from the driver's PySpark.

    Writes a ``/bin/sh`` script into ``SparkFiles.getRootDirectory()``, which
    Spark deletes at ``stop()``. The script prepends the directory holding the
    driver's ``pyspark`` package to ``PYTHONPATH`` and ``exec``s the previous
    ``sc.pythonExec`` with ``"$@"``; ``exec`` keeps the PID, so no extra process
    is left behind. ``sc.pythonExec`` then points at the script. Every UDF,
    UDTF and ``DataSource`` wrap reads ``sc.pythonExec`` when it is created, so
    nothing else changes.

    Returns False and changes nothing unless the master is local, the driver's
    ``pyspark.__version__`` equals the JVM's ``spark.version`` (the worker
    protocol must match the JVM, and the zip always does) and the script is
    executable after ``chmod`` (a ``noexec`` temp mount falls back). It also
    returns False when ``sc.pythonExec`` already is a launcher.

    Rejected alternatives: ``spark.executorEnv.PYTHONPATH`` or a driver
    ``PYTHONPATH`` (Spark appends both after the zip); rebuilding the zip with
    bytecode, or pointing ``SPARK_HOME`` elsewhere (both edit or replace the
    Spark install).
    """
    sc = spark.sparkContext
    root = SparkFiles.getRootDirectory()
    if (
        not re.fullmatch(r"local(\[.*\])?", sc.master)
        or pyspark.__version__ != spark.version
        or os.path.dirname(sc.pythonExec) == root
    ):
        return False
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    fd, script = tempfile.mkstemp(prefix="python-", suffix=".sh", dir=root)
    with os.fdopen(fd, "w") as f:
        f.write(
            "#!/bin/sh\n"
            f'export PYTHONPATH={shlex.quote(site)}"${{PYTHONPATH:+:$PYTHONPATH}}"; '
            f'exec {shlex.quote(sc.pythonExec)} "$@"\n'
        )
    os.chmod(script, 0o700)
    if not os.access(script, os.X_OK):
        os.remove(script)
        return False
    sc.pythonExec = script
    return True
