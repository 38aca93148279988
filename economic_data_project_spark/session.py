"""SparkSession factory.

The reference delegates execution to BigQuery/DuckDB; here Catalyst+Tungsten
is the engine, so session-level tuning is where warehouse defaults live:

- AQE on (runtime coalesce + skew-join handling — replaces the warehouse's
  opaque adaptive execution).
- Arrow on (fast pandas interchange for the ``applyInPandas`` signal kernels,
  mirroring the reference's Arrow->Polars boundary at
  bigquery_warehouse.py:284-299).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  correctness oracle.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster this should be ~2-3x total executor cores (AQE coalesces down).
- ``spark.sql.codegen.cache.maxEntries`` raised from Spark's 100 to
  ``CODEGEN_CACHE_ENTRIES``. The cache maps generated Java source to its
  compiled class, so a query whose plan was seen before skips the Janino
  compile. Distinct compiles measured at sf0.001 on local[4]: 138 for
  one pass of perfbench's analyst mix, 996 for the 42 bench headline
  rows, about 3,300 for one pass over all 173 registry queries. At 100
  entries a warm session cycling over even the analyst mix missed ~90
  times per pass; at 4096 a warm pass compiles none.
  The setting is static: ``CodeGenerator`` builds its cache once per JVM
  from the conf active at the first codegen, so ``tune_session`` cannot
  apply it and an externally created session (the correctness driver's)
  keeps 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The next power of two above the whole registry's working set of
# generated classes (3,237 and 3,305 distinct compiles in two single
# passes over all 173 queries, sf0.001, local[4]), so a session cycling
# over any subset of the registry never thrashes the LRU. Spark's
# default is 100.
CODEGEN_CACHE_ENTRIES = 4096


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver's cwd/PYTHONPATH.

    Pandas UDFs that call module-level helpers (e.g. the HTML extractor)
    are serialized with those helpers as by-reference globals, so the
    worker must import ``economic_data_project_spark`` itself. That held
    only when the driver happened to run from the repo root (cwd on
    sys.path) — a driver started anywhere else got an opaque worker
    ImportError. Ship the package the way spark-submit's ``--py-files``
    does: zip it and ``addPyFile`` it (SparkFiles adds the zip to every
    worker's sys.path). The zip NAME carries a content hash of the
    source tree: ``addPyFile`` serves the file at worker-fetch time, so
    a fixed shared path would let a concurrent driver from another
    checkout (e.g. a git worktree) clobber the file between this
    session's add and its workers' fetch — content-addressed names make
    that race impossible, and same-content rebuilds are no-ops.
    Re-adding an identical path to a JVM is a no-op warning."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.join(_PKG_ROOT, "economic_data_project_spark")
    try:
        sources = []
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    sources.append(
                        (os.path.relpath(full, _PKG_ROOT), full)
                    )
        sources.sort()
        h = hashlib.md5()
        for rel, full in sources:
            h.update(rel.encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
        zip_path = os.path.join(
            tempfile.gettempdir(),
            f"economic_data_project_spark_pkg.{h.hexdigest()[:16]}.zip",
        )
        if not os.path.exists(zip_path):
            tmp = f"{zip_path}.{os.getpid()}.tmp"
            with zipfile.ZipFile(tmp, "w") as zf:
                for rel, full in sources:
                    zf.write(full, rel)
            os.replace(tmp, zip_path)
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # driver cwd = repo root still works; best-effort hardening


def get_spark(
    app_name: str = "economic-data-project-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session with warehouse-grade defaults."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(env_cpus) if env_cpus else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python-side call-site capture for error context costs ~3 extra
        # py4j round trips per DataFrame API call — measured 2.1s of the
        # 3.4s construction time of the sensitivity model chain alone
        # (r15). Static conf, so it must be set at builder time; driver
        # -provided sessions get the same effect via tune_session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
    )
    spark = builder.getOrCreate()
    _disable_pyspark_callsite_capture()
    _ship_package(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (one per miss of
    the generated-code cache): Spark's ``CodegenMetrics`` compilation
    histogram count, JVM-wide across sessions."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def _disable_pyspark_callsite_capture() -> None:
    """Turn off pyspark's per-call call-site capture in THIS process.

    ``spark.python.sql.dataFrameDebugging.enabled`` gates a wrapper
    around every DataFrame/Column API call that issues a conf.get, a
    JVM class lookup and an origin set/clear — 3+ py4j round trips per
    call, pure driver-side overhead (the feature only enriches error
    messages with user call sites). The conf is STATIC, so an
    externally provided session (the correctness driver's) cannot flip
    it; pyspark reads it once into a module-level cache, which is the
    supported-process-wide gate we set here. Best-effort: if the
    private name moves in a future pyspark, we silently keep the
    (correct, slower) default.
    """
    try:
        import pyspark.errors.utils as _eu

        if hasattr(_eu, "_enable_debugging_cache"):
            _eu._enable_debugging_cache = False
    except Exception:
        pass


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally provided session.

    The correctness driver hands us its own SparkSession; only
    runtime-mutable confs can be set here (timezone matters most: the
    DuckDB oracle treats timestamps as UTC-naive).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # non-mutable in some deployments; defaults are acceptable
    _disable_pyspark_callsite_capture()
    _ship_package(spark)
    return spark
