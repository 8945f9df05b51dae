"""SparkSession factory with scale-oriented defaults.

Local mode stands in for a multi-executor cluster in this sandbox; the same
configs (AQE, Arrow batching, shuffle sizing) are the ones that matter on a
real 1000-executor deployment.

Generated-code cache.  Spark compiles each whole-stage and expression class
with Janino and keeps the result in ``CodeGenerator``'s cache, keyed by the
generated source.  Its default 100 entries are fewer than a mix of sketch
queries uses: twelve query shapes (table, value column, ``by``, number of
quantiles, alpha, path) need more than 100 classes (11-15 each), so the cache
evicts classes between uses and a repeat call recompiles ~10 of them
(4-20), then runs them cold in the JIT.  :func:`get_spark` sets
``spark.sql.codegen.cache.maxEntries`` to 1000 (sketch-query classes
average 2.6 KB of bytecode, so a full cache holds ~3 MB).  It is a *static* SQL conf, read once when the JVM's
``CodeGenerator`` first compiles: it must be set when the session is built,
and ``spark.conf.set`` on a running session has no effect.
:func:`codegen_counters` reads the JVM's compile count and time.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession


def package_pyfiles(out_dir: str = "/tmp") -> str:
    """Zip the ddspark package for shipping to executors.

    This is the ``spark-submit --py-files`` artifact on a real cluster; in
    local mode :func:`get_spark` attaches it with ``addPyFile`` so executor
    Python workers can unpickle our UDF closures regardless of the driver's
    working directory.
    """
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(out_dir, "ddspark_pyfiles.zip")
    tmp = out + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join("ddspark", os.path.relpath(full, pkg_root))
                zf.write(full, rel)
    os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "ddspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # static: see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4's Arrow batching enforces maxBytesPerBatch (default 64 MB)
        # by calling ArrowWriter.sizeInBytes() — a full vector-tree walk —
        # after EVERY row written to a Python stage.  Profiling shows that
        # walk costing ~1.5 us/row, ~70% of all JVM CPU under mapInPandas
        # (6 M narrow rows: 1.9 s -> 0.55 s without it).  Int.MaxValue is
        # the upstream sentinel that skips the per-row size check entirely
        # (BatchedPythonArrowInput.underBatchSizeLimit); batches stay
        # bounded by maxRecordsPerBatch above.  Blob stages re-enable a
        # byte cap via multimodal.configure_blob_batches, where rows are
        # MBs and the walk is amortized.
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("DDSPARK_ARROW_MAX_BYTES", "2147483647"),
        )
        # pandas round-trips of struct columns as dicts (sketch state rows)
        .config("spark.sql.execution.pandas.structHandlingMode", "row")
        .config("spark.driver.memory", os.environ.get("DDSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # bucketed tables (io.write_bucketed) land here, not in the repo cwd
        .config("spark.sql.warehouse.dir", os.environ.get(
            "DDSPARK_WAREHOUSE", "/tmp/ddspark_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.addPyFile(package_pyfiles())
    except Exception:
        pass  # already added in this context, or a non-writable tmp
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """``(classes compiled, compile ms)`` since the JVM started: the Janino
    compile count (``CodegenMetrics``) and total compile time
    (``CodeGenerator.compileTime``).  Only a cache miss compiles, so the
    difference of two readings is what the calls between them compiled."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return int(count), nanos / 1e6
