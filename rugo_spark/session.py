"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "rugo_spark",
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for the encode engine.

    Arrow execution is mandatory — every hot-path UDF is ``applyInArrow`` /
    ``mapInArrow`` over RecordBatches (no per-row Python), so
    ``spark.sql.execution.arrow.pyspark.enabled`` is always on.  AQE is on so
    relational glue around the encode job gets runtime re-planning for free.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Python-heavy scan stages (mapInArrow over parquet) need finer
        # splits than the JVM default: 128m coalesces a small-file table
        # into ~cores/4 splits and strands the rest of the cores (measured
        # 10× on the map-only encode). On a production cluster with
        # plentiful splits, raise this back toward 128m.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MPB", "16m"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # the 'rugo' Python DataSource prunes blocks/stripes via pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # effective only for python-launched drivers (the JVM starts here);
        # under spark-submit the driver JVM already exists — size it with
        # spark-submit --driver-memory, this setting is silently ignored.
        # 12g default: 32 concurrent local tasks × (parquet reader batches +
        # window sort pages + Arrow runner buffers) made an 8g heap
        # GC-pressure-bound at bench scale (guide §5: size memory to
        # concurrent tasks); parameterised — clusters size executors
        # explicitly and this knob only shapes the local driver JVM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # JDK 17 GCLocker starvation workaround: 32 tasks in JNI critical
        # sections (zstd/parquet/Arrow) can make a ~MB allocation throw a
        # spurious OOM after only 2 GCLocker retries (observed killing a
        # bench run mid-shuffle: "Retried waiting for GCLocker too often");
        # raising the retry count is the documented mitigation until the
        # GCLocker redesign in later JDKs.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def install_lazy_zip_invalidation() -> None:
    """Backport CPython 3.13's lazy zip-directory invalidation into a PySpark
    worker.

    pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
    before every task; below 3.13 that makes each ``zipimporter`` on
    ``sys.path_importer_cache`` (~16 over ``pyspark.zip``) re-read its
    archive's directory (1,328 entries), which cost more per task than the
    codec kernels.  As in 3.13, ``invalidate_caches`` only drops the archive
    from ``zipimport._zip_directory_cache`` and importers read their file
    table through that cache, so an archive is re-read at most once, on next
    use.  The cache re-reads a dropped archive itself, so ``pkgutil``, which
    indexes it directly, keeps working.  Active only inside a PySpark worker
    (``PYTHON_WORKER_FACTORY_SECRET`` set) and only below 3.13.
    """
    if sys.version_info >= (3, 13) or not os.environ.get("PYTHON_WORKER_FACTORY_SECRET"):
        return
    import zipimport

    class DirectoryCache(dict):
        def __missing__(self, archive):
            self[archive] = found = zipimport._read_directory(archive)
            return found

    def files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except zipimport.ZipImportError:  # the archive is gone or broken
            return {}

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport._zip_directory_cache = DirectoryCache(zipimport._zip_directory_cache)
    # __init__ fills the cache before it assigns _files: the setter drops it
    zipimport.zipimporter._files = property(files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
