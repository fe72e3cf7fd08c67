"""SparkSession factory.

Local-mode defaults are sized for the sandbox (local[N], single JVM); on a
real cluster the same code runs via ``spark-submit --py-files engine.zip``
with executor-count-scaled shuffle partitions (see scripts/build_index.py).
"""

from __future__ import annotations

import os
import shutil
import tempfile

# archive path -> (st_mtime_ns, st_size) at its last directory read
_zip_read_stat: dict = {}


def install_zip_refresh_check() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive only when
    its (st_mtime_ns, st_size) differs from the last read.

    pyspark's worker calls `importlib.invalidate_caches()` before every
    task, and the stock zipimporter answers by re-reading its whole
    archive directory: once per cached importer, and every imported
    pyspark sub-package has its own importer on pyspark.zip, next to
    the spark-core jar and the shipped engine zip. On CPython 3.11 that
    re-read cost every Python task 0.18-0.29 s (4-vCPU box) before user
    code started. An archive that was
    rewritten (new mtime or size) is still re-read, so a module added
    to it stays importable. Idempotent; the package __init__ calls it,
    so every worker that unpickles an engine kernel gets it."""
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "__module__", None) == __name__:
        return
    refresh = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and _zip_read_stat.get(self.archive) == stamp:
            # unchanged since the last read: share that read's directory
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        refresh(self)
        _zip_read_stat[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches


def ship_package(spark) -> None:
    """Ship this package to executors — the local-mode equivalent of
    ``spark-submit --py-files engine.zip``. Without it, pandas-UDF /
    mapInPandas workers can't unpickle functions defined in this package
    when the driver's cwd isn't the repo root."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"lse_spark_pkg_{os.getpid()}"
    )
    archive = shutil.make_archive(zip_path, "zip", root_dir=root,
                                  base_dir=os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(archive)


def get_spark(
    app_name: str = "local-search-engine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",  # measured: a 48g heap is ~25% SLOWER than
    # 16g for the allocation-heavy tokenize scan in local mode (G1 region
    # count scales with heap); plenty for every SF this sandbox runs
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_memory_mb: int = 6144,
):
    """Create (or get) a SparkSession.

    cores: local[N] thread count; None → $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions defaults to the core count — the right size for
    local mode (the 200 default over-parallelizes small SFs); on a real
    cluster set it to ~2-3x total executor cores.

    executors: when set, use local-cluster[executors, cores, mem] —
    real separate executor JVMs on this machine. This is the faithful
    single-box emulation of an N-executor cluster: each executor has its
    own heap, so allocation/GC pressure does not compound across cores
    the way it does in one local[N] JVM (measured: the tokenize scan
    does not scale AT ALL inside one 32-thread JVM, but scales 3.1x
    from 2 to 8 separate 4-core executor JVMs). `cores` then means
    cores PER EXECUTOR; shuffle_partitions defaults to executors*cores.
    """
    from pyspark.sql import SparkSession

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if executors:
        master = f"local-cluster[{executors},{cores},{executor_memory_mb}]"
        total_cores = executors * int(cores)
    else:
        master = f"local[{cores}]"
        total_cores = int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(total_cores, 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.executor.memory", f"{executor_memory_mb}m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE skew-join handles join-side skew at runtime; groupBy-side
        # hot-term skew is handled explicitly by doc-range sharding in
        # operators/build.py (SURVEY.md §4.2 "skew handling").
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        # cached-plan columnar compression (dictionary/RLE of millions of
        # term strings) measured 2.5x slower than raw caching on the tf
        # table; trade memory for CPU — index caches are short-lived
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # wide aggregations (16-col MinHash, 60-col SimHash bit-sums)
        # must stay inside whole-stage codegen; the default 100-field cap
        # silently drops them to interpreted eval (measured 1.4x slower)
        .config("spark.sql.codegen.maxFields", "500")
        # list up to 4096 paths on the driver instead of in a Spark job:
        # the store's tables (local file system) have up to a few hundred
        # partition directories (64 positional or trigram buckets, 256
        # SRP buckets at bits 8), and past the default cut-off of 32
        # opening each would run a listing job
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark
