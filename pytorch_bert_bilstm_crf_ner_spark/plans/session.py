"""SparkSession builder with the engine's scale-oriented defaults.

Local mode stands in for a multi-executor cluster in this sandbox; the
conf choices are the ones that matter at 100 TB: AQE (runtime re-plan,
skew-join splitting, partition coalescing), Arrow batching sized so
``maxRecordsPerBatch x max_seq_len x num_tags`` fits executor memory, and
python worker reuse so a task's worker is already up and its imports done
(the tagger itself is still built once per task).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executor python workers (the programmatic
    equivalent of ``spark-submit --py-files engine.zip``).  Local mode
    usually inherits the driver's sys.path, but a driver launched from
    another cwd — or a real multi-executor cluster — needs the archive."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.dirname(pkg_root)
    sources = [
        os.path.join(dirpath, fn)
        for dirpath, _dirnames, filenames in os.walk(pkg_root)
        for fn in filenames
        if fn.endswith(".py")
    ]
    zpath = os.path.join(tempfile.gettempdir(), "pytorch_bert_bilstm_crf_ner_spark.zip")
    newest = max(os.path.getmtime(p) for p in sources)
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < newest:
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full in sorted(sources):
                zf.write(full, os.path.relpath(full, base))
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    return zpath


def get_spark(
    app_name: str = "kg-construct",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 1024,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    # One Spark task = one python worker = ONE BLAS thread.  Without this,
    # every worker's numpy spawns n_cpu OpenBLAS threads (cores x 32
    # threads total) and the tag stage runs SLOWER with more cores.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.python.worker.reuse", "true")
        # generated-class cache (LRU, default 100 entries): one KG pass
        # compiles ~150 distinct classes, so at 100 every rerun of the
        # pass missed on every class — Janino recompiled all of them and
        # the JIT re-warmed the fresh classes, the largest CPU cost of a
        # warm pass
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # shuffle/spill on tmpfs: the sandbox disk does ~230 MB/s and
        # concurrent shuffle writers thrash it; a real cluster would have
        # NVMe-backed local dirs
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
            if os.path.isdir("/dev/shm")
            else os.environ.get("SPARK_LOCAL_DIRS", "/tmp"),
        )
        # managed tables (bucketing) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "spark-warehouse"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
