"""SparkSession builder with the engine's scale-oriented defaults.

Local mode stands in for a multi-executor cluster in this sandbox; the
conf choices are the ones that matter at 100 TB: AQE (runtime re-plan,
skew-join splitting, partition coalescing), Arrow batching sized so
``maxRecordsPerBatch x max_seq_len x num_tags`` fits executor memory, and
python worker reuse so a task's worker is already up and its imports done
(the tagger itself is still built once per task).

Cold start: the JVM a session launches maps the classes of earlier
sessions from a class-data-sharing archive instead of loading and
verifying them again (``cds_java_options``), and its JIT compilers spend
a pass only on code that stays hot (``JIT_OPTIONS``).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import shlex
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CDS_DIR = "spark-kg-cds"
# Every compile tier waits for 4x HotSpot's invocation and back-edge counts,
# so C2 compiles only what stays hot and skips the lukewarm code that cost
# about half of a cold pass's CPU (BASELINE.md, "JIT policy").  Driver JVM
# only: in local mode it runs the tasks too; cluster executors are
# long-lived and keep HotSpot's defaults.
JIT_OPTIONS = "-XX:CompileThresholdScaling=4"
# Arrow records per batch into a python UDF: maxRecordsPerBatch x
# max_seq_len x num_tags floats must fit executor memory
ARROW_BATCH = 1024
log = logging.getLogger(__name__)


_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_sources() -> list[str]:
    return sorted(
        os.path.join(dirpath, fn)
        for dirpath, _dirnames, filenames in os.walk(_PKG_ROOT)
        for fn in filenames
        if fn.endswith(".py")
    )


def write_package_zip(zpath: str) -> str:
    """Zip every ``.py`` file of this package under its path relative to
    the package's parent directory — the archive ``--py-files`` and
    ``addPyFile`` take.  Written beside ``zpath`` and renamed, so no
    reader sees half an archive."""
    base = os.path.dirname(_PKG_ROOT)
    tmp = zpath + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for full in _package_sources():
            zf.write(full, os.path.relpath(full, base))
    os.replace(tmp, zpath)
    return zpath


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executor python workers (the programmatic
    equivalent of ``spark-submit --py-files engine.zip``).  Local mode
    usually inherits the driver's sys.path, but a driver launched from
    another cwd — or a real multi-executor cluster — needs the archive.
    The archive name is keyed on the package path, so two checkouts that
    share a temp dir never ship each other's code."""
    key = hashlib.sha256(_PKG_ROOT.encode()).hexdigest()[:16]
    zpath = os.path.join(tempfile.gettempdir(), f"pytorch_bert_bilstm_crf_ner_spark-{key}.zip")
    newest = max(os.path.getmtime(p) for p in _package_sources())
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < newest:
        write_package_zip(zpath)
    spark.sparkContext.addPyFile(zpath)
    return zpath


def session_conf(
    app_name: str = "kg-construct",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> dict:
    """The Spark conf ``get_spark`` builds its session from: the engine's
    defaults, then ``extra_conf`` over them, then :data:`JIT_OPTIONS` in
    front of the driver's JVM options, where a caller's own value of the
    same flag comes later and wins."""
    cores = (cores or int(os.environ.get("SPARK_GRAFT_CPUS", 0))
             or len(os.sched_getaffinity(0)))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.python.worker.reuse": "true",
        # generated-class cache (LRU, default 100 entries): one KG pass
        # compiles ~150 distinct classes, so at 100 every rerun of the
        # pass missed on every class — Janino recompiled all of them and
        # the JIT re-warmed the fresh classes, the largest CPU cost of a
        # warm pass
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.executorEnv.MKL_NUM_THREADS": "1",
        # shuffle/spill on tmpfs: the sandbox disk does ~230 MB/s and
        # concurrent shuffle writers thrash it; a real cluster would have
        # NVMe-backed local dirs
        "spark.local.dir": (
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
            if os.path.isdir("/dev/shm")
            else os.environ.get("SPARK_LOCAL_DIRS", "/tmp")
        ),
        # managed tables (saveAsTable) land outside the repo
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_WAREHOUSE_DIR",
            os.path.join(tempfile.gettempdir(), "spark-warehouse"),
        ),
    }
    conf.update(extra_conf or {})
    conf["spark.driver.extraJavaOptions"] = (
        f"{JIT_OPTIONS} {conf.get('spark.driver.extraJavaOptions', '')}".strip())
    return conf


def _default_heap() -> str:
    """Half of physical memory, at most 31g: from -Xmx32g up HotSpot turns
    compressed oops off, and every object pointer doubles in width."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    return f"{min(half_mb, 31 * 1024)}m"


def cds_java_options(driver_memory: str, java_options: str = "") -> str:
    """``java_options`` with a class-data-sharing flag appended, for a driver
    JVM that is about to be launched with ``-Xmx<driver_memory>``.

    The archive is ``<tmp>/spark-kg-cds/<key>.jsa``, keyed on the java
    binary, the classpath and the JVM options.  When it exists and a probe
    JVM starts from it, the flag is ``-XX:SharedArchiveFile``; otherwise it
    is ``-XX:ArchiveClassesAtExit`` to a file named after this process, so
    the JVM writes the archive, with every class the session loaded, when
    it exits.  A later call adopts such a dump once its writer has ended.

    The dump refuses a non-empty directory on the classpath, and the conf
    dir is one: when it holds only templates, ``SPARK_CONF_DIR`` is pointed
    at an empty one; when it holds a real file, the JVM starts without
    sharing."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir):
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
        if real:
            log.warning("starting the Spark JVM without class-data sharing: "
                        "%s on its classpath holds %s",
                        conf_dir, os.path.join(conf_dir, real[0]))
            return java_options
    root = os.path.join(tempfile.gettempdir(), CDS_DIR)
    conf_dir = os.path.join(root, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf_dir

    # the java that spark-class runs
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java") or "java")
    jvm_options = f"-Xmx{driver_memory} {java_options}".strip()
    key = hashlib.sha256(f"{jvm_options}\0{conf_dir}".encode())
    for path in [os.path.realpath(java),
                 *sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))]:
        st = os.stat(path)
        key.update(f"\0{path} {st.st_size} {st.st_mtime_ns}".encode())
    archive = os.path.join(root, key.hexdigest()[:24] + ".jsa")

    usable = os.path.exists(archive) and _starts_sharing(java, jvm_options, archive)
    if not usable:
        with contextlib.suppress(FileNotFoundError):
            os.remove(archive)
    for dump in glob.glob(glob.escape(archive) + ".*.tmp"):
        writer = dump[len(archive) + 1:-len(".tmp")]
        if writer.isdigit() and _alive(int(writer)):
            continue
        # a dump whose writer was killed is truncated: mapping it crashes
        # the JVM (SIGBUS), so it is adopted only when a probe starts from it
        with contextlib.suppress(FileNotFoundError):
            if not usable and _starts_sharing(java, jvm_options, dump):
                os.replace(dump, archive)
                usable = True
            else:
                os.remove(dump)
    if usable:
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        # the dump warns about every class it skips; keep its errors only
        flag = f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}.tmp -Xlog:cds*=error"
    return f"{java_options} {flag}".strip()


def _starts_sharing(java: str, jvm_options: str, archive: str) -> bool:
    """Whether a JVM with these options starts from ``archive``: a truncated
    archive aborts it, and one it cannot read makes it drop all sharing,
    the JDK's own archive included, which its version banner then omits."""
    try:
        probe = subprocess.run(
            [java, *shlex.split(jvm_options), f"-XX:SharedArchiveFile={archive}",
             "-XX:+SuppressFatalErrorMessage", "-XX:-CreateCoredumpOnCrash", "-version"],
            capture_output=True, timeout=60,
        )
    except subprocess.TimeoutExpired:
        return False
    return probe.returncode == 0 and b"sharing" in probe.stderr


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def get_spark(
    app_name: str = "kg-construct",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # One Spark task = one python worker = ONE BLAS thread.  Without this,
    # every worker's numpy spawns n_cpu OpenBLAS threads (cores x 32
    # threads total) and the tag stage runs SLOWER with more cores.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    conf = session_conf(app_name, cores, shuffle_partitions, extra_conf)
    # only a JVM this call launches can start from an archive; spark-submit
    # or an earlier session has one up already
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        conf["spark.driver.extraJavaOptions"] = cds_java_options(
            conf["spark.driver.memory"], conf.get("spark.driver.extraJavaOptions", ""))
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
