"""Session start-up: the class-data-sharing archive lifecycle of
``plans/session.py::cds_java_options`` and the session defaults.

Most cases call the option builder directly, under a per-test temp root,
and need no Spark JVM.  Archives are real dynamic dumps of a bare
``java -version`` run (~100 KB), so the probe they go through is the real
one.
"""

from __future__ import annotations

import logging
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from pytorch_bert_bilstm_crf_ner_spark.plans import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "1g"


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A fresh temp root and a conf dir that holds only a template."""
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr("tempfile.tempdir", None)
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    return tmp_path


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def dump_archive(path) -> None:
    """A small, valid dynamic archive made with the options the probe uses."""
    subprocess.run(
        [java(), f"-Xmx{HEAP}", "-Xlog:cds*=error", f"-XX:ArchiveClassesAtExit={path}",
         "-version"],
        check=True, capture_output=True,
    )
    assert os.path.getsize(path) > 0


def ended_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def miss_archive(options: str) -> str:
    """The archive path a miss flag writes to, minus the writer suffix."""
    flag = next(o for o in options.split() if o.startswith("-XX:ArchiveClassesAtExit="))
    dump = flag.split("=", 1)[1]
    assert dump.endswith(f".jsa.{os.getpid()}.tmp")
    return dump[: -len(f".{os.getpid()}.tmp")]


def test_miss_writes_pid_named_dump(cds_env):
    opts = session.cds_java_options(HEAP)
    archive = miss_archive(opts)
    assert os.path.dirname(archive) == str(cds_env / session.CDS_DIR)
    # the template-only conf dir is swapped for an empty one the dump accepts
    conf = os.environ["SPARK_CONF_DIR"]
    assert conf == str(cds_env / session.CDS_DIR / "conf") and not os.listdir(conf)
    # same inputs, same key; another heap, another key
    assert miss_archive(session.cds_java_options(HEAP)) == archive
    assert miss_archive(session.cds_java_options("2g")) != archive


def test_finished_dump_is_adopted_then_used(cds_env):
    archive = miss_archive(session.cds_java_options(HEAP))
    dump = f"{archive}.{ended_pid()}.tmp"
    dump_archive(dump)
    size = os.path.getsize(dump)
    opts = session.cds_java_options(HEAP)
    assert opts == f"-XX:SharedArchiveFile={archive}"
    assert not os.path.exists(dump) and os.path.getsize(archive) == size
    # the next session starts from it again
    assert session.cds_java_options(HEAP) == opts


def test_dump_of_a_live_writer_is_left_alone(cds_env):
    archive = miss_archive(session.cds_java_options(HEAP))
    dump = f"{archive}.{os.getpid()}.tmp"
    dump_archive(dump)
    assert session.cds_java_options(HEAP).startswith("-XX:ArchiveClassesAtExit=")
    assert os.path.exists(dump) and not os.path.exists(archive)


@pytest.mark.parametrize("as_dump", [True, False], ids=["dump", "archive"])
def test_truncated_archive_is_deleted(cds_env, as_dump):
    archive = miss_archive(session.cds_java_options(HEAP))
    full = str(cds_env / "full.jsa")
    dump_archive(full)
    bad = f"{archive}.{ended_pid()}.tmp" if as_dump else archive
    with open(full, "rb") as src, open(bad, "wb") as dst:
        dst.write(src.read(os.path.getsize(full) // 2))
    opts = session.cds_java_options(HEAP)
    assert opts.startswith(f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}.tmp")
    assert not os.path.exists(bad) and not os.path.exists(archive)


def test_garbage_dump_is_deleted(cds_env):
    # the JVM would start from it without error, but with no sharing at all
    archive = miss_archive(session.cds_java_options(HEAP))
    dump = f"{archive}.{ended_pid()}.tmp"
    with open(dump, "wb") as f:
        f.write(os.urandom(1 << 16))
    assert session.cds_java_options(HEAP).startswith("-XX:ArchiveClassesAtExit=")
    assert not os.path.exists(dump) and not os.path.exists(archive)


def test_caller_options_are_kept(cds_env):
    caller = "-Djava.io.tmpdir=/x -XX:-UsePerfData -Xms1g"
    opts = session.cds_java_options(HEAP, caller)
    assert opts.startswith(caller + " -XX:ArchiveClassesAtExit=")
    # the caller's options are part of the key
    assert miss_archive(opts) != miss_archive(session.cds_java_options(HEAP))


def test_real_conf_file_skips_sharing(cds_env, caplog):
    conf = os.environ["SPARK_CONF_DIR"]
    real = os.path.join(conf, "spark-defaults.conf")
    with open(real, "w") as f:
        f.write("spark.ui.enabled false\n")
    caller = "-Xms1g"
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.cds_java_options(HEAP, caller) == caller
    assert [r.getMessage() for r in caplog.records if real in r.getMessage()]
    assert os.environ["SPARK_CONF_DIR"] == conf
    assert not os.path.exists(cds_env / session.CDS_DIR)


def test_truncated_archive_does_not_crash_a_session(cds_env):
    """A fresh interpreter meets a truncated archive under its own key,
    starts a session anyway, and its JVM leaves a new dump at exit."""
    conf = session.session_conf()
    archive = miss_archive(session.cds_java_options(
        conf["spark.driver.memory"], conf["spark.driver.extraJavaOptions"]))
    full = str(cds_env / "full.jsa")
    dump_archive(full)
    with open(full, "rb") as src, open(archive, "wb") as dst:
        dst.write(src.read(os.path.getsize(full) // 2))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark import SparkContext
        from pytorch_bert_bilstm_crf_ner_spark.plans.session import get_spark
        spark = get_spark(app_name="cds-truncated", cores=1)
        print("count", spark.range(1).count())
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    res = subprocess.run([sys.executable, "-c", script], env=env, cwd=str(cds_env),
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    assert "count 1" in res.stdout
    dumps = [n for n in os.listdir(os.path.dirname(archive)) if n.endswith(".tmp")]
    assert not os.path.exists(archive) and len(dumps) == 1
    shutil.rmtree(os.path.dirname(archive))  # ~150 MB


def test_default_cores_follow_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.session_conf()["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.session_conf()["spark.master"] == "local[3]"
    assert session.session_conf(cores=2)["spark.master"] == "local[2]"


def test_default_heap_keeps_compressed_oops(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session.session_conf()["spark.driver.memory"]
    assert heap.endswith("m") and int(heap[:-1]) <= 31 * 1024
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session.session_conf()["spark.driver.memory"] == "2g"


def vm_option(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption(name).getValue()


def test_session_jvm_uses_compressed_oops(spark):
    assert vm_option(spark, "UseCompressedOops") == "true"


def test_jit_options_go_before_the_callers():
    assert session.session_conf()["spark.driver.extraJavaOptions"] == session.JIT_OPTIONS
    caller = "-XX:CompileThresholdScaling=1 -Dx=y"
    conf = session.session_conf(extra_conf={"spark.driver.extraJavaOptions": caller})
    # HotSpot takes a flag's last occurrence, so the caller's value wins
    assert conf["spark.driver.extraJavaOptions"] == f"{session.JIT_OPTIONS} {caller}"


def test_session_jvm_uses_jit_policy(spark):
    assert float(vm_option(spark, "CompileThresholdScaling")) == 4


def test_running_gateway_is_left_alone(spark, monkeypatch):
    def launch(*_args):
        raise AssertionError("the session's JVM is already up")

    monkeypatch.setattr(session, "cds_java_options", launch)
    assert session.get_spark(app_name="tests", cores=4, shuffle_partitions=8) is spark


def test_shipped_and_spark_submit_archives_list_the_same_names(tmp_path, monkeypatch):
    """``ship_package`` (addPyFile) and ``scripts/make_pyfiles.py``
    (``--py-files``) write the same archive: every package ``.py`` file,
    named relative to the repo root.  Spark-free: the session is a stub."""
    import importlib.util
    import types
    import zipfile

    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    added = []
    stub = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=added.append))
    shipped = session.ship_package(stub)
    assert added == [shipped]

    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(REPO, "scripts", "make_pyfiles.py"))
    make_pyfiles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(make_pyfiles)
    monkeypatch.setattr(make_pyfiles, "REPO", str(tmp_path))
    built = make_pyfiles.main()
    assert built == str(tmp_path / "dist" / "engine.zip")

    names = zipfile.ZipFile(shipped).namelist()
    assert names == zipfile.ZipFile(built).namelist()
    pkg = "pytorch_bert_bilstm_crf_ner_spark"
    assert f"{pkg}/plans/session.py" in names
    assert all(n.startswith(pkg + "/") and n.endswith(".py") for n in names)


def test_two_checkouts_ship_two_archives(tmp_path, monkeypatch):
    """Two package roots that share a temp dir get one archive each, each
    holding its own code.  Spark-free: the session is a stub."""
    import types
    import zipfile

    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    stub = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=lambda path: None))
    pkg = "pytorch_bert_bilstm_crf_ner_spark"
    shipped = {}
    for checkout in ("a", "b"):
        root = tmp_path / checkout / pkg
        root.mkdir(parents=True)
        (root / "__init__.py").write_text(f"CHECKOUT = {checkout!r}\n")
        monkeypatch.setattr(session, "_PKG_ROOT", str(root))
        shipped[checkout] = session.ship_package(stub)
    assert shipped["a"] != shipped["b"]
    for checkout, path in shipped.items():
        with zipfile.ZipFile(path) as zf:
            assert zf.read(f"{pkg}/__init__.py").decode() == f"CHECKOUT = {checkout!r}\n"
