"""The session's runtime sizing: the driver JVM's JIT compiler pool and
its class-data-sharing archive (``session._builder``, ``session._cds``,
``session.build_cds_archive``)."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from biomedical_knowledge_graph_spark.session import (
    CDS_CACHE,
    CDS_MAGIC,
    _builder,
    _cds,
    _cds_paths,
    _local_threads,
    build_cds_archive,
    get_spark,
)

JAVA_OPTIONS = "spark.driver.defaultJavaOptions"


def _jvm_flag(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


@pytest.fixture
def fake_spark(tmp_path, monkeypatch):
    """A Spark home (two jars, a template-only conf dir), a ``java`` binary
    and a home dir under ``tmp_path``; returns the home dir."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    for jar in ("a.jar", "b.jar"):
        (spark_home / "jars" / jar).write_bytes(b"jar")
    java_home = tmp_path / "jdk"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_bytes(b"java")
    (java_home / "bin" / "java").chmod(0o755)
    home = tmp_path / "home"
    home.mkdir()
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return home


def _options(master: str = "local[4]", extra_conf=None) -> dict[str, str]:
    return _builder("t", master, None, extra_conf)._options


def _archive(header: bytes = CDS_MAGIC) -> str:
    """Write a file at the archive's path, starting with ``header``."""
    archive = _cds_paths()[0]
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    with open(archive, "wb") as f:
        f.write(header + bytes(60))
    return archive


def test_local_threads():
    assert _local_threads("local[3]") == 3
    assert _local_threads("local[*]") == len(os.sched_getaffinity(0))
    assert _local_threads("local-cluster[1,2,2048]") is None
    assert _local_threads("spark://host:7077") is None


def test_jit_pool_fits_the_fixture_master(spark):
    threads = _local_threads(spark.sparkContext.master)
    count = int(_jvm_flag(spark, "CICompilerCount"))
    if threads is not None and threads <= 4:
        assert count == 2
    else:
        # HotSpot's own choice: at least 2, and 3 from 4 cores up
        jvm_cpus = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().availableProcessors()
        assert count >= (3 if jvm_cpus >= 4 else 2)


def test_cds_archive_fits_the_fixture_master(spark):
    """The fixture JVM never dumps an archive; it maps the cache's archive
    when ``_cds`` finds one for its master."""
    assert _jvm_flag(spark, "ArchiveClassesAtExit") == ""
    used = _jvm_flag(spark, "SharedArchiveFile")
    cds = _cds(spark.sparkContext.master)
    assert used == (cds[0].partition("=")[2] if cds else "")
    if used:
        assert os.path.dirname(used) == os.path.expanduser(CDS_CACHE)


def test_caller_java_options_keep_the_jit_option():
    conf = _options(extra_conf={"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x"})
    assert conf[JAVA_OPTIONS] == "-XX:CICompilerCount=2"
    assert conf["spark.driver.extraJavaOptions"] == "-Djava.io.tmpdir=/x"
    assert JAVA_OPTIONS not in _options("local[5]")
    assert JAVA_OPTIONS not in _options("local-cluster[1,2,2048]")


def test_cds_maps_a_built_archive_only(fake_spark):
    cache = fake_spark / ".cache" / "biomedical_knowledge_graph_spark"
    assert _cds("local[4]") is None  # nothing built: no dump, no flag
    assert not cache.exists()
    archive = _archive()
    assert os.path.dirname(archive) == str(cache)
    assert _cds("local[4]") == (f"-XX:SharedArchiveFile={archive}", str(cache / "conf"))
    assert os.listdir(cache / "conf") == []


def test_cds_drops_a_file_that_is_no_archive(fake_spark):
    """An interrupted copy leaves a zeroed header, which HotSpot would skip
    without a word: the file goes and the JVM starts without a flag."""
    archive = _archive(header=bytes(4))
    assert _cds("local[4]") is None
    assert not os.path.exists(archive)


def test_cds_archive_name_follows_the_jars(fake_spark):
    jar = fake_spark.parent / "spark" / "jars" / "b.jar"
    names = [_cds_paths()[0]]
    jar.write_bytes(b"jar2")
    names.append(_cds_paths()[0])
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    names.append(_cds_paths()[0])
    assert len(set(names)) == 3


def test_cds_off(fake_spark, monkeypatch):
    archive = _archive()
    assert _cds("local-cluster[1,2,2048]") is None
    assert _cds("spark://host:7077") is None
    # a conf dir holding more than templates, Spark's or the caller's
    assert _cds("local[4]") is not None
    conf = fake_spark / "conf"
    conf.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert _cds("local[4]") is not None
    (conf / "log4j2.properties").write_text("")
    assert _cds("local[4]") is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    # a cache that cannot be read
    cache = fake_spark / ".cache"
    os.rename(cache, fake_spark / "cache")
    cache.write_text("")
    assert _cds("local[4]") is None
    assert os.path.exists(fake_spark / "cache" / os.path.relpath(archive, cache))


def _fake_launch(monkeypatch, fail: int = 0) -> list:
    """Replace the JVM launch of a process with no JVM yet: each call
    records its ``SPARK_CONF_DIR`` and JVM options, and the first ``fail``
    calls raise as a JVM that died."""
    calls = []

    def get_or_create(builder):
        calls.append((os.environ.get("SPARK_CONF_DIR"), builder._options.get(JAVA_OPTIONS)))
        if len(calls) <= fail:
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None, master="local[4]")
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return calls


def test_get_spark_sets_the_conf_dir_only_around_the_launch(fake_spark, monkeypatch):
    calls = _fake_launch(monkeypatch)
    get_spark(master="local[4]")
    assert calls[-1] == (None, "-XX:CICompilerCount=2")  # no archive yet
    archive = _archive()
    get_spark(master="local[4]")
    assert calls[-1] == (
        str(fake_spark / ".cache" / "biomedical_knowledge_graph_spark" / "conf"),
        f"-XX:CICompilerCount=2 -XX:SharedArchiveFile={archive}",
    )
    assert "SPARK_CONF_DIR" not in os.environ
    get_spark(master="local[8]")
    assert calls[-1][1] == f"-XX:SharedArchiveFile={archive}"
    # a JVM already running: nothing launches, so nothing is swapped
    monkeypatch.setattr(SparkContext, "_gateway", object())
    get_spark(master="local[4]")
    assert calls[-1][0] is None
    monkeypatch.setattr(SparkContext, "_gateway", None)
    # a conf dir holding more than templates: Spark's own, no archive
    conf = fake_spark / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    get_spark(master="local[4]")
    assert calls[-1] == (str(conf), "-XX:CICompilerCount=2")
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_get_spark_drops_an_archive_only_when_a_plain_launch_starts(fake_spark, monkeypatch):
    archive = _archive()
    calls = _fake_launch(monkeypatch, fail=1)
    get_spark(master="local[4]")
    assert calls[0][1].endswith(f"-XX:SharedArchiveFile={archive}")
    assert calls[1] == (None, "-XX:CICompilerCount=2")
    assert not os.path.exists(archive)
    # a JVM that dies with and without the archive: the archive stays
    archive = _archive()
    calls = _fake_launch(monkeypatch, fail=2)
    with pytest.raises(PySparkRuntimeError):
        get_spark(master="local[4]")
    assert len(calls) == 2
    assert os.path.exists(archive)
    # a JVM that dies without an archive to blame fails at once
    os.remove(archive)
    calls = _fake_launch(monkeypatch, fail=1)
    with pytest.raises(PySparkRuntimeError):
        get_spark(master="local[4]")
    assert len(calls) == 1


def test_build_cds_archive_needs_a_process_without_a_jvm(spark, fake_spark):
    """The archive is built in a JVM of its own, which this test process
    (running the fixture's JVM) cannot launch; nothing is written."""
    with pytest.raises(RuntimeError):
        build_cds_archive(lambda s: None)
    assert not (fake_spark / ".cache").exists()
