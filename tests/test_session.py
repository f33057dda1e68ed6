"""The session's runtime sizing: the driver JVM's JIT compiler pool
(``session._builder``)."""

from __future__ import annotations

import os

from biomedical_knowledge_graph_spark.session import _builder, _local_threads


def _jvm_flag(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


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


def test_caller_java_options_keep_the_jit_option():
    conf = _builder(
        "t", "local[4]", None, {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x"}
    )._options
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=2"
    assert conf["spark.driver.extraJavaOptions"] == "-Djava.io.tmpdir=/x"
    assert "spark.driver.defaultJavaOptions" not in _builder("t", "local[5]", None, None)._options
    cluster = _builder("t", "local-cluster[1,2,2048]", None, None)._options
    assert "spark.driver.defaultJavaOptions" not in cluster
