"""The driver JVM that get_spark launches runs with the C2 thresholds of
``session.DRIVER_JIT_OPTIONS`` and a heap sized to the host, and its
Python workers can import ``recon_spark``.

Spark starts the driver with ``-XX:+IgnoreUnrecognizedVMOptions``, so a
misspelled flag starts cleanly and leaves the default in place. The test
therefore reads the effective values from HotSpot, not the argument list.
"""

from __future__ import annotations

import os

from recon_spark.session import (
    DRIVER_JIT_OPTIONS,
    PACKAGE_ROOT,
    driver_memory,
    executor_pythonpath,
    oracle_resources,
)

EXPECTED = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def test_driver_jvm_runs_with_raised_c2_thresholds(spark):
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    for name, value in EXPECTED.items():
        opt = mx.getVMOption(name)
        assert opt.getValue() == value, name
        assert opt.getOrigin().toString() == "VM_CREATION", name


def test_flags_ride_on_default_java_options(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
    assert conf == DRIVER_JIT_OPTIONS


def test_default_driver_heap_is_sized_to_the_host():
    """60% of physical RAM, capped at 24g: a 15 GiB host gets 9 GiB, a
    64 GiB host the cap."""
    assert driver_memory(15 * 2**30) == "9216m"
    assert driver_memory(40 * 2**30) == "24576m"
    assert driver_memory(64 * 2**30) == "24576m"
    assert driver_memory(2**30) == "614m"


def test_oracle_gets_half_what_the_heap_leaves():
    """DuckDB next to the default 9 GiB heap on a 15 GiB host gets 3 GiB
    and one thread, so heap plus oracle stay well under the host's RAM;
    a 64 GiB host's oracle gets 20 GiB and four threads."""
    def heap_mib(phys_bytes):
        return int(driver_memory(phys_bytes).removesuffix("m"))

    assert oracle_resources(heap_mib(15 * 2**30), 15 * 2**30) == (1, 3072)
    assert oracle_resources(8192, 16 * 2**30) == (1, 4096)
    assert oracle_resources(heap_mib(64 * 2**30), 64 * 2**30) == (4, 20480)
    assert oracle_resources(1024, 2**30) == (1, 512)


def test_session_heap_follows_the_sizing(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_workers_get_the_package_root_first(spark):
    """The package root leads the Python workers' path, so a UDF that
    imports ``recon_spark`` works from any working directory; a path the
    caller set is kept after it."""
    assert os.path.isdir(os.path.join(PACKAGE_ROOT, "recon_spark"))
    conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert conf.split(os.pathsep)[0] == PACKAGE_ROOT
    assert executor_pythonpath() == PACKAGE_ROOT
    assert executor_pythonpath("/a:/b") == os.pathsep.join((PACKAGE_ROOT, "/a:/b"))
