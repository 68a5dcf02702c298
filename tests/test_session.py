"""The driver JVM that get_spark launches runs with the C2 thresholds of
``session.DRIVER_JIT_OPTIONS``.

Spark starts the driver with ``-XX:+IgnoreUnrecognizedVMOptions``, so a
misspelled flag starts cleanly and leaves the default in place. The test
therefore reads the effective values from HotSpot, not the argument list.
"""

from __future__ import annotations

from recon_spark.session import DRIVER_JIT_OPTIONS

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
