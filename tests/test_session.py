"""The engine session's driver JVM flags."""

from __future__ import annotations


def _vm_option(spark, name: str) -> str:
    """The running driver JVM's value of HotSpot flag ``name``."""
    jvm = spark.sparkContext._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    return bean.getVMOption(name).getValue()


def test_driver_jvm_runs_c1_only_with_full_code_cache(spark):
    """The driver compiles with C1 only (no C2 compiler threads), and its
    code cache is not the 48 MB C1-only HotSpot defaults to, which a
    long read session fills, after which HotSpot stops compiling."""
    assert _vm_option(spark, "TieredStopAtLevel") == "1"
    assert int(_vm_option(spark, "ReservedCodeCacheSize")) >= 240 * 1024 * 1024
