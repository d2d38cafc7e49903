"""Session defaults of get_spark that tests elsewhere do not see."""


def test_local_driver_young_generation_is_fixed(spark):
    """A local session's driver JVM runs with a fixed young generation
    (-XX:NewRatio=1), so the heap a run touches does not follow G1's
    eden growth."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == "-XX:NewRatio=1"
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:NewRatio=1" in args


def test_dataframe_debugging_is_off(spark):
    """get_spark turns off PySpark's DataFrame debugging (a call-site
    stack walk and extra Py4J calls on every Column op); the process-wide
    flag PySpark caches from the conf reads False too."""
    from pyspark.errors import utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    cached = utils._enable_debugging_cache
    utils._enable_debugging_cache = None  # re-read from the active session
    try:
        assert utils.is_debugging_enabled() is False
    finally:
        utils._enable_debugging_cache = cached
