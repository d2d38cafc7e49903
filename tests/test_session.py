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
