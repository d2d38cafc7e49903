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


def test_codegen_cache_holds_a_near_dup_working_set(spark):
    """The compiled-class cache is sized past one near-dup job's ~150
    distinct classes: a second dup_clusters + SimHash hamming run over the
    same documents reuses the first run's classes instead of compiling
    them again (with Spark's default 100 entries it recompiled ~145)."""
    from deep_ner_spark.operators.dedup import dup_clusters, hamming_near_pairs, simhash64
    from deep_ner_spark.session import CODEGEN_CACHE_ENTRIES

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = [" ".join(words[(i * k) % 10] for k in range(1, 13)) for i in range(24)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + texts[:6])], ["doc_id", "text"]
    )

    def run() -> int:
        before = compiles.getCount()
        dup_clusters(docs, "doc_id", "text", n=3, threshold=0.5).collect()
        sh = simhash64(docs, "doc_id", "text")
        hamming_near_pairs(sh, "doc_id", max_hamming=3, n_blocks=4).collect()
        return compiles.getCount() - before

    first, second = run(), run()
    assert second * 10 < first, (first, second)
