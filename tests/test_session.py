"""Session factory settings that the engine relies on."""


def _persistent_rdds(spark) -> dict:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): jmap.get(k) for k in jmap.keySet().toArray()}


def test_lineage_truncation_warning_logger_is_silenced(spark):
    """Releasing a localCheckpoint block warns from the checkpointed RDD's own
    class logger; get_spark must raise exactly that logger to ERROR."""
    before = _persistent_rdds(spark)
    spark.range(10).selectExpr("id * 2 AS x").localCheckpoint(eager=True)
    new = {k: r for k, r in _persistent_rdds(spark).items() if k not in before}
    assert len(new) == 1
    (rdd,) = new.values()  # JavaRDD wrapper around the checkpointed RDD
    jvm = spark.sparkContext._jvm
    logger = jvm.org.apache.logging.log4j.LogManager.getLogger(rdd.rdd().getClass().getName())
    level = logger.getLevel().toString()
    rdd.unpersist(False)
    assert level == "ERROR"
