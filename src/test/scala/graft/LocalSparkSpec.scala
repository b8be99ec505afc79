package graft

/** Reads back the settings [[LocalSpark]] gives the shared test session. */
class LocalSparkSpec extends SparkSpec {

  test("factory session: local[4], 4 shuffle partitions, UTC, nanosAsLong, UI off") {
    assert(sc.master === "local[4]")
    assert(sc.defaultParallelism === 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(sc.getConf.get("spark.ui.enabled") === "false")
    assert(sc.uiWebUrl.isEmpty)
  }
}
