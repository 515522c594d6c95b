package graft

import org.apache.spark.sql.functions._

class GraftSessionSpec extends SparkSpecBase {

  test("enrich registers the UDAF and optimizer rule idempotently") {
    GraftSession.enrich(spark)
    GraftSession.enrich(spark) // second call must not double-register
    import spark.implicits._
    // rmssd callable from SQL
    val r = Seq(3.0, -1.0).toDF("dv").agg(expr("rmssd(dv)")).collect().head.getDouble(0)
    assert(math.abs(r - math.sqrt(5.0)) < 1e-12)
    // the rule is installed exactly once
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.LatestPerKeyRule) == 1)
    // the HLL family is callable from SQL after enrich
    val h = spark.range(0, 1000)
      .selectExpr("graft_hll(id) AS a").collect().head.getLong(0)
    assert(math.abs(h - 1000.0) / 1000.0 < 0.05, s"graft_hll estimate $h")
  }

  test("configure applies the engine conventions to the session") {
    val s = GraftSession.configure(
      org.apache.spark.sql.SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false"))
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("the harness session pins Bench's config and none of the library session's") {
    assert(GraftSession.harnessConf(3) == Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.ui.enabled" -> "false"))
    // a fresh session from that config, made with create(): getOrCreate
    // would return this JVM's shared session, whose state would mask it
    spark // the shared session exists first, so it can be restored below
    val s = org.apache.spark.sql.SparkSession.builder()
      .config(GraftSession.harnessConf(3)).create()
    try {
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
      assert(s.conf.getOption("spark.sql.extensions").isEmpty)
      assert(!s.experimental.extraOptimizations.contains(graft.plans.LatestPerKeyRule))
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }
}
