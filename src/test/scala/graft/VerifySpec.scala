package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The failure-visibility contract of the correctness dump (round-7
  * lesson): a query that throws must leave `<out>/<name>._error` plus an
  * `errors.json` row, never a silent omission, while healthy queries in
  * the same run still dump normally. */
class VerifySpec extends SparkSpecBase {

  test("a broken query leaves explicit error artifacts; healthy ones dump") {
    val out = Files.createTempDirectory("graft_verify").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "healthy" -> ((s, d) => Tables.region(s, d)),
      "broken_analysis" -> ((s, d) =>
        Tables.region(s, d).selectExpr("no_such_column + 1")),
      "broken_runtime" -> ((s, _) => {
        import s.implicits._
        Seq(1, 0).toDF("x").selectExpr("10 / x AS y").filter($"y".isNotNull)
          .selectExpr("assert_true(y < 6, 'boom') AS z", "y")
      }))
    val oracle = Map("healthy" -> "SELECT 1", "broken_analysis" -> "SELECT 2",
      "broken_runtime" -> "SELECT 3")
    val errors = Verify.run(spark, sf(), out, queries, oracle)
    assert(errors.keySet == Set("broken_analysis", "broken_runtime"))
    // explicit artifacts for the failures
    assert(Files.exists(Paths.get(out, "broken_analysis._error")))
    assert(Files.exists(Paths.get(out, "broken_runtime._error")))
    val msg = Files.readString(Paths.get(out, "broken_analysis._error"))
    assert(msg.toLowerCase.contains("no_such_column"))
    // errors.json parses and carries both names (tools/check.py reads it)
    val ej = Files.readString(Paths.get(out, "errors.json"))
    assert(ej.contains("broken_analysis") && ej.contains("broken_runtime"))
    // the healthy query still dumped parquet alongside the failures
    assert(spark.read.parquet(s"$out/healthy").count() == 5)
    assert(Files.exists(Paths.get(out, "oracle_sql.json")))
  }

  test("oracle_sql.json escapes quotes, backslashes and control chars for a JSON parser") {
    val out = Files.createTempDirectory("graft_verify_json").toString
    val nasty = "a\"b\\c\td\re\u0001f\ng"
    val sql = Map(nasty -> s"SELECT '$nasty'", "plain" -> "SELECT 1")
    Verify.writeOracleSql(out, sql)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      Files.readString(Paths.get(out, "oracle_sql.json")),
      classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    assert(parsed.asScala.toMap == sql)
  }

  test("OracleDump and Verify.run write byte-identical oracle_sql.json") {
    val dump = Files.createTempDirectory("graft_oracle_dump").toString
    val verify = Files.createTempDirectory("graft_verify_oracle").toString
    OracleDump.main(Array(dump))
    Verify.run(spark, sf(), verify, Map.empty, SparkEntry.oracleSql)
    val a = Files.readAllBytes(Paths.get(dump, "oracle_sql.json"))
    val b = Files.readAllBytes(Paths.get(verify, "oracle_sql.json"))
    assert(a.length > 0 && java.util.Arrays.equals(a, b))
  }

  test("named queries select a subset: they dump, the rest don't; unknown names fail") {
    val out = Files.createTempDirectory("graft_verify_subset").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "region" -> ((s, d) => Tables.region(s, d)),
      "nation" -> ((s, d) => Tables.nation(s, d)),
      "customer" -> ((s, d) => Tables.customer(s, d)))
    val oracle = queries.keys.map(k => k -> s"SELECT * FROM $k").toMap
    val (picked, pickedSql) = Verify.select(queries, oracle, Set("region", "nation"))
    assert(Verify.run(spark, sf(), out, picked, pickedSql).isEmpty)
    assert(spark.read.parquet(s"$out/region").count() == 5)
    assert(spark.read.parquet(s"$out/nation").count() == 25)
    assert(!Files.exists(Paths.get(out, "customer")))
    val json = Files.readString(Paths.get(out, "oracle_sql.json"))
    assert(json.contains("nation") && !json.contains("customer"))
    // no names: the whole registry, untouched
    assert(Verify.select(queries, oracle, Set.empty) == ((queries, oracle)))
    val e = intercept[IllegalArgumentException](
      Verify.select(queries, oracle, Set("region", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
