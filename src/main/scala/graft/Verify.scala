package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [<name>...]`. Trailing
  * query names dump only those queries and their oracle SQL, in the same
  * format, so `tools/check.py` can gate a handful of touched queries
  * without the full suite. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [<name>...]")
    val (queries, oracleSql) =
      select(SparkEntry.queries, SparkEntry.oracleSql, args.drop(2).toSet)
    val spark = GraftSession.harness()
    run(spark, args(0), args(1), queries, oracleSql)
    spark.stop()
  }

  /** The registry restricted to `names` (all of it when `names` is empty);
    * an unknown name fails before any session starts. */
  def select(queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String], names: Set[String])
      : (Map[String, (SparkSession, String) => DataFrame], Map[String, String]) =
    if (names.isEmpty) (queries, oracleSql)
    else {
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      (queries.view.filterKeys(names).toMap, oracleSql.view.filterKeys(names).toMap)
    }

  /** Dump every query's result + the oracle SQL + explicit error
    * artifacts. Factored out of main so the failure-visibility contract
    * is testable: a query that throws MUST leave `<out>/<name>._error`
    * and an `errors.json` row — round 7 proved that a silent skip lets
    * the correctness gate omit the row and a broken query read as
    * "not checked" instead of "failed". Returns the error map. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        Files.writeString(Paths.get(s"$outDir/$name._error"),
          msg.take(4000))
      }
    }
    writeOracleSql(outDir, oracleSql)
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    System.err.println(
      s"[verify] ${queries.size - errors.size}/${queries.size} dumped, ${errors.size} failed")
    errors.toMap
  }

  /** `<outDir>/oracle_sql.json`: the oracle SQL that `tools/check.py` runs
    * in DuckDB. */
  def writeOracleSql(outDir: String, oracleSql: Map[String, String]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(oracleSql))

  /** A JSON object of string pairs. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the oracle check's json.load fail and silently zero
    * the correctness gate. */
  private def jsonObject(pairs: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    pairs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
