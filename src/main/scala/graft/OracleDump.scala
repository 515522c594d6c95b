package graft

/** Dump ONLY `SparkEntry.oracleSql` as `<outDir>/oracle_sql.json`, without
  * running any query. Exists so the bench-first discipline (ADVICE r13 #9)
  * can measure live DuckDB back-to-back with graft.Bench in the same host
  * window — `tools/compare_baseline.py --live` needs the oracle SQL, and
  * before this the only way to produce it was a full multi-minute Verify
  * run that would itself perturb the measurement window. No SparkSession
  * is started; the file is written by Verify's own writer. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir) = args
    new java.io.File(outDir).mkdirs()
    Verify.writeOracleSql(outDir, SparkEntry.oracleSql)
    System.err.println(s"[oracle-dump] ${SparkEntry.oracleSql.size} entries -> $outDir/oracle_sql.json")
  }
}
