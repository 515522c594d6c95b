package graft
import java.nio.file.{Files, Paths}

/** Plan auditor: dumps `explain("formatted")` for every registered query to
  * a file (default /tmp/plans.txt) so plan regressions — a broadcast that
  * became a shuffle, a filter that stopped pushing down — are diffable.
  *
  * Usage: runMain graft.Explain [sfDir] [outFile]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftSession.harness()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    val metrics = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n========== $name ==========\n")
      try {
        val df = fn(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(formatted)
        // structural plan metrics — diffable across rounds: a broadcast
        // that silently became a shuffle, or a new global window, shows
        // up as a one-line JSON diff instead of a 3000-line plan diff
        // (?![A-Za-z]) pins the node NAME: "Window" must not also count
        // WindowGroupLimit, nor "Sort" count SortMergeJoin/SortAggregate
        def n(re: String): Int = re.r.findAllIn(formatted).length
        metrics.append(
          s"""{"query":"$name","exchanges":${n("""\(\d+\) Exchange(?![A-Za-z])""")},""" +
            s""""broadcasts":${n("""\(\d+\) BroadcastExchange(?![A-Za-z])""")},""" +
            s""""windows":${n("""\(\d+\) Window(?![A-Za-z])""")},""" +
            s""""sorts":${n("""\(\d+\) Sort(?![A-Za-z])""")},""" +
            s""""bnlj":${n("BroadcastNestedLoopJoin")}}""" + "\n")
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.writeString(Paths.get(out), sb.toString)
    Files.writeString(Paths.get(out + ".metrics.jsonl"), metrics.toString)
    println(s"wrote $out and ${out}.metrics.jsonl")
    spark.stop()
  }
}
