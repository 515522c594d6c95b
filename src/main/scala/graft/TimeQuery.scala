package graft

/** Focused per-query timing: `runMain graft.TimeQuery <sfDir> <name>...`
  * times just the named SparkEntry queries (warmup + best-of-3 each)
  * under the same session settings as Bench — the iteration loop for
  * optimizing one query without paying a full-suite bench run. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("graph_pagerank")
    val spark = GraftSession.harness()
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      def once(): Double = {
        val t0 = System.nanoTime()
        q(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val best = Seq.fill(3)(once()).min
      println(f"[time-query] $n best-of-3: $best%.3f s")
    }
    spark.stop()
  }
}
