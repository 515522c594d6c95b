package graft
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line.
  *
  * Two measurements, both reported, each with a like-for-like DuckDB
  * counterpart measured under the identical protocol in BASELINE.md
  * ("Round-2 methodology" section):
  *
  *  - **Per-query sequential** (the `queries` map): one untimed warmup
  *    pass (JIT + codegen cache + parquet footer cache), then three timed
  *    sequential passes, best-of-3 per query; their sum is `sum_best`.
  *    Baseline counterpart: DuckDB sequential suite total, same
  *    best-of-3 protocol.
  *  - **Suite wall-clock** (`value`, the headline): the whole suite
  *    submitted from a 16-thread pool, wall-clock until the last query
  *    finishes, best of three passes. At this data scale each query is
  *    dominated by fixed dispatch latency, not data volume, so suite
  *    completion time under concurrency is the engine's throughput on
  *    the workload. Baseline counterpart: DuckDB under the same
  *    16-thread pool protocol (BASELINE.md round-2 table). Jobs land in
  *    Spark's default FIFO pool; they are submitted near-simultaneously
  *    and the tiny stages pipeline freely, which measured faster than a
  *    configured FAIR pool setup at this scale.
  *
  * If ANY query throws in ANY pass, the concurrent wall-clock is not a
  * valid suite measurement (a fast failure shrinks it), so `value` falls
  * back to `sum_best` — where a failed query's time-to-exception still
  * undercounts, but each query is at least attempted in isolation — and
  * the "failed" list names the casualties.
  *
  * **Load sentinel** (`calib` in the headline): host noise moves BOTH
  * engines, and a loaded driver host once made a 4 s engine read as
  * 23 s in the stored artifact. Two fixed, data-independent probes are
  * timed immediately before and after the concurrent passes — a
  * single-core JVM arithmetic loop (pure CPU contention) and a
  * constant `spark.range` aggregate (the dispatch/codegen floor every
  * tiny query pays). Min-of-3 each, so a stray GC cannot false-alarm
  * but sustained load still shows. Idle-host nominals are pinned in
  * BASELINE.md ("Load sentinel" section); a slow `value` with calib at
  * nominal is an engine regression, a slow `value` with calib inflated
  * is the host — distinguishable from the artifact alone, no re-run
  * needed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // measured sweet spot: 24 in-flight queries on 32 cores at the
    // round-9 suite (103 queries, post stage-cuts): same-epoch A/B pairs
    // gave 24t 5.58/5.72 s vs 16t 5.84/6.42 s (32t measured 5.70 — no
    // better). Round 8's sweet spot was 16 at the older per-query stage
    // counts; re-measure when the suite's stage profile shifts again.
    val threads = math.min(GraftSession.harnessCpus, 24)
    val spark = GraftSession.harness()
    val names = SparkEntry.queries.keys.toSeq.sorted
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runOne(name: String): Unit =
      try { SparkEntry.queries(name)(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        failed.synchronized { failed += name }
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      runOne(name)
      (System.nanoTime() - t0) / 1e9
    }
    // Load-sentinel probes (see scaladoc). The work constants are part of
    // the artifact's meaning — changing them invalidates the BASELINE.md
    // nominals, so bump that section together with any edit here.
    def calibJvm(): Double = {
      val t0 = System.nanoTime()
      var i = 0L; var acc = 0L
      while (i < 200000000L) { acc += i ^ (i >>> 7); i += 1 }
      if (acc == 42L) System.err.println("") // keep the loop observable
      (System.nanoTime() - t0) / 1e9
    }
    def calibSpark(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 5000000L, 1L, 8)
        .selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def calib(): (Double, Double) =
      (Seq.fill(3)(calibJvm()).min, Seq.fill(3)(calibSpark()).min)
    names.foreach(timeOne) // warmup, untimed
    val passes = Seq.fill(3)(names.map(n => n -> timeOne(n)).toMap)
    val results = names.map(n => n -> passes.map(_(n)).min)
    // Concurrent suite passes: all queries in flight on a bounded pool,
    // submitted longest-first (LPT scheduling) using the sequential
    // measurements just taken. Under FIFO alphabetical submission the
    // multi-stage heavyweights (dedup_winnow ~1.1 s, the global ranks
    // ~0.9 s) could start in the last pool slot and extend the tail by
    // their full length; longest-first bounds the wall near
    // max(total/threads, longest chain) — classic makespan scheduling.
    val lptOrder = results.sortBy(-_._2).map(_._1)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def concurrentPass(): Double = {
      val t0 = System.nanoTime()
      Await.result(Future.sequence(lptOrder.map(n => Future(runOne(n)))), Duration.Inf)
      (System.nanoTime() - t0) / 1e9
    }
    val (jvmPre, sparkPre) = calib()
    val wall = Seq.fill(3)(concurrentPass()).min
    val (jvmPost, sparkPost) = calib()
    pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
    def f4(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f4(v) }
      .mkString("{", ",", "}")
    val sumBest = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val anyFailed = failed.synchronized { failed.nonEmpty }
    val (value, mode) =
      if (anyFailed) (sumBest, "sum-sequential-best (wallclock invalid: failures)")
      else (wall, "suite-wallclock-concurrent")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver captures only the tail of stdout, and round 7's artifact
    // lost the headline because the multi-KB per-query detail line crowded
    // it out. Detail goes to stderr ONLY; stdout carries the one compact
    // headline line and nothing else.
    val detail = s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    System.err.println(detail)
    // ... and to a FILE: the driver's artifact tail-captures output, and
    // round 8's stored tail kept only 71 of 100 per-query entries —
    // truncated from the front, so cross-round per-query diffs lost a
    // third of the suite. The file form survives any capture length;
    // commit it per round (docs/bench_detail_r{N}.json) like BASELINE.md.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/tmp/bench_detail.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      detail + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
    }
    val calibJson = s"""{"jvm_pre":${f4(jvmPre)},"jvm_post":${f4(jvmPost)},"spark_pre":${f4(sparkPre)},"spark_post":${f4(sparkPost)}}"""
    println(s"""{"metric":"total","value":${f4(value)},"unit":"sec","mode":"$mode","threads":$threads,"wall_concurrent":${f4(wall)},"sum_best":${f4(sumBest)},"calib":$calibJson,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
