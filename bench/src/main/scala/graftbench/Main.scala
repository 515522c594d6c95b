package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbench.Bridge

import graft.{Pipeline, SparkEntry}

/** The benchmark's JVM side. `run.py` builds it, prepares the tables and
  * the oracle row counts, and starts it once per run:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --data <tablesDir> --work <runDir> --expected <counts.txt>
  * }}}
  *
  * A run sets up [[SetupReps]] times (session start, input generation and
  * one warm-up pass; the session is restarted in between), then runs timed
  * passes in a closed loop for `--seconds` (at least [[MinPasses]]). Every
  * operation is checked; the last stdout line is the result JSON. See
  * NOTES.md for the workloads and every metric's definition. */
object Main {
  val SetupReps = 3
  val MinPasses = 2

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, data: String, work: String, expected: String, profile: String)

  /** One operation: a registry query or one pipeline run. `rows` is what
    * the workload's throughput counts: result rows of a query, input lines
    * of a pipeline run. */
  final case class Op(name: String, constructMs: Double, planMs: Double,
      execMs: Double, rows: Long, ok: Boolean) {
    def ms: Double = constructMs + planMs + execMs
  }

  /** One pass; `index` is negative for the set-up passes. */
  final case class Pass(index: Int, wallS: Double, ops: Seq[Op], gcMs: Long,
      retainedBytes: Long, localDirBytes: Long)

  /** What differs between workloads: the input generation of each set-up
    * and the operations of one pass. */
  trait Workload {
    def prepare(): Unit
    def ops(pass: Int): Seq[String]
    def run(spark: SparkSession, name: String, phase: String => Unit): Op
    /** Bytes of the input the operations read, for `sources.input_read_ratio`. */
    def inputBytes: Long
    /** A check made once, after the first set-up, outside any timing. */
    def check(spark: SparkSession): Option[Boolean] = None
  }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    if (argv.contains("--list")) { Registry.slice.foreach(println); return }
    val w = workload(c)
    val scratch = new File(c.work, "scratch")
    val tracer = if (c.trace) Some(new Trace) else None
    val passes = Vector.newBuilder[Pass]
    var checks = Seq.empty[Boolean]

    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(c)
      w.prepare()
      passes += pass(spark, w, rep - SetupReps - 1, None, scratch)
      val s = (System.nanoTime() - t0) / 1e9
      if (rep == 1) checks = (try w.check(spark) catch {
        case NonFatal(e) => log(s"check failed: $e"); Some(false)
      }).toSeq
      log(f"setup $rep: $s%.3f s")
      s
    }

    log(f"host calibration: ${calibrationMs()}%.1f ms")
    tracer.foreach(spark.sparkContext.addSparkListener)
    val timed = Vector.newBuilder[Pass]
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinPasses || System.nanoTime() - t0 < c.seconds * 1000000000L) {
      val p = pass(spark, w, i, tracer, scratch)
      timed += p; passes += p
      log(f"pass $i: ${p.wallS}%.3f s, retained ${p.retainedBytes} B, local dirs ${p.localDirBytes} B")
      i += 1
    }
    tracer.foreach(_ => Bridge.drainListeners(spark.sparkContext))
    spark.stop()

    val all = passes.result()
    val ops = all.flatMap(_.ops)
    val failed = ops.count(!_.ok) + checks.count(!_)
    val metrics = tracer match {
      case None => endToEnd(setupS, timed.result())
      case Some(t) => Layers.metrics(c, w, t, timed.result(), all,
        new File(c.profile))
    }
    println(resultJson(failed == 0, ops.size + checks.size, failed, metrics))
  }

  private def endToEnd(setupS: Seq[Double], timed: Seq[Pass]): Seq[(String, Double, String)] = {
    // each operation's median over the timed passes, so one slow pass
    // does not move a query's latency
    val lat = timed.flatMap(_.ops).groupBy(_.name).values.map(os => median(os.map(_.ms))).toSeq
    Seq(
      ("setup_s", median(setupS), "s"),
      ("suite_s", median(timed.map(_.wallS)), "s"),
      ("query_p50_ms", quantile(lat, 0.50), "ms"),
      ("query_p95_ms", quantile(lat, 0.95), "ms"),
      ("rows_per_s", median(timed.map(p => p.ops.map(_.rows).sum / p.wallS)), "1/s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
  }

  /** One pass: every operation of the workload once, from one client that
    * starts the next operation when the last one returns (closed loop). */
  def pass(spark: SparkSession, w: Workload, index: Int, tracer: Option[Trace],
      scratch: File): Pass = {
    val sc = spark.sparkContext
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val ops = w.ops(index).map { name =>
      val phase: String => Unit = tracer match {
        case Some(_) => p => sc.setJobGroup(Trace.group(index, name, p), p, false)
        case None => _ => ()
      }
      try w.run(spark, name, phase)
      finally if (tracer.nonEmpty) sc.clearJobGroup()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = gcMs() - gc0
    val retained = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Pass(index, wall, ops, gc, retained, dirBytes(scratch))
  }

  /** A fixed single-threaded loop, best of three, logged with every run as
    * a rough reading of host speed when runs disagree. */
  private def calibrationMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var i = 0L; var acc = 0L
    while (i < 100000000L) { acc += i ^ (i >>> 7); i += 1 }
    if (acc == 42L) log("")
    (System.nanoTime() - t0) / 1e6
  }.min

  def session(c: Conf): SparkSession = {
    // graft.Bench's judged configuration; only the scratch locations are
    // moved inside the run directory
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(c.work, "scratch/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(c.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(c: Conf): Workload = c.workload match {
    case "registry_seq" => new Registry(c)
    case "hrv_pipeline" => new Hrv(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A fixed systematic sample of the query registry: every `Stride`-th
    * query by name, so a pass spans every operator family and is the same
    * in every run. The seed shuffles the order of each pass. Each result's
    * row count is checked against DuckDB's count for the same query's
    * oracle SQL over the same tables. */
  final class Registry(c: Conf) extends Workload {
    val names: Seq[String] = Registry.slice
    private val expected: Map[String, Long] = {
      val src = scala.io.Source.fromFile(c.expected)
      try src.getLines().map(_.split(' ')).collect { case Array(n, v) => n -> v.toLong }.toMap
      finally src.close()
    }
    require(names.forall(expected.contains), "expected counts miss a query of the slice")

    def prepare(): Unit = ()
    def ops(pass: Int): Seq[String] =
      new scala.util.Random(c.seed * 1000003L + pass).shuffle(names)

    def run(spark: SparkSession, name: String, phase: String => Unit): Op = {
      val t0 = System.nanoTime()
      var t1, t2 = t0
      try {
        phase(Trace.Construct)
        val df = SparkEntry.queries(name)(spark, c.data)
        t1 = System.nanoTime()
        phase(Trace.Plan)
        if (c.trace) df.queryExecution.executedPlan
        t2 = System.nanoTime()
        phase(Trace.Exec)
        val rows = Bridge.consume(df)
        val t3 = System.nanoTime()
        val ok = expected(name) == rows
        if (!ok) log(s"$name: $rows rows, DuckDB oracle has ${expected(name)}")
        Op(name, ms(t0, t1), ms(t1, t2), ms(t2, t3), rows, ok)
      } catch {
        case NonFatal(e) =>
          log(s"$name failed: $e")
          Op(name, ms(t0, System.nanoTime()), 0, 0, 0, ok = false)
      }
    }
    def inputBytes: Long =
      Option(new File(c.data).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
  }

  object Registry {
    val Stride = 25
    def slice: Seq[String] =
      SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect {
        case (n, i) if i % Stride == 0 => n
      }
  }

  /** The paper's own shape: a seed-drawn device export through
    * `Pipeline.ingestAndFeaturize` (quarantine, cleaning, rolling
    * features, HRV table, day-partitioned parquet). One pass is one run of
    * the pipeline; its summary is checked against the planted counts. */
  final class Hrv(c: Conf) extends Workload {
    val Series = 48
    val PerSeries = 500
    private val csv = new File(c.work, "export.csv").getAbsolutePath
    private val out = new File(c.work, "hrv_out").getAbsolutePath
    private var planted: HrvExport.Planted = _

    def prepare(): Unit =
      planted = HrvExport.write(csv, c.seed, Series, PerSeries)
    def ops(pass: Int): Seq[String] = Seq("pipeline")

    def run(spark: SparkSession, name: String, phase: String => Unit): Op = {
      val t0 = System.nanoTime()
      try {
        phase(Trace.Exec)
        val s = Pipeline.ingestAndFeaturize(spark, csv, out, lo = 300, hi = 2000)
        val t1 = System.nanoTime()
        val want = Pipeline.Summary(planted.validRows, planted.malformed, planted.series,
          planted.validRows)
        if (s != want) log(s"pipeline summary $s, planted $want")
        Op(name, 0, 0, ms(t0, t1), planted.lines, s == want)
      } catch {
        case NonFatal(e) =>
          log(s"pipeline failed: $e")
          Op(name, 0, 0, ms(t0, System.nanoTime()), 0, ok = false)
      }
    }

    override def check(spark: SparkSession): Option[Boolean] = {
      val flagged = spark.read.parquet(s"$out/sample_features")
        .filter(col("is_outlier")).count()
      if (flagged != planted.artifacts) log(s"$flagged samples flagged, ${planted.artifacts} planted")
      Some(flagged == planted.artifacts)
    }
    def inputBytes: Long = planted.bytes
  }

  private def ms(from: Long, to: Long): Double = (to - from) / 1e6

  def log(s: String): Unit = System.err.println(s"[graftbench] $s")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  private def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, default: String = null): String =
      kv.get(k).orElse(Option(default)).getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    Conf(get("workload"), get("seed", "0").toLong, get("seconds", "0").toInt, get("trace", "0") == "1",
      get("cores", "1").toInt, get("data", ""), get("work", "."), get("expected", ""),
      get("profile", "profile.jsonl"))
  }
}
