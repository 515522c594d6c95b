package graftbench

import java.io.{File, PrintWriter}

import Main.{Conf, Pass, Workload, log, median}
import Trace.{Cell, Construct, Exec, Plan}

/** Per-layer metrics of a traced run. Each is a per-pass total (or, for
  * ratios and maxima, a per-pass value) taken as the median over the timed
  * passes; the storage readouts are taken after the last pass. Also writes
  * the per-query profile: one JSON line per operation and one per pass. */
object Layers {

  def metrics(c: Conf, w: Workload, t: Trace, timed: Seq[Pass], all: Seq[Pass],
      profile: File): Seq[(String, Double, String)] = {
    val cells = t.snapshot
    def of(pass: Int, op: Option[String], phase: Option[String]): Seq[Cell] =
      cells.toSeq.collect { case (k, v) if k.pass == pass && op.forall(_ == k.op) &&
        phase.forall(_ == k.phase) => v }
    def sum(cs: Seq[Cell])(f: Cell => Long): Double = cs.iterator.map(f).sum.toDouble

    val perPass = timed.map { p =>
      val con = of(p.index, None, Some(Construct))
      val ex = of(p.index, None, Some(Exec))
      val any = of(p.index, None, None)
      val execMs = p.ops.map(_.execMs).sum
      val execJobs = sum(ex)(_.jobs)
      val inBytes = sum(any)(_.inBytes)
      Seq(
        ("operators.construct_ms", p.ops.map(_.constructMs).sum, "ms"),
        ("operators.construct_jobs", sum(con)(_.jobs), "count"),
        ("operators.construct_task_ms", sum(con)(_.runMs), "ms"),
        ("plans.plan_ms", p.ops.map(_.planMs).sum, "ms"),
        ("plans.plan_jobs", sum(of(p.index, None, Some(Plan)))(_.jobs), "count"),
        ("exec.exec_ms", execMs, "ms"),
        ("exec.jobs", execJobs, "count"),
        ("exec.stages", sum(ex)(_.stages), "count"),
        ("exec.tasks", sum(ex)(_.tasks), "count"),
        ("exec.ms_per_job", if (execJobs > 0) execMs / execJobs else 0.0, "ms"),
        ("exec.task_run_ms", sum(ex)(_.runMs), "ms"),
        ("exec.task_cpu_ms", sum(ex)(_.cpuNs) / 1e6, "ms"),
        ("exec.core_busy_ratio", sum(any)(_.runMs) / (c.cores * p.wallS * 1000), "ratio"),
        ("exec.sched_delay_ms", sum(any)(_.schedMs), "ms"),
        ("jvm.gc_ms", p.gcMs.toDouble, "ms"),
        ("exec.shuffle_write_bytes", sum(any)(_.shuffleWrite), "B"),
        ("exec.shuffle_read_bytes", sum(any)(_.shuffleRead), "B"),
        ("exec.spill_bytes", sum(any)(_.spill), "B"),
        ("exec.peak_exec_mem_bytes", any.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "B"),
        ("sources.input_bytes", inBytes, "B"),
        ("sources.input_records", sum(any)(_.inRecords), "count"),
        ("sources.input_read_ratio", inBytes / w.inputBytes, "ratio"),
        ("sink.output_bytes", sum(any)(_.outBytes), "B"),
        ("sink.output_records", sum(any)(_.outRecords), "count"),
        ("pipeline.jobs", sum(any)(_.jobs), "count"),
        ("pipeline.task_run_ms", sum(any)(_.runMs), "ms"),
        ("trace.suite_s", p.wallS, "s"))
    }
    val layered = perPass.head.indices.map { i =>
      val (name, _, unit) = perPass.head(i)
      val values = perPass.map(_(i)._2)
      if (Set("operators.construct_jobs", "exec.jobs", "pipeline.jobs")(name) && values.distinct.size > 1)
        log(s"$name differs across passes: ${values.mkString(", ")}")
      (name, median(values), unit)
    }
    val retainedGrowth = all.last.retainedBytes - all.head.retainedBytes
    val dirGrowth = all.last.localDirBytes - all.head.localDirBytes
    if (retainedGrowth > 0 || dirGrowth > 0)
      log(s"storage grew across ${all.size} passes: ${all.map(p => s"${p.retainedBytes}/${p.localDirBytes}").mkString(" ")} (retained/local-dir bytes)")
    val storage = Seq(
      ("storage.retained_bytes", all.last.retainedBytes.toDouble, "B"),
      ("storage.local_dir_bytes", all.last.localDirBytes.toDouble, "B"),
      ("storage.retained_growth_bytes", retainedGrowth.toDouble, "B"),
      ("storage.local_dir_growth_bytes", dirGrowth.toDouble, "B"),
      ("trace.unattributed_jobs", t.unattributedJobs.toDouble, "count"))

    writeProfile(profile, timed, all, of)
    layered ++ storage
  }

  private def writeProfile(f: File, timed: Seq[Pass], all: Seq[Pass],
      of: (Int, Option[String], Option[String]) => Seq[Cell]): Unit = {
    val out = new PrintWriter(f)
    try {
      for (p <- timed; op <- p.ops.sortBy(_.name)) {
        def phase(ph: String) = of(p.index, Some(op.name), Some(ph))
        def jobs(ph: String) = phase(ph).map(_.jobs).sum
        def taskMs(ph: String) = phase(ph).map(_.runMs).sum
        out.println(s"""{"pass": ${p.index}, "query": "${op.name}", "ok": ${op.ok}, "rows": ${op.rows}, """ +
          s""""construct_ms": ${op.constructMs}, "plan_ms": ${op.planMs}, "exec_ms": ${op.execMs}, """ +
          s""""construct_jobs": ${jobs(Construct)}, "plan_jobs": ${jobs(Plan)}, "exec_jobs": ${jobs(Exec)}, """ +
          s""""exec_stages": ${phase(Exec).map(_.stages).sum}, "exec_tasks": ${phase(Exec).map(_.tasks).sum}, """ +
          s""""construct_task_ms": ${taskMs(Construct)}, "exec_task_ms": ${taskMs(Exec)}}""")
      }
      for (p <- all)
        out.println(s"""{"pass": ${p.index}, "timed": ${p.index >= 0}, "wall_s": ${p.wallS}, """ +
          s""""retained_bytes": ${p.retainedBytes}, "local_dir_bytes": ${p.localDirBytes}}""")
    } finally out.close()
    log(s"profile: $f")
  }
}
