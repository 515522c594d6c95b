package graftbench

import java.io.{BufferedWriter, FileWriter}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** A raw RR-interval device export, the input of `Pipeline.ingestAndFeaturize`:
  * `series_id,ts,value` CSV lines, one series per device, drawn from the
  * workload seed. Counts of what is planted are known, so the pipeline's
  * summary can be checked exactly:
  *
  *  - `series` × `perSeries` valid samples: a bounded random walk of RR
  *    intervals (600–1100 ms, steps of at most 2%), so no clean sample
  *    trips the pipeline's 20% jump rule against its five-sample median;
  *  - artifacts: out-of-range values (below 300 or above 2000 ms), at most
  *    one in any ten consecutive samples, so each flags itself and no
  *    neighbour;
  *  - malformed lines (bad key, bad timestamp or bad value), which the
  *    ingest edge must quarantine. */
object HrvExport {
  final case class Planted(validRows: Long, malformed: Long, artifacts: Long,
      series: Long, bytes: Long) {
    def lines: Long = validRows + malformed
  }

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
  private val Epoch = LocalDateTime.of(2024, 1, 1, 0, 0)

  def write(path: String, seed: Long, series: Int, perSeries: Int): Planted = {
    val rnd = new java.util.SplittableRandom(seed)
    val out = new BufferedWriter(new FileWriter(path), 1 << 16)
    var malformed, artifacts = 0L
    try {
      out.write("series_id,ts,value\n")
      for (s <- 0 until series) {
        // devices start at seed-drawn times over one week
        var t = Epoch.plusSeconds(rnd.nextLong(7L * 86400L))
        var rr = 700.0 + rnd.nextDouble() * 300.0
        for (i <- 0 until perSeries) {
          rr = math.min(1100.0, math.max(600.0, rr * (1.0 + (rnd.nextDouble() - 0.5) * 0.04)))
          t = t.plusNanos((rr * 1e6).toLong)
          val value =
            if (i % 10 == 5 && rnd.nextInt(20) == 0) {
              artifacts += 1
              if (rnd.nextBoolean()) 2500.0 + rnd.nextInt(3000) else 50.0 + rnd.nextInt(200)
            } else math.rint(rr * 100) / 100
          out.write(s"$s,${t.format(Fmt)},$value\n")
          if (rnd.nextInt(500) == 0) {
            malformed += 1
            out.write(rnd.nextInt(3) match {
              case 0 => s"dev$s,${t.format(Fmt)},$value\n"
              case 1 => s"$s,not_a_time,$value\n"
              case _ => s"$s,${t.format(Fmt)},n/a\n"
            })
          }
        }
      }
    } finally out.close()
    Planted(series.toLong * perSeries, malformed, artifacts, series,
      new java.io.File(path).length())
  }
}
