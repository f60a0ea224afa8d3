package perfbench

/** Checks of the benchmark's own accounting; exits non-zero on the first
  * failure.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit = {
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }
    println(s"selftest ok: $what")
  }

  def main(args: Array[String]): Unit = {
    check(Intervals.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L), (50L, 90L)), 2L, 60L)
      == 18 + 10 + 10, "interval union clips and merges overlaps")

    val spark = Main.session(2)
    try {
      val t = new Tracer(spark.sparkContext)
      val sleepS = 0.3
      t("toy") {
        spark.sparkContext.parallelize(1 to 1000, 2).count()
        Thread.sleep((sleepS * 1000).toLong)
        spark.sparkContext.parallelize(1 to 1000, 2).sum()
      }
      val s = t.stats().head
      check(s.jobs == 2, s"two-job toy counts 2 jobs (got ${s.jobs})")
      check(math.abs(s.coveredS + s.driverGapS - s.wallS) < 1e-9,
        s"job coverage ${s.coveredS} + driver gap ${s.driverGapS} = span wall ${s.wallS}")
      check(s.driverGapS >= sleepS - 0.01 && s.coveredS > 0 && s.coveredS < s.wallS - sleepS + 0.01,
        s"the driver-side sleep lands in the gap, not in job coverage")
      t.close()
    } finally spark.stop()

    val failAt = 1
    val r = Loop.closed(0.0, 3) { i =>
      Thread.sleep(100)
      if (i == failAt) throw new RuntimeException("boom")
      () => if (i == 2) Some("wrong output") else None
    }
    check(r.attempted == 3 && r.failed == 2,
      s"a throwing op and a failed check both count as failed (${r.failed}/${r.attempted})")
    check(r.walls(failAt) >= 0.1 && r.timedWall >= 0.3,
      s"a failed op's time stays in the timed wall (${r.walls})")
  }
}
