package perfbench

import scala.collection.mutable.ArrayBuffer

/** Outcome of one closed-loop phase: one client, the next op starts when
  * the previous one (and its output check) has finished. */
final case class LoopResult(walls: Seq[Double], cpus: Seq[Double],
    errors: Seq[String]) {
  def attempted: Int = walls.size
  def failed: Int = errors.size
  /** Time spent inside ops; the output checks between ops are excluded,
    * a failed op's time is not. */
  def timedWall: Double = walls.sum
}

object Loop {
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this JVM so far, all threads. */
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Runs at least one round of ops, then more until `seconds` of op
    * time have passed and the op count is a multiple of `round`. `op(i)`
    * is timed and returns a check that runs untimed; the check returns an
    * error message or None. An op that throws, or whose check fails,
    * counts as failed. */
  def closed(seconds: Double, round: Int)
            (op: Int => (() => Option[String])): LoopResult = {
    val walls = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    var i = 0
    while (i == 0 || walls.sum < seconds || i % round != 0) {
      val c0 = processCpuS()
      val t0 = System.nanoTime()
      val check =
        try Right(op(i))
        catch { case e: Throwable => Left(s"op $i threw: $e") }
      walls += (System.nanoTime() - t0) / 1e9
      cpus += processCpuS() - c0
      check.flatMap { c =>
        try c().toLeft(())
        catch { case e: Throwable => Left(s"check of op $i threw: $e") }
      } match {
        case Left(err) => errors += err
        case Right(_) =>
      }
      i += 1
    }
    LoopResult(walls.toSeq, cpus.toSeq, errors.toSeq)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}
