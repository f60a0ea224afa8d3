package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Wraps a call into one library layer. The untraced form only runs the
  * body; the traced form also attributes the Spark jobs it starts. */
trait Spans {
  def apply[A](name: String)(body: => A): A
  /** Rows a layer produced, recorded against its latest span. */
  def rows(name: String, n: Long): Unit = ()
}

object NoSpans extends Spans {
  def apply[A](name: String)(body: => A): A = body
}

/** Totals of one span: its wall time and the jobs, tasks and task
  * metrics of every Spark job started while it was open. */
final case class SpanStats(name: String, wallS: Double, jobs: Int,
    tasks: Int, taskS: Double, coveredS: Double, gcS: Double,
    shuffleMb: Double, spillMb: Double, rowsOut: Long) {
  /** Span wall not covered by any of its running jobs: driver-side work
    * between and around the jobs. */
  def driverGapS: Double = wallS - coveredS
}

object Intervals {
  /** Length of the union of `ivs` clipped to `[lo, hi]`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

private final class Span(val name: String, val group: String,
    val startMs: Long, val endMs: Long, val wallS: Double, var rowsOut: Long)

/** Traced spans. Each span runs under its own Spark job group; one
  * listener aggregates the jobs, tasks and task metrics of that group.
  * Spans stay in memory and are summarised when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener with Spans {
  private final class Acc {
    var jobs = 0
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val jobStart = scala.collection.mutable.Map.empty[Int, Long]
    val jobIvs = ArrayBuffer.empty[(Long, Long)]
  }

  private val Prefix = "perfbench:"
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val spans = ArrayBuffer.empty[Span]
  private var opened = 0

  sc.addSparkListener(this)

  def apply[A](name: String)(body: => A): A = {
    val group = s"$Prefix$name:$opened"
    opened += 1
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wallS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      spans += new Span(name, group, startMs, endMs, wallS, 0L)
    }
  }

  override def rows(name: String, n: Long): Unit =
    spans.findLast(_.name == name).foreach(_.rowsOut = n)

  private def acc(group: String): Acc = accs.computeIfAbsent(group, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    if (group.startsWith(Prefix)) {
      jobGroup.put(e.jobId, group)
      e.stageIds.foreach(stageGroup.put(_, group))
      val a = acc(group)
      a.synchronized { a.jobs += 1; a.jobStart(e.jobId) = e.time }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { group =>
      val a = acc(group)
      a.synchronized {
        a.jobStart.remove(e.jobId).foreach(t0 => a.jobIvs += ((t0, e.time)))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val a = acc(group)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }

  /** Every span recorded so far, in order, after the listener has seen
    * all events of their jobs. */
  def stats(): Seq[SpanStats] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    spans.toSeq.map { s =>
      val a = acc(s.group)
      a.synchronized {
        val cov = Intervals.covered(a.jobIvs.toSeq, s.startMs, s.endMs) / 1e3
        SpanStats(s.name, s.wallS, a.jobs, a.tasks, a.runMs / 1e3, cov,
          a.gcMs / 1e3, a.shuffleBytes / 1048576.0, a.spillBytes / 1048576.0,
          s.rowsOut)
      }
    }
  }

  /** Forgets every span, e.g. those of a warm-up op. */
  def clear(): Unit = spans.clear()

  def close(): Unit = sc.removeSparkListener(this)
}
