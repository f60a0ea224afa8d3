package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Job-count probe: runs declared queries into the noop sink under a
  * job listener, so each query's wall time, JOB COUNT (the fixed-latency
  * driver of every small-input chain in local mode) and per-job seconds
  * are measurable. Not part of the bench contract — `Bench` is the
  * frozen harness.
  *
  * Usage: SPARK_GRAFT_PROBE=q77,q108 sbt "runMain graft.BenchExtra"
  * (each name selects the first declared query with that prefix).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_RUNS.
  */
object BenchExtra {

  private final class JobLog extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .filter(_.nonEmpty)
        .orElse(js.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("")
      jobs.put(js.jobId, (desc, System.nanoTime()))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      Option(jobs.remove(je.jobId)).foreach { case (desc, t0) =>
        done.add((je.jobId, desc, (System.nanoTime() - t0) / 1e9))
      }
    }
    def reset(): Unit = { jobs.clear(); done.clear() }
    def report(): String = {
      import scala.jdk.CollectionConverters._
      val xs = done.asScala.toSeq.sortBy(_._1)
      val total = xs.map(_._3).sum
      f"jobs=${xs.size} jobSec=$total%.3f " +
        xs.map { case (id, d, s) => f"#$id:$s%.2f${if (d.nonEmpty) s"($d)" else ""}" }
          .mkString(" ")
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = Session.local("graft-benchextra")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)

    val sel = sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q108"))
    sel.distinct.sorted.foreach { p =>
      SparkEntry.queries.keys.find(_.startsWith(p)).foreach { qn =>
        (1 to runs).foreach { i =>
          log.reset()
          val t0 = System.nanoTime()
          noop(SparkEntry.queries(qn).apply(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[probe] $p run$i wall=$sec%.3f ${log.report()}")
        }
      }
    }
    spark.stop()
  }
}
