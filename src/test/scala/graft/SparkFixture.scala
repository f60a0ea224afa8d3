package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM-wide). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = Session.local("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
