package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (sbt forks one),
  * built on the drivers' recipe [[Sessions.tuned]]. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.tuned(SparkSession.builder())
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
