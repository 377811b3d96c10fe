package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Plan dumper: `.explain("formatted")` for each named query → one text
  * file, so optimization rounds can commit before/after plan evidence
  * (guide §1: capture the plan shape — Exchange count, join strategy,
  * PushedFilters/ReadSchema — for every query you touch).
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [q1,q2,...] [suffix]
  * Writes <outDir>/<query><suffix>.txt. Staged fixtures (prestage) are
  * built first so plans reflect the same inputs the bench times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2).nonEmpty) Some(args(2).split(",").toSet)
      else None
    val suffix = if (args.length > 3) args(3) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Sessions.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    try SparkEntry.prestage(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[explain] prestage failed: ${e.getMessage}")
    }
    val mode = ExplainMode.fromString("formatted")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"),
            df.queryExecution.explainString(mode))
          System.err.println(s"[explain] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
        Sessions.clearCaches(spark)
      }
    spark.stop()
  }
}
