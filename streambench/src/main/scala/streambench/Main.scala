package streambench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Benchmark process: runs one workload and writes its raw measurements as
  * JSON. `run.py` builds this driver, launches it, and turns the raw file
  * into the benchmark's metrics.
  *
  * Arguments: `--workload <stream|query_mix>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`, plus
  * `--data <dir>` for query_mix. */
object Main {

  /** Cores of the local master (the benchmark box has 4). */
  val Cores = 4

  def session(work: File)(): SparkSession = {
    val spark = Sessions.tuned(SparkSession.builder())
      .master(s"local[$Cores]")
      .appName("streambench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // a micro-batch of more than 32 small files would otherwise list
      // them with a Spark job of its own
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      // the four silver legs and the Gold leg share the cores fairly
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process, in MiB (Linux VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("1")
    val workload = opts("workload")
    val raw = workload match {
      case "stream" =>
        Streams.run(session(work), seed, seconds, work, traced)
      case "query_mix" =>
        QueryMix.run(session(work), seed, seconds, work, opts("data"), traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = raw ++ Map("peak_rss_mb" -> peakRssMb(), "traced" -> traced)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opts("out")), result)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
