package streambench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Closed-loop query mix: one client runs `SparkEntry.queries` to the
  * `noop` sink, pass after pass, each pass in a seeded order.
  *
  * The window runs whole passes: the pass under way when `seconds` runs
  * out completes. Set-up is each query's first call, which runs its
  * `ensureStaged` landing writes and writes its result to parquet for the
  * oracle check, and `WarmPasses` untimed passes that warm the JIT. After
  * the timed window, queries without an oracle run once more and are
  * written again, so they can be compared with their first call. */
object QueryMix {

  /** Churn-pipeline queries over plain parquet. */
  val Churn: Seq[String] = Seq("silver_clean_transactions", "gold_support_sentiment")

  /** TxTable-family queries: a partition-pruned incremental Gold, and a
    * TxTable read through the DSv2 catalog. */
  val TxFamily: Seq[String] = Seq("gold_incremental", "ext_catalog_pointread")

  /** Gold recomputes: their latency is the freshness floor of a Gold table
    * refreshed by recomputation. */
  val Gold: Set[String] = Set("gold_support_sentiment", "gold_incremental")

  /** Untimed passes before the window. C2 compilation of the planner's
    * code paths goes on for a dozen passes after the first calls, and
    * pass time falls by a third over them; a window that starts earlier
    * measures how far the JIT got, not the program. */
  val WarmPasses = 6

  def family(q: String): String = if (TxFamily.contains(q)) "txtable" else "churn"

  private def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }

  def run(session: () => SparkSession, seed: Long, seconds: Double, work: File,
          dataDir: String, traced: Boolean): Map[String, Any] = {
    val names = Churn ++ TxFamily
    val out = new File(work, "out")
    val setup0 = System.nanoTime()
    val spark = session()
    val trace = if (traced) Some(Trace.install(spark)) else None
    val sessionS = (System.nanoTime() - setup0) / 1e9

    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** Run `body` once; whether it succeeded and its wall time (ns), which
      * excludes the cache clearing and listener drain that follow it. */
    def attempt(q: String, exec: String)(body: => Unit): (Boolean, Long) = {
      trace.foreach(_.current = exec)
      val t0 = System.nanoTime()
      val ok = try { Trace.within(spark, exec)(body); true }
        catch { case e: Throwable =>
          failures += Map("query" -> q, "exec" -> exec, "error" -> String.valueOf(e.getMessage).take(300))
          false
        }
      val ns = System.nanoTime() - t0
      clearCaches(spark)
      trace.foreach(_.drain())
      (ok, ns)
    }

    val stageS = names.map { q =>
      val (_, ns) = attempt(q, s"setup/$q") {
        SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite")
          .parquet(new File(out, q).getPath)
      }
      q -> ns / 1e9
    }
    // untimed passes, so the timed passes start on compiled code
    for (_ <- 1 to WarmPasses; q <- names) {
      attempt(q, s"setup/$q") {
        SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
      }
    }
    val setupS = (System.nanoTime() - setup0) / 1e9

    val rng = new scala.util.Random(seed)
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var pass = 0
    // whole passes only, so every pass weighs each query once
    while (System.nanoTime() < end) {
      rng.shuffle(names).foreach { q =>
        val exec = s"${family(q)}/$pass-$q"
        var buildNs = 0L
        val (ok, wallNs) = attempt(q, exec) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, dataDir)
          buildNs = System.nanoTime() - t0
          df.write.format("noop").mode("overwrite").save()
        }
        execs += Map("query" -> q, "family" -> family(q), "pass" -> pass,
          "gold" -> Gold.contains(q), "ok" -> ok, "ms" -> wallNs / 1e6,
          "build_ms" -> buildNs / 1e6,
          "job_union_ms" -> trace.map(_.jobUnionMs(exec)))
      }
      pass += 1
    }

    val recheck = names.filterNot(SparkEntry.oracleSql.contains)
    recheck.foreach { q =>
      attempt(q, s"check/$q") {
        SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite")
          .parquet(new File(work, s"recheck/$q").getPath)
      }
    }
    Map("workload" -> "query_mix", "setup_s" -> setupS, "session_s" -> sessionS,
      "stage_s" -> stageS.toMap, "execs" -> execs.toSeq, "failures" -> failures.toSeq,
      "families" -> names.map(q => q -> family(q)).toMap,
      "oracle_sql" -> names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "out" -> out.getPath, "recheck" -> recheck,
      "trace" -> trace.map(t => Map("buckets" -> t.summary())))
  }
}
