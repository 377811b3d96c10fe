package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Job-level profiler for one query (guide §1: find where the time goes
  * before touching anything): runs the named query once untimed (codegen
  * warm), then N timed passes, printing every Spark job's description and
  * wall time plus the gaps (driver-side work: planning, log walks, commit
  * protocol) — the local-mode stand-in for the Spark UI's job table —
  * and how many classes each timed pass compiled (after the warm pass,
  * compiles mean per-run generated code or an outgrown codegen cache).
  *
  * Usage: runMain graft.Profile <sfDir> <query> [nRuns]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qname = args(1)
    val nRuns = if (args.length > 2) args(2).toInt else 1
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
    try SparkEntry.prestage(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[profile] prestage failed: ${e.getMessage}")
    }
    val fn = SparkEntry.queries(qname)
    // warm pass (codegen + footers), untimed
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    Sessions.clearCaches(spark)

    case class Job(id: Int, desc: String, start: Long, var end: Long)
    val jobs = mutable.ArrayBuffer[Job]()
    val byId = mutable.HashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        val j = Job(js.jobId, desc, js.time, -1L)
        jobs.synchronized { jobs += j; byId(js.jobId) = j }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { byId.get(je.jobId).foreach(_.end = je.time) }
    }
    // per-stage task rollup: where does wall time go INSIDE a job —
    // executor compute vs per-task launch overhead (tasks × ~ms each is
    // the local-mode "32 cores slower than 8" signature)
    case class StageAgg(var tasks: Int = 0, var runMs: Long = 0L,
                        var spanMs: Long = 0L, var maxSpanMs: Long = 0L,
                        var gcMs: Long = 0L, var firstLaunch: Long = Long.MaxValue,
                        var lastFinish: Long = 0L, var deserMs: Long = 0L)
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    val taskListener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) stages.synchronized {
          val a = stages.getOrElseUpdate(te.stageId, StageAgg())
          a.tasks += 1
          a.runMs += m.executorRunTime
          val span = te.taskInfo.finishTime - te.taskInfo.launchTime
          a.spanMs += span
          a.maxSpanMs = math.max(a.maxSpanMs, span)
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.firstLaunch = math.min(a.firstLaunch, te.taskInfo.launchTime)
          a.lastFinish = math.max(a.lastFinish, te.taskInfo.finishTime)
        }
      }
    }
    spark.sparkContext.addSparkListener(taskListener)
    spark.sparkContext.addSparkListener(listener)
    // optional driver-side stack sampler (guide §7.3 in-process): with
    // SPARK_GRAFT_PROFILE_STACKS=1, sample every thread every 10 ms during
    // the timed run and print the hottest non-idle frames — the local-mode
    // stand-in for repeated jstack when wall >> job time (driver gaps)
    val sampleStacks = sys.env.get("SPARK_GRAFT_PROFILE_STACKS").contains("1")
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          Thread.getAllStackTraces.forEach { (t, st) =>
            // main drives batch queries; the stream-execution thread drives
            // micro-batches (main just awaits termination there)
            if ((t.getName == "main" ||
                 t.getName.contains("stream execution")) && st.nonEmpty &&
                t.getState == Thread.State.RUNNABLE) {
              val frame = st.iterator
                .find(f => f.getClassName.startsWith("graft") ||
                  f.getClassName.contains("MicroBatch") ||
                  f.getClassName.contains("StreamExecution"))
                .getOrElse(st.head)
              val k = s"${frame.getClassName.replaceAll("^.*\\.(?=[^.]+\\.[^.]+$)", "")}.${frame.getMethodName}"
              frameCounts.merge(k, 1, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    if (sampleStacks) sampler.start()
    (1 to nRuns).foreach { i =>
      jobs.synchronized { jobs.clear(); byId.clear() }
      stages.synchronized { stages.clear() }
      frameCounts.clear()
      val (compiles0, compileMs0) = codegenCompiles()
      sampling = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      sampling = false
      Sessions.clearCaches(spark)
      Thread.sleep(200) // let late listener events drain
      val snap = jobs.synchronized { jobs.toVector.sortBy(_.start) }
      println(f"[profile] === $qname run $i: wall $wall%.3f s, ${snap.size} jobs ===")
      var prevEnd = -1L
      snap.foreach { j =>
        val dur = if (j.end > 0) (j.end - j.start) / 1000.0 else Double.NaN
        val gap = if (prevEnd > 0) (j.start - prevEnd) / 1000.0 else 0.0
        if (prevEnd > 0 && gap > 0.05)
          println(f"[profile]   (driver gap $gap%7.3f s)")
        println(f"[profile]   job ${j.id}%4d $dur%7.3f s  ${j.desc.take(110)}")
        prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
      }
      val jobSum = snap.collect { case j if j.end > 0 => (j.end - j.start) / 1000.0 }.sum
      println(f"[profile] job time sum $jobSum%.3f s of $wall%.3f s wall")
      val stageSnap = stages.synchronized { stages.toVector.sortBy(_._1) }
      stageSnap.foreach { case (sid, a) =>
        val stageWall = if (a.lastFinish > 0) (a.lastFinish - a.firstLaunch) / 1000.0 else 0.0
        println(f"[profile]   stage $sid%4d tasks ${a.tasks}%4d wall $stageWall%7.3f s run ${a.runMs / 1000.0}%7.3f s deser ${a.deserMs / 1000.0}%7.3f s span ${a.spanMs / 1000.0}%7.3f s maxspan ${a.maxSpanMs / 1000.0}%7.3f s gc ${a.gcMs / 1000.0}%6.3f s")
      }
      val launchOverhead = stageSnap.map(s => s._2.spanMs - s._2.runMs).sum / 1000.0
      println(f"[profile] total task span-run overhead $launchOverhead%.3f s over ${stageSnap.map(_._2.tasks).sum} tasks")
      val sc = graft.ops.TxTable.snapshotCalls.getAndSet(0L)
      val sn = graft.ops.TxTable.snapshotNanos.getAndSet(0L) / 1e9
      if (sc > 0) println(f"[profile] snapshot() calls $sc%d, time $sn%.3f s")
      val (compiles1, compileMs1) = codegenCompiles()
      val nc = compiles1 - compiles0
      val meanMs =
        if (nc == 0) "-"
        else if (compileMs1.isNaN)
          s"unknown (the histogram samples past $CompileSamplesKept)"
        else f"${(compileMs1 - compileMs0) / nc}%.1f ms"
      println(s"[profile] codegen compiles $nc, mean $meanMs")
      if (sampleStacks) {
        import scala.jdk.CollectionConverters._
        val top = frameCounts.asScala.toSeq.sortBy(-_._2.intValue).take(20)
        top.foreach { case (k, n) =>
          println(f"[profile]   main-thread ${n.intValue * 10}%6d ms  $k")
        }
      }
    }
    spark.stop()
  }

  /** Samples the default (exponentially decaying) reservoir of a
    * Dropwizard histogram keeps before it starts to sample. */
  private val CompileSamplesKept = 1028

  /** Janino compiles of generated code in this JVM so far and their summed
    * ms, from Spark's `CodegenMetrics` histogram: the sum is exact while
    * the histogram holds every sample, NaN after. */
  private def codegenCompiles(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, if (n <= CompileSamplesKept) h.getSnapshot.getValues.sum.toDouble
        else Double.NaN)
  }
}
