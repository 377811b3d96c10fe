package streambench

import java.io.File
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.{GoldOps, LayoutOps, TxTable}
import graft.stream.Pipelines

/** The streaming workload over the medallion pipeline: wire files →
  * `Pipelines.bronze` → four `Pipelines.silver*` legs → `Pipelines.appendTx`
  * into four TxTables. After set-up it runs two phases on the same tables
  * and queries:
  *
  *   - catch-up: a backlog lands in the source directory while the
  *     queries are down; restarted, they drain it in large micro-batches
  *     (`maxFilesPerTrigger`). Every backlog file is due when it lands.
  *   - steady: a publisher puts one file every `interval` into the
  *     directory on a fixed schedule (open loop), and every commit of the
  *     silver-transactions table triggers one Gold refresh. Latency is
  *     timed from each file's due time.
  *
  * Everything measured is returned raw (due times, commit logs, progress,
  * refresh spans); `run.py` derives the metrics. */
object Streams {

  val Entities: Seq[String] = Seq("profiles", "usage", "churn", "support")
  val Key: Map[String, String] = Map("profiles" -> "customer_id",
    "usage" -> "customer_id", "churn" -> "customer_id", "support" -> "ticket_id")
  val DedupKeys: Map[String, Seq[String]] = Map(
    "profiles" -> Seq("customer_id", "event_time"),
    "usage" -> Seq("customer_id", "last_login"),
    "churn" -> Seq("customer_id", "timestamp"),
    "support" -> Seq("ticket_id", "updated_at"))
  /** Watermark delay of the silver legs (their default). */
  val WatermarkMs: Long = 10 * 60 * 1000L
  val WireSchema: StructType = StructType(Seq(
    StructField("value", StringType), StructField("topic", StringType)))
  /** Fixed `now` for every Gold computation. */
  def now = lit("2024-02-01 00:00:00").cast("timestamp")

  /** Offered rate of the steady phase, events/s, and its file size. */
  val Rate = 2000
  val SteadyPerFile = 1000
  /** Steady-phase seconds excluded from the statistics, and seconds the
    * feed goes on after the measured window: longer than the p90 latency,
    * so the window's events commit under the live feed, not while the
    * pipeline drains. */
  val WarmupS = 4.0
  val CooldownS = 10.0
  /** Events of the set-up micro-batch, and of the catch-up backlog, in
    * files of `BacklogPerFile`; `MaxFilesPerTrigger` caps a micro-batch. */
  val SetupLines = 4000
  val Backlog = 80000
  val BacklogPerFile = 2000
  val MaxFilesPerTrigger = 20
  /** Buckets of the silver TxTables. */
  val NBuckets = 2
  val DrainS = 60.0

  def silver(e: String, df: DataFrame): DataFrame = e match {
    case "profiles" => Pipelines.silverCustomer(df)
    case "usage" => Pipelines.silverAppUsage(df)
    case "churn" => Pipelines.silverTransactions(df)
    case "support" => Pipelines.silverSupport(df)
  }

  /** Gold over pinned silver versions: the `Pipelines.goldRefresh` chain. */
  def gold(spark: SparkSession, tables: Map[String, String],
           versions: Map[String, Long]): DataFrame = {
    def rd(e: String) = TxTable.read(spark, tables(e), versions.get(e))
      .drop(LayoutOps.BucketCol)
    val app = GoldOps.appFeatures(rd("usage"), now)
    val txn = rd("churn")
    GoldOps.enrich(rd("profiles"), app, GoldOps.paymentDeclines(txn),
      GoldOps.revenueArpu(txn, app), GoldOps.supportFeatures(rd("support")),
      now)
  }

  /** Row count and an order-insensitive hash of `df` (columns by name). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)), hashSum(df)).head()
    (r.getLong(0), r.get(1).toString)
  }

  private def hashSum(df: DataFrame) =
    coalesce(sum(xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toSeq: _*)
      .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))

  private def nowMs(): Long = System.currentTimeMillis()
  private def sleepUntil(ms: Long): Unit = {
    var d = ms - nowMs()
    while (d > 0) { LockSupport.parkNanos(d * 1000000L); d = ms - nowMs() }
  }

  /** A file-source query's checkpoint, decoded: `sources/0/<k>` (and its
    * `.compact` files) log the files found at source log offset k (as
    * `batchId`), `offsets/<n>` the log offset micro-batch n read up to,
    * and `commits/<n>` marks micro-batch n committed. The only reader of
    * the format: the drain polls it, and the file → micro-batch map it
    * gives goes into the raw record. */
  object Checkpoint {
    private val PathRe = "\"path\":\"([^\"]+)\"".r
    private val BatchRe = "\"batchId\":(\\d+)".r
    private val LogOffsetRe = "\"logOffset\":(\\d+)".r

    private def ls(cp: File, d: String): Array[File] =
      Option(new File(cp, d).listFiles()).getOrElse(Array.empty[File])
        .filterNot(f => f.getName.startsWith(".") || f.getName.endsWith(".tmp"))
    private def read(f: File): String =
      try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      catch { case _: java.io.IOException => "" }
    private def logOffset(f: File): Option[Long] =
      LogOffsetRe.findFirstMatchIn(read(f)).map(_.group(1).toLong)

    /** Source file name → the log offset that logged it. */
    def sourceFiles(cp: File): Map[String, Long] =
      ls(cp, "sources/0").iterator.flatMap { f =>
        read(f).split("\n").iterator.flatMap { line =>
          for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
            yield new File(new java.net.URI(p.group(1)).getPath).getName -> b.group(1).toLong
        }
      }.toMap

    /** Names of the source files whose micro-batch has committed. */
    def committedFiles(cp: File): Set[String] = {
      val done = ls(cp, "commits").flatMap(_.getName.toLongOption)
      val upTo = if (done.isEmpty) None else logOffset(new File(cp, s"offsets/${done.max}"))
      upTo.fold(Set.empty[String])(last => sourceFiles(cp).collect { case (n, k) if k <= last => n }.toSet)
    }

    /** Source file name → the micro-batch that read it: the first one
      * whose log offset reaches the file's. */
    def fileBatches(cp: File): Map[String, Long] = {
      val reach = ls(cp, "offsets").flatMap(f => f.getName.toLongOption.flatMap(n => logOffset(f).map(_ -> n)))
        .sorted
      sourceFiles(cp).flatMap { case (name, k) => reach.find(_._1 >= k).map(name -> _._2) }
    }
  }

  def run(session: () => SparkSession, seed: Long, seconds: Double,
          work: File, traced: Boolean): Map[String, Any] = {
    val src = new File(work, "src"); val stage = new File(work, "stage")
    src.mkdirs(); stage.mkdirs()
    // benchmark input, generated before the set-up clock starts
    val steadyLines = (Rate * (WarmupS + seconds + CooldownS)).toInt
    val recs = Wire.records(seed, SetupLines + Backlog + steadyLines)
    // event time follows publication order (set-up, backlog, steady), so
    // no phase's events are late for the dedup watermark
    val first = Wire.files(recs.take(SetupLines), BacklogPerFile)
    val backlog = Wire.files(recs.slice(SetupLines, SetupLines + Backlog), BacklogPerFile,
      first = first.length)
    val steady = Wire.files(recs.drop(SetupLines + Backlog), SteadyPerFile,
      first = first.length + backlog.length)
    first.foreach(Wire.publish(_, stage, src))
    backlog.foreach(Wire.write(_, stage))

    // set-up: session, tables, and the untimed first micro-batch of each
    // leg (over the first files) plus one Gold refresh
    val setup0 = System.nanoTime()
    val setup0Ms = nowMs()
    val spark = session()
    val trace = if (traced) Some(Trace.install(spark)) else None
    val tables = Entities.map(e => e -> new File(work, s"silver/$e").getPath).toMap
    val checkpoints = Entities.map(e => e -> new File(work, s"checkpoint/$e")).toMap
    val bronze = Pipelines.bronze(spark.readStream.schema(WireSchema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong).json(src.getPath))
    val legs = Entities.map(e => e -> silver(e, bronze(e))).toMap
    legs.foreach { case (e, df) => TxTable.create(spark, tables(e), df.schema, Key(e), NBuckets) }
    def start(trigger: Trigger): Map[String, StreamingQuery] = legs.map { case (e, df) =>
      // each query runs in a scheduler pool of its own
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", e)
      try e -> Pipelines.appendTx(df, tables(e), Key(e), checkpoints(e).getPath,
        s"silver-$e", NBuckets).queryName(e).trigger(trigger).start()
      finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    }
    def stop(qs: Map[String, StreamingQuery]): Map[String, Seq[String]] =
      qs.map { case (e, q) => q.stop(); e -> q.recentProgress.map(_.json).toSeq }
    val firstCall = start(Trigger.AvailableNow())
    firstCall.values.foreach(_.awaitTermination())
    val setupProgress = stop(firstCall)
    GoldLeg.refresh(spark, tables, "gold/setup")
    val setupS = (System.nanoTime() - setup0) / 1e9

    // catch-up: the queries were down while the backlog landed; they
    // restart and drain it. The whole backlog is in place before the
    // first listing, so every micro-batch is a full one.
    val catchupT0 = nowMs()
    backlog.foreach(Wire.move(_, stage, src))
    val queries = start(Trigger.ProcessingTime(0L))
    var failure: Option[String] = None
    /** Wait until every query has committed every file in `names`. */
    def drain(names: Set[String]): Boolean = {
      val deadline = nowMs() + (DrainS * 1000).toLong
      def done = Entities.forall(e => names.subsetOf(Checkpoint.committedFiles(checkpoints(e))))
      while (!done && nowMs() < deadline && queries.values.forall(_.exception.isEmpty))
        Thread.sleep(20)
      queries.values.flatMap(_.exception).headOption.foreach(x => failure = Some(x.getMessage))
      done
    }
    val catchupDrained = drain(backlog.map(_.name).toSet)
    val catchupEnd = nowMs()

    // steady: file i is due at t0 + i * interval; each silver-transactions
    // commit triggers a Gold refresh
    val goldLeg = new GoldLeg(spark, tables)
    val intervalMs = 1000.0 * SteadyPerFile / Rate
    val t0 = nowMs() + 200
    val dueMs = steady.indices.map(i => t0 + (i * intervalMs).toLong)
    val published = Array.fill(steady.length)(0L)
    var steadyDrained = false
    if (catchupDrained) {
      goldLeg.start()
      steady.indices.foreach { i =>
        sleepUntil(dueMs(i))
        Wire.publish(steady(i), stage, src)
        published(i) = nowMs()
      }
      steadyDrained = drain(steady.map(_.name).toSet)
      goldLeg.finish().foreach(x => failure = failure.orElse(Some(s"gold refresh: ${x.getMessage}")))
    }
    val steadyEnd = nowMs()
    val running = stop(queries)
    // the per-layer record covers the workload only: it is taken before
    // the output checks run their own jobs
    val traceOut = trace.map { t =>
      t.drain()
      Map("buckets" -> t.summary(), "batch_job_union_ms" -> t.streamBatchUnions(),
        "query_ids" -> queries.map { case (e, q) => e -> q.id.toString })
    }
    val history = tables.map { case (e, t) =>
      e -> TxTable.history(spark, t).collect().map { r =>
        Map("version" -> r.getAs[Long]("version"),
          "txn_app" -> Option(r.getAs[String]("txn_app")),
          "txn_batch" -> Option(r.get(r.fieldIndex("txn_batch"))).map(_.toString.toLong),
          "n_adds" -> r.getAs[Int]("n_adds"),
          "commit_ms" -> r.getAs[java.sql.Timestamp]("commit_ts").getTime)
      }.toSeq
    }
    val checks =
      if (failure.isEmpty && catchupDrained && steadyDrained)
        verify(spark, tables, src, work, goldLeg.refreshes.lastOption)
      else Seq(Map("name" -> "drain", "ok" -> false,
        "detail" -> failure.getOrElse("not drained by the deadline")))
    def fileRows(fs: IndexedSeq[Wire.WireFile], phase: String,
                 due: Int => Long, pub: Int => Long) =
      fs.indices.map(i => Map("name" -> fs(i).name, "phase" -> phase,
        "due_ms" -> due(i), "published_ms" -> pub(i),
        "bytes" -> fs(i).bytes.length, "counts" -> fs(i).counts))
    Map(
      "workload" -> "stream", "setup_s" -> setupS,
      "catchup_ms" -> Seq(catchupT0, catchupEnd),
      "steady_ms" -> Seq(t0, steadyEnd),
      "window_ms" -> Seq(t0 + (WarmupS * 1000).toLong,
        t0 + ((WarmupS + seconds) * 1000).toLong),
      "files" -> (fileRows(first, "setup", _ => setup0Ms, _ => setup0Ms) ++
        fileRows(backlog, "catchup", _ => catchupT0, _ => catchupT0) ++
        fileRows(steady, "steady", dueMs, published(_))),
      "tables" -> tables,
      "file_batches" -> checkpoints.map { case (e, cp) => e -> Checkpoint.fileBatches(cp) },
      "app_ids" -> Entities.map(e => e -> s"silver-$e").toMap,
      "history" -> history,
      "progress" -> Entities.map(e => e -> (setupProgress(e) ++ running(e))).toMap,
      "gold" -> goldLeg.refreshes.toSeq, "checks" -> checks, "trace" -> traceOut)
  }

  /** Output checks: each silver table against a batch run of the same
    * transform over the same input; the Gold leg's last refresh, taken
    * while the silver legs were committing, against a recompute at the
    * versions it read; and the final refresh against a recompute over the
    * final silver tables.
    *
    * The silver legs dedup with `dropDuplicatesWithinWatermark`, which
    * Spark runs only on streams; the batch run is therefore the same leg
    * run once over the whole input as a single micro-batch
    * (`Trigger.AvailableNow` with no batch cap), where no row can be late. */
  def verify(spark: SparkSession, tables: Map[String, String], src: File, work: File,
             lastSteady: Option[Map[String, Any]]): Seq[Map[String, Any]] = {
    val got = Entities.map(e => e -> TxTable.read(spark, tables(e)).drop(LayoutOps.BucketCol)).toMap
    // app_usage's event time (last_login) cycles over 30 days, so the
    // stream's watermark drops most of its rows as late, and a batch run
    // has no watermark. Its check covers the keys the watermark cannot have
    // dropped (event time above the final watermark), and requires every
    // streamed key to exist in the batch output.
    val et = col("last_login")
    val wm = lit(new java.sql.Timestamp(
      got("usage").agg(max(et)).head().getTimestamp(0).getTime - WatermarkMs))
    def keys(e: String) = DedupKeys(e).map(col)
    def expected(e: String, want: DataFrame): Seq[Any] =
      if (e != "usage") Seq(fingerprint(want))
      else Seq(fingerprint(want.filter(et > wm).select(keys(e): _*).distinct()),
        got(e).select(keys(e): _*).except(want.select(keys(e): _*)).count())
    /** The table's side, and how many rows repeat a dedup key. */
    def observed(e: String): (Seq[Any], Long) = {
      val t = got(e)
      val r = t.agg(count(lit(1)), hashSum(t), countDistinct(struct(keys(e): _*))).head()
      val dupKeys = r.getLong(0) - r.getLong(2)
      if (e != "usage") (Seq((r.getLong(0), r.get(1).toString)), dupKeys)
      else (Seq(fingerprint(t.filter(et > wm).select(keys(e): _*)), 0L), dupKeys)
    }

    // the Gold checks run beside the silver re-run: every query has
    // stopped, so the tables no longer change
    val steadyGold = lastSteady.map(r => r("versions").asInstanceOf[Map[String, Long]])
      .map(v => Future(v -> fingerprint(gold(spark, tables, v))))
    // a refresh that covers every commit, and a recompute over the final tables
    val finalRefresh = Future(GoldLeg.refresh(spark, tables, "check/final"))
    val finalGold = Future {
      (Entities.map(e => e -> TxTable.snapshot(spark, tables(e)).version).toMap,
        fingerprint(gold(spark, tables, Map.empty)))
    }
    val bronze = Pipelines.bronze(spark.readStream.schema(WireSchema).json(src.getPath))
    val want = new java.util.concurrent.ConcurrentHashMap[String, Seq[Any]]()
    Entities.map { e =>
      silver(e, bronze(e)).writeStream
        .option("checkpointLocation", new File(work, s"check/$e").getPath)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          // later batches carry no data (watermark advances); they still
          // run, so their state-store partitions commit
          if (id == 0) want.put(e, expected(e, b))
          else if (b.count() > 0) want.put(e, Seq("more than one batch"))
          ()
        }
        .start()
    }.foreach(_.awaitTermination())
    val silverChecks = Entities.map { e =>
      val (g, dupKeys) = observed(e)
      Map("name" -> s"silver.$e", "ok" -> (g == want.get(e) && dupKeys == 0),
        "detail" -> s"table $g, batch run ${want.get(e)}, duplicate keys $dupKeys")
    }
    def result(r: Map[String, Any]) = (r("rows"), r("hash"))
    val steadyCheck = lastSteady.zip(steadyGold) match {
      case Some((r, f)) =>
        val (versions, g) = Await.result(f, Duration.Inf)
        Map("name" -> "gold.steady_refresh", "ok" -> (result(r) == g),
          "detail" -> s"refresh ${result(r)}, recompute $g at $versions")
      case None => Map("name" -> "gold.steady_refresh", "ok" -> false,
        "detail" -> "the Gold leg ran no refresh")
    }
    val refreshed = Await.result(finalRefresh, Duration.Inf)
    val (latest, g) = Await.result(finalGold, Duration.Inf)
    val finalCheck = Map("name" -> "gold.final_refresh",
      "ok" -> (refreshed("versions") == latest && result(refreshed) == g),
      "detail" -> s"refresh ${result(refreshed)} at ${refreshed("versions")}, recompute $g at $latest")
    silverChecks :+ steadyCheck :+ finalCheck
  }

  /** The steady Gold leg: polls the silver-transactions log and runs one
    * refresh per new commit (commits that land during a refresh coalesce
    * into the next one). */
  final class GoldLeg(spark: SparkSession, tables: Map[String, String]) extends Thread("gold-leg") {
    setDaemon(true)
    val refreshes = mutable.ArrayBuffer.empty[Map[String, Any]]
    @volatile private var stopping = false
    @volatile private var error: Throwable = null

    override def run(): Unit = {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "gold")
      var seen = 0L
      var i = 0
      try while (!stopping) {
        val v = TxTable.snapshot(spark, tables("churn")).version
        if (v > seen) {
          refreshes += GoldLeg.refresh(spark, tables, s"gold/$i")
          seen = v; i += 1
        } else Thread.sleep(20)
      } catch { case t: Throwable => error = t }
    }

    /** Stop after the refresh under way; the error that ended it, if any. */
    def finish(): Option[Throwable] = {
      stopping = true
      join()
      Option(error)
    }
  }

  object GoldLeg {
    /** One refresh over the current silver versions, timed. */
    def refresh(spark: SparkSession, tables: Map[String, String],
                exec: String): Map[String, Any] = {
      val start = nowMs()
      // the transactions version first: it is the commit that triggered us
      val versions = Seq("churn", "profiles", "usage", "support")
        .map(e => e -> TxTable.snapshot(spark, tables(e)).version).toMap
      val (rows, hash) = Trace.within(spark, exec)(fingerprint(gold(spark, tables, versions)))
      Map("start_ms" -> start, "end_ms" -> nowMs(), "versions" -> versions,
        "rows" -> rows, "hash" -> hash)
    }
  }
}
