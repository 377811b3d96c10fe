package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.ChurnDataGen
import graft.schemas.Schemas._
import graft.stream.Pipelines

/** Streaming assembly (SURVEY §2.8): MemoryStream → silver transforms →
  * AvailableNow → sink assertions; watermarked dedup; streaming windowed agg
  * consistent with its batch equivalent; file-sink round trip. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("silverCustomer stream: predicates + watermarked dedup, append mode") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[CustomerProfile]
    in.addData(
      CustomerProfile("C1", "Alice", "a@x.com", "Female", 30, "2020-01-01", ts("2024-01-01 10:00:00")),
      CustomerProfile("C1", "Alice", "a@x.com", "Female", 30, "2020-01-01", ts("2024-01-01 10:00:00")), // dup
      CustomerProfile("C2", "Bob", "bob@testmail.com", "Male", 40, "2020-01-01", ts("2024-01-01 10:01:00")), // test email
      CustomerProfile("C3", "Carol", "c@x.com", "unknown", 25, "2020-01-01", ts("2024-01-01 10:02:00"))) // bad gender
    val q = Pipelines.silverCustomer(in.toDF())
      .writeStream.format("memory").queryName("silver_customer_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("silver_customer_t")
    assert(out.select("customer_id").as[String].collect().toSeq == Seq("C1"))
    // duplicate arriving in a later batch within the watermark is suppressed
    in.addData(
      CustomerProfile("C1", "Alice", "a@x.com", "Female", 30, "2020-01-01", ts("2024-01-01 10:00:00")),
      CustomerProfile("C4", "Dave", "d@x.com", "Male", 33, "2020-01-01", ts("2024-01-01 10:03:00")))
    val q2 = Pipelines.silverCustomer(in.toDF())
      .writeStream.format("memory").queryName("silver_customer_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val all = spark.table("silver_customer_t").select("customer_id").as[String].collect().sorted
    assert(all.toSeq == Seq("C1", "C4"))
  }

  test("appendTx: exactly-once append through TxTable commits; replay skipped") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_txappend_").toString
    val table = s"$tmp/customer_tx"
    graft.ops.TxTable.init(spark, table,
      Seq(CustomerProfile("C1", "Alice", "a@x.com", "Female", 30,
        "2020-01-01", ts("2024-01-01 00:00:00"))).toDF(),
      "customer_id", nBuckets = 4)
    val in = MemoryStream[CustomerProfile]
    in.addData(
      CustomerProfile("C2", "Bob", "b@x.com", "Male", 40, "2020-01-02", ts("2024-01-01 01:00:00")),
      CustomerProfile("C3", "Carol", "c@x.com", "Female", 25, "2020-01-03", ts("2024-01-01 02:00:00")))
    def run(): Unit = {
      val q = Pipelines.appendTx(in.toDF(), table, "customer_id",
          s"$tmp/ckpt", appId = "cust_stream", nBuckets = 4)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(graft.ops.TxTable.read(spark, table).count() == 3)
    val v = graft.ops.TxTable.snapshot(spark, table).version
    // restart from the same checkpoint with no new data: nothing commits
    run()
    assert(graft.ops.TxTable.snapshot(spark, table).version == v)
    // crash-replay simulation: the checkpoint committed batch 0 but a
    // recovering run re-delivers it — the txn log rejects the duplicate
    val replay = Seq(CustomerProfile("C2", "Bob", "b@x.com", "Male", 40,
      "2020-01-02", ts("2024-01-01 01:00:00"))).toDF()
    assert(!graft.ops.TxTable.appendOnce(spark, table, replay,
      "customer_id", 4, "cust_stream", 0L))
    assert(graft.ops.TxTable.read(spark, table).count() == 3,
      "replayed micro-batch must not duplicate rows")
    // genuinely new data still flows
    in.addData(CustomerProfile("C4", "Dave", "d@x.com", "Male", 33,
      "2020-01-04", ts("2024-01-01 03:00:00")))
    run()
    assert(graft.ops.TxTable.read(spark, table).count() == 4)
  }

  test("appendTx behind the silver dedup lands at most one file per bucket per micro-batch") {
    // the streambench leg shape: a 4-partition state store (the session's
    // shuffle partitions) in front of a 2-bucket sink — without bucket
    // clustering every state partition wrote a file into every bucket
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_txcluster_").toString
    val table = s"$tmp/customer_tx"
    val in = MemoryStream[CustomerProfile]
    val batch = (1 to 200).map(i => CustomerProfile(f"C$i%03d", s"n$i",
      s"u$i@x.com", "Female", 30, "2020-01-01",
      ts("2024-01-01 00:00:00")))
    graft.ops.TxTable.init(spark, table, batch.take(1).toDF()
      .withColumn("signup_date", to_date($"signup_date")), "customer_id",
      nBuckets = 2)
    in.addData(batch.drop(1): _*)
    val q = Pipelines.appendTx(Pipelines.silverCustomer(in.toDF()), table,
        "customer_id", s"$tmp/ckpt", appId = "cust_stream", nBuckets = 2)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // per commit
    def files(v: Long) = graft.ops.TxTable.snapshot(spark, table, Some(v))
      .entries.map(e => e.rel -> e.bucket).toMap
    val head = graft.ops.TxTable.snapshot(spark, table).version
    val added = (1L to head).map(v => (files(v) -- files(v - 1).keys)
      .values.groupBy(identity).view.mapValues(_.size).toMap)
    assert(added.contains(Map(0 -> 1, 1 -> 1)) &&
      added.forall(_.values.forall(_ == 1)), s"files per bucket: $added")
    assert(graft.ops.TxTable.read(spark, table).select("customer_id")
      .as[String].collect().sorted.toSeq == batch.map(_.customer_id))
    // one batch of data, one new version: the watermark's no-data batch
    // stages nothing and commits nothing
    assert(head == 1L, s"versions after init: $head")
    // a replayed batch id still commits nothing
    assert(!graft.ops.TxTable.appendOnce(spark, table, batch.take(1).toDF()
      .withColumn("signup_date", to_date($"signup_date")), "customer_id",
      2, "cust_stream", 0L))
    assert(graft.ops.TxTable.snapshot(spark, table).version == head)
  }

  test("appendTxGated: failing batches divert whole to quarantine, passing batches publish") {
    import graft.ops.ExpectOps
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_txgate_").toString
    val table = s"$tmp/good"
    val quarantine = s"$tmp/dead"
    graft.ops.TxTable.init(spark, table,
      Seq(CustomerProfile("C0", "Seed", "s@x.com", "Female", 50,
        "2020-01-01", ts("2024-01-01 00:00:00"))).toDF(),
      "customer_id", nBuckets = 4)
    graft.ops.TxTable.init(spark, quarantine,
      Seq(CustomerProfile("QSEED", "Q", "q@x.com", "Male", 1,
        "2020-01-01", ts("2024-01-01 00:00:00"))).toDF(),
      "customer_id", nBuckets = 4)
    val checks = Seq(
      ExpectOps.completeness("email", atLeast = 1.0),
      ExpectOps.minAtLeast("age", lo = 18.0))
    val in = MemoryStream[CustomerProfile]
    def run(): Unit = {
      val q = Pipelines.appendTxGated(in.toDF(), table, quarantine, checks,
          "customer_id", s"$tmp/ckpt", appId = "gated", nBuckets = 4)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 0: clean -> publishes
    in.addData(CustomerProfile("C1", "Ann", "a@x.com", "Female", 30,
      "2020-01-02", ts("2024-01-01 01:00:00")))
    run()
    assert(graft.ops.TxTable.read(spark, table).count() == 2)
    // batch 1: one under-age row fails min(age) -> WHOLE batch quarantined
    in.addData(
      CustomerProfile("C2", "Bob", "b@x.com", "Male", 40, "2020-01-03",
        ts("2024-01-01 02:00:00")),
      CustomerProfile("C3", "Kid", "k@x.com", "Male", 12, "2020-01-04",
        ts("2024-01-01 03:00:00")))
    run()
    assert(graft.ops.TxTable.read(spark, table).count() == 2,
      "failing batch must not publish any row")
    val dead = graft.ops.TxTable.read(spark, quarantine)
      .select($"customer_id").as[String].collect().toSet
    assert(dead == Set("QSEED", "C2", "C3"),
      "quarantine must hold the entire failing batch")
    // restart from the same checkpoint: nothing re-lands anywhere
    val (vT, vQ) = (graft.ops.TxTable.snapshot(spark, table).version,
      graft.ops.TxTable.snapshot(spark, quarantine).version)
    run()
    assert(graft.ops.TxTable.snapshot(spark, table).version == vT)
    assert(graft.ops.TxTable.snapshot(spark, quarantine).version == vQ)
  }

  test("cdcApply lands each micro-batch as one atomic TxTable commit") {
    implicit val ctx = spark.sqlContext
    import graft.ops.TxTable
    val tmp = Files.createTempDirectory("graft_cdctx_").toString
    val table = s"$tmp/customer_profile"
    TxTable.init(spark,  table,
      Seq(CustomerProfile("C1", "Alice", "a@x.com", "Female", 30, "2020-01-01", ts("2024-01-01 00:00:00")))
        .toDF(), "customer_id", nBuckets = 8)
    val in = MemoryStream[CustomerProfile]
    in.addData(
      CustomerProfile("C1", "Alice2", "a2@x.com", "Female", 31, "2020-01-01", ts("2024-01-02 00:00:00")),
      CustomerProfile("C2", "Bob", "b@x.com", "Male", 40, "2020-01-02", ts("2024-01-01 00:00:00")))
    val q = Pipelines.cdcApply(in.toDF(), table, "customer_id", "event_time",
        s"$tmp/ckpt", nBuckets = 8).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = TxTable.read(spark, table)
      .select("customer_id", "name").as[(String, String)].collect().toMap
    assert(out == Map("C1" -> "Alice2", "C2" -> "Bob"))
    // one init + one micro-batch = versions 0 and 1; v0 still time-travels
    assert(TxTable.snapshot(spark, table).version == 1L)
    assert(TxTable.read(spark, table, Some(0L))
      .select("name").as[String].collect().toSeq == Seq("Alice"))
  }

  test("K5 console sink starts, drains the stream, and terminates") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[CustomerProfile]
    in.addData(
      CustomerProfile("C1", "Alice", "a@x.com", "Female", 30, "2020-01-01", ts("2024-01-01 10:00:00")))
    val q = Pipelines.toConsoleSink(in.toDF(), numRows = 5)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.lastProgress.numInputRows == 1)
  }

  test("bronze → silver → parquet sink end-to-end over a JSONL wire file") {
    val tmp = Files.createTempDirectory("graft_stream_").toString
    // wire: producer-shaped JSON lines with a topic column
    val b = ChurnDataGen.generate(120)
    val wirePath = s"$tmp/wire"
    ChurnDataGen.profilesDF(spark, b)
      .select(to_json(struct(col("*"))).as("value"),
        lit(Pipelines.Topics("profiles")).as("topic"))
      .write.json(wirePath)
    val wireSchema = "value STRING, topic STRING"
    val wire = spark.readStream.schema(wireSchema).json(wirePath)
    val parsed = Pipelines.bronze(wire)("profiles")
    val q = Pipelines.toParquetSink(
      Pipelines.silverCustomer(parsed),
      s"$tmp/silver_profiles", s"$tmp/ckpt_profiles")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(s"$tmp/silver_profiles")
    assert(out.count() > 0)
    // the batch cleanser accepts everything the streaming one emitted
    // (same predicates; dedup keys may differ in arbitrary-row choice)
    assert(out.filter(col("age") <= 0).count() == 0)
    assert(out.filter(col("email").contains("test")).count() == 0)
    // kafka-analog json sink round trip
    val q2 = Pipelines.toJsonSink(
      Pipelines.silverCustomer(parsed), "customer_id",
      s"$tmp/kafka_out", s"$tmp/ckpt_kafka")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val kafkaOut = spark.read.json(s"$tmp/kafka_out")
    assert(kafkaOut.columns.sorted.toSeq == Seq("key", "value"))
    assert(kafkaOut.count() == out.count())
  }

  test("streaming windowed counts match batch for closed windows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val rows = (0 until 200).map { i =>
      (ts(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), if (i % 2 == 0) "view" else "click")
    }
    in.addData(rows: _*)
    val stream = Pipelines.windowedEventCounts(
      in.toDF().toDF("ts", "event_type"), watermark = "0 seconds")
    val q = stream.writeStream.format("memory").queryName("win_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("win_t")
    val batch = rows.toDF("ts", "event_type")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    // append mode emits only watermark-closed windows; those must agree exactly
    val joined = streamed.as("s").join(batch.as("b"),
      Seq("window_start", "event_type"))
    assert(streamed.count() > 0)
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
    assert(joined.count() == streamed.count()) // every emitted window exists in batch
  }

  test("streaming session_window merges gaps like the batch sessionizer") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    in.addData(
      (1L, ts("2024-01-01 00:00:00"), 10L, "view", 1.0),
      (2L, ts("2024-01-01 00:10:00"), 10L, "click", 2.0),
      (3L, ts("2024-01-01 01:00:00"), 10L, "view", 4.0),  // 50min gap → new session
      (4L, ts("2024-01-01 00:00:00"), 11L, "view", 8.0),
      (5L, ts("2024-01-01 12:00:00"), 10L, "view", 0.5))  // late watermark driver
    val q = Pipelines.streamingSessions(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        gap = "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("sess_t")
      .select("user_id", "n_events", "session_value")
      .as[(Long, Long, Double)].collect().toSet
    // closed sessions: user 10 {2 events, 3.0} then {1 event, 4.0}; user 11 {1, 8.0}
    assert(out.contains((10L, 2L, 3.0)) && out.contains((10L, 1L, 4.0))
      && out.contains((11L, 1L, 8.0)))
  }

  test("flatMapGroupsWithState keeps running per-customer spend across batches") {
    implicit val ctx = spark.sqlContext
    import graft.schemas.Schemas.Transaction
    val in = MemoryStream[Transaction]
    in.addData(
      Transaction("A", "purchase", ts("2024-01-01 00:00:00"), 10.0),
      Transaction("A", "purchase", ts("2024-01-01 00:01:00"), 5.5),
      Transaction("B", "purchase", ts("2024-01-01 00:02:00"), 3.0))
    val tmp = Files.createTempDirectory("graft_spend_").toString
    def run(): Unit = {
      val q = Pipelines.runningSpend(in.toDS())
        .toDF("customer_id", "lifetime_spend", "n_txns")
        .writeStream.format("json")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    in.addData(Transaction("A", "refund", ts("2024-01-01 00:03:00"), 4.5))
    run() // state survives into the next incremental run via the checkpointed store
    val latest = spark.read.json(s"$tmp/out")
      .groupBy("customer_id").agg(max("lifetime_spend").as("spend"), max("n_txns").as("n"))
      .as[(String, Double, Long)].collect().map { case (k, v, n) => k -> ((v, n)) }.toMap
    assert(latest("A") == (20.0, 3L)) // 10 + 5.5 + 4.5
    assert(latest("B") == (3.0, 1L))
  }

  test("checkpoint crash-recovery: re-executed batch stays exactly-once through sink and dedup state") {
    // The crash window that matters: the engine died AFTER the file sink
    // committed a batch's output but BEFORE the commit log recorded the
    // batch. On restart Spark re-plans that batch with the same offsets; a
    // correct sink must NOT double its rows (FileStreamSink's own batch log
    // dedups) and the watermarked-dedup state must resume where the offset
    // log says, not where the crash left the state store. Simulated by
    // deleting the newest `commits/<n>` entry — exactly the on-disk state
    // that window leaves behind.
    val tmp = Files.createTempDirectory("graft_ckrec_").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ckpt"
    def writeBatch(rows: Seq[Transaction]): Unit =
      rows.toDS().write.mode("append").json(in)
    def run(): Unit = {
      val stream = spark.readStream.schema(transactionsSilver).json(in)
      val q = Pipelines.toParquetSink(
        Pipelines.silverTransactions(stream), out, ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeBatch(Seq(
      Transaction("A", "purchase", ts("2024-01-01 10:00:00"), 10.0),
      Transaction("B", "purchase", ts("2024-01-01 10:01:00"), 5.0),
      Transaction("X", "purchase", ts("2024-01-01 10:01:30"), -1.0))) // filtered
    run()
    def sink(): Seq[(String, Double)] = spark.read.parquet(out)
      .select("customer_id", "value").as[(String, Double)]
      .collect().toSeq.sorted
    assert(sink() == Seq(("A", 10.0), ("B", 5.0)))
    // crash: newest engine commit never made it to disk
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // the local checksum-FS sidecar goes with it (a real crash never
    // leaves a .crc without its file; a stale one fails the re-write)
    new java.io.File(commits.last.getParent, "." + commits.last.getName + ".crc").delete()
    // second input batch: one duplicate of a batch-1 row (must be dropped
    // by the RECOVERED dedup state) and one genuinely new row
    writeBatch(Seq(
      Transaction("A", "purchase", ts("2024-01-01 10:00:00"), 10.0), // dup key
      Transaction("C", "purchase", ts("2024-01-01 10:02:00"), 7.0)))
    run() // restart from the same checkpoint: re-executes the torn batch
    assert(sink() == Seq(("A", 10.0), ("B", 5.0), ("C", 7.0)),
      "re-executed batch must not double rows; recovered state must still dedup")
  }

  test("dedupIngest: near-dups rejected across batches and within a batch; restart-safe") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_ingest_").toString
    val (corpus, index, ckpt) = (s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt")
    val dA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dB = "red orange yellow green blue indigo violet bright colors shine"
    val dC = "one two three four five six seven eight nine ten"
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = Pipelines.dedupIngest(
          in.toDF().toDF("doc_id", "text"), corpus, index, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1 bootstraps the (missing) index: both docs admitted
    in.addData((1L, dA), (2L, dB))
    run()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L))
    // batch 2: 3 duplicates corpus doc 1 → rejected against the index;
    // 5 duplicates its smaller-id batch sibling 4 → rejected within-batch
    in.addData((3L, dA), (4L, dC), (5L, dC))
    run()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L))
    // the index grew by the ACCEPTED slice only — and it is a TxTable
    // now: atomic manifest commits, not loose per-batch parquet appends
    assert(graft.ops.TxTable.isTxTable(spark, index),
      "streaming band index must live on the commit log")
    assert(graft.ops.TxTable.readAny(spark, index).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L))
    // restart on the same checkpoint with no new data: no re-admission
    run()
    assert(spark.read.parquet(corpus).count() == 3)
    // torn-state contract (ingestBatch documents non-atomicity across the
    // corpus and index appends): losing the INDEX degrades to
    // over-admission of a later near-dup — corpus rows survive, and the
    // rebuilt index guards again from the next batch
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(index), true)
    graft.ops.DedupOps.ingestBatch(
      Seq((6L, dA)).toDF("doc_id", "text"), corpus, index)
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L, 6L),
      "torn index must over-admit, never lose corpus rows")
    graft.ops.DedupOps.ingestBatch(
      Seq((7L, dA)).toDF("doc_id", "text"), corpus, index)
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L, 6L),
      "rebuilt index must reject the next near-dup")
  }

  test("prepIngest: quality, LM, and dedup gates compose in one landing job") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_prep_").toString
    val (corpus, index, ckpt) = (s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt")
    val lm = graft.ops.TextOps.trainCharBigramLM(
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("lang") === "en"))
    val good = "the fast join table scan and merge sort with the big data batch stream"
    // one token INSERTED mid-doc: every sliding 8-gram crosses the edit
    // (no span for excision to cut), but shingle overlap stays high — the
    // shape only the MinHash near-dup gate can catch
    val goodDup = "the fast join table scan and merge also sort with the big data batch stream"
    val tooShort = "too short"
    val gibberish = "the qzx jkq wvv pqz zkx qjw for xqz vqk jzz wkq pxv qkz"
    // threshold between the in-distribution and gibberish scores, chosen
    // from the model rather than hard-coded
    import graft.ops.TextOps
    val probe = Seq((1L, good), (2L, gibberish)).toDF("doc_id", "text")
    val scores = TextOps.lmScore(probe, lm).select($"doc_id", $"nll")
      .as[(Long, Double)].collect().toMap
    assert(scores(1L) < scores(2L), "fixture sanity: gibberish must score worse")
    val maxNll = (scores(1L) + scores(2L)) / 2
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = Pipelines.prepIngest(in.toDF().toDF("doc_id", "text"), lm,
          corpus, index, ckpt, maxNll = maxNll,
          metricsPath = Some(s"$tmp/metrics"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: good admitted; tooShort fails the quality gate; gibberish
    // passes quality (word shape is fine) but fails the LM gate
    in.addData((1L, good), (2L, tooShort), (3L, gibberish))
    run()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L))
    // batch 2: near-dup of doc 1 rejected against the corpus index
    in.addData((4L, goodDup))
    run()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L))
    // batch 3: the span-excision stage (Lee et al.) — three docs sharing a
    // 9-token boilerplate prefix: the first keeps it, the second is
    // admitted with the span CUT OUT (its remnant re-clears the quality
    // gate), a boilerplate-only doc is fully excised and dropped
    val boiler = "the big table scan and the fast merge sort"
    val tail6 = "a join batch window over the sorted merge data stream"
    in.addData(
      (5L, s"$boiler with the data stream batch"),
      (6L, s"$boiler with $tail6"),
      // doc 7: 11 words of PURE boilerplate (doc 5's prefix) — long
      // enough to clear the quality gate on entry, fully excised by the
      // span stage, dropped by the re-applied quality gate on its empty
      // remnant
      (7L, s"$boiler with the"))
    run()
    val byId = spark.read.parquet(corpus).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(byId.keySet == Set(1L, 5L, 6L), s"got ${byId.keySet}")
    // first occurrence untouched (original bytes); the later copy is
    // rewritten — docs 5 and 6 share a 10-token prefix ("$boiler with"),
    // so sliding 8-grams mark positions 0..2, the cut covers tokens 0..9,
    // and the 10-word unique tail survives the re-applied quality gate
    assert(byId(5L) == s"$boiler with the data stream batch")
    assert(byId(6L) == tail6, s"got '${byId(6L)}'")
    // replay with no new data: admission is idempotent (exactly-once)
    run()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 5L, 6L))
    // batch 4: CROSS-BATCH excision — doc 8 repeats doc 5's admitted text
    // (its grams sit in the staged span-gram index from batch 3's append)
    // and adds a novel tail. No doc in THIS batch carries the span, so
    // only the index can catch it: the copied prefix is cut, the 10-word
    // tail re-clears the quality gate and passes near-dup admission (its
    // remaining shingles overlap nothing in the corpus)
    val tail = "and the fast table data join sort batch window merge"
    in.addData((8L, s"$boiler with the data stream batch $tail"))
    run()
    val byId4 = spark.read.parquet(corpus).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(byId4.keySet == Set(1L, 5L, 6L, 8L), s"got ${byId4.keySet}")
    assert(byId4(8L) == tail, s"got '${byId4(8L)}'")
    // the index grew by the admitted batch's post-excision grams, so a
    // LATER copy of doc 8's novel tail is itself cross-batch-excisable;
    // like the band index it lives on the TxTable commit log
    assert(graft.ops.TxTable.isTxTable(spark, s"${index}_spans"),
      "streaming span-gram index must live on the commit log")
    val sgIdx = graft.ops.TxTable.readAny(spark, s"${index}_spans")
    // the TxTable bucket column rides inside the data files by design
    assert(Set("doc_id", "gh").subsetOf(sgIdx.columns.toSet))
    assert(sgIdx.filter(col("doc_id") === 8L).count() > 0,
      "admitted batch's grams must append to the span index")
    val sgCount = sgIdx.count()
    // replay with no new data: span-index growth + admission idempotent
    run()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 5L, 6L, 8L))
    assert(graft.ops.TxTable.readAny(spark, s"${index}_spans").count() == sgCount,
      "no-op replay must not regrow the span index")
    // the audit funnel: one row per non-empty batch recording how many
    // docs survived each gate — (n_in, n_quality, n_lm, n_span_cut,
    // n_span_admitted, n_accepted) per batch in order
    val funnel = spark.read.parquet(s"$tmp/metrics")
      .select($"batch_id", $"n_in", $"n_quality", $"n_lm", $"n_span_cut",
        $"n_span_admitted", $"n_accepted")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .filter(_._2 > 0).sortBy(_._1).map(r => (r._2, r._3, r._4, r._5, r._6, r._7))
    assert(funnel.toSeq == Seq(
      (3L, 2L, 1L, 0L, 1L, 1L), // good in; tooShort quality-dies; gibberish LM-dies
      (1L, 1L, 1L, 0L, 1L, 0L), // goodDup survives gates, near-dup-rejected
      (3L, 3L, 3L, 2L, 2L, 2L), // 6 cut + admitted, 7 fully excised
      (1L, 1L, 1L, 1L, 1L, 1L)  // 8 cross-batch cut, tail admitted
    ), s"funnel mismatch: ${funnel.toSeq}")
  }

  test("prepIngest search index: admitted corpus is BM25-queryable, batch-by-batch") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_prep_sidx_").toString
    val (corpus, index, ckpt) = (s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt")
    val sidx = s"$tmp/search"
    val lm = graft.ops.TextOps.trainCharBigramLM(
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("lang") === "en"))
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = Pipelines.prepIngest(in.toDF().toDF("doc_id", "text"), lm,
          corpus, index, ckpt, maxNll = 10.0, spanK = 0,
          searchIndexPath = Some(sidx))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // two batches of distinct in-distribution docs (no near-dups, LM gate
    // wide open): all admitted, so the search index must cover exactly
    // the corpus after each batch
    in.addData(
      (1L, "the fast join table scan and merge sort with the big data batch"),
      (2L, "a window over the sorted stream with the batch join and filter"))
    run()
    in.addData(
      (3L, "the table stream merge with a join filter scan and sort order"))
    run()
    val admitted = spark.read.parquet(corpus)
      .select("doc_id", "text")
    assert(admitted.count() == 3)
    val terms = Seq("join", "stream")
    val fromIndex = graft.ops.TextOps
      .bm25FromIndex(spark, sidx, terms, k = 10)
      .select("doc_id", "rank", "score").as[(Long, Int, Double)]
      .collect().toSeq
    val fromCorpus = graft.ops.TextOps.bm25TopDocs(admitted, terms, k = 10)
      .select("doc_id", "rank", "score").as[(Long, Int, Double)]
      .collect().toSeq
    assert(fromIndex == fromCorpus,
      s"index-vs-corpus mismatch: $fromIndex vs $fromCorpus")
    // replay with no new data: the search index does not regrow
    val before = graft.ops.TxTable.read(spark, sidx).count()
    run()
    assert(graft.ops.TxTable.read(spark, sidx).count() == before)
  }

  test("prepIngest funnel: the metrics path costs at most one extra job per batch") {
    // the advisor-flagged failure mode: per-stage .count() calls re-ran the
    // quality/LM/excision lineage 4-5× per micro-batch after the appends.
    // Now every verdict rides one cached flagged frame and the funnel is a
    // single conditional-sum aggregation, so enabling metrics may add at
    // most ONE job (the funnel write) over the metrics-off baseline.
    implicit val ctx = spark.sqlContext
    val lm = graft.ops.TextOps.trainCharBigramLM(
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("lang") === "en"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def stableJobs(): Int = {
      // listener events are async: poll until the counter stops moving
      var last = -1; var cur = jobs.get()
      while (cur != last) { Thread.sleep(300); last = cur; cur = jobs.get() }
      cur
    }
    def runOnce(withMetrics: Boolean): Int = {
      val tmp = Files.createTempDirectory("graft_funjob_").toString
      val in = MemoryStream[(Long, String)]
      in.addData(
        (1L, "the fast join table scan and merge sort with the big data batch stream"),
        (2L, "a filter group order window frame for the wide shuffle spill merge"),
        (3L, "too short"))
      val writer = Pipelines.prepIngest(in.toDF().toDF("doc_id", "text"), lm,
          s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt", maxNll = 100.0,
          metricsPath = if (withMetrics) Some(s"$tmp/metrics") else None)
        .trigger(Trigger.AvailableNow())
      jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try { writer.start().awaitTermination(); stableJobs() }
      finally spark.sparkContext.removeSparkListener(listener)
    }
    val base = runOnce(withMetrics = false)
    val withM = runOnce(withMetrics = true)
    assert(withM <= base + 1,
      s"metrics path must cost at most one extra job: $base -> $withM")
  }

  test("prepIngest drift monitor: in-distribution batch scores exactly 0, shifted feed spikes") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_drift_").toString
    val ref = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("lang") === "en")
    val lm = graft.ops.TextOps.trainCharBigramLM(ref)
    val dref = Pipelines.nllDriftRef(ref, lm)
    assert(math.abs(dref.probs.sum - 1.0) < 1e-9)
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = Pipelines.prepIngest(in.toDF().toDF("doc_id", "text"), lm,
          s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt", maxNll = 100.0,
          driftRef = Some(dref), driftPath = Some(s"$tmp/drift"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 0: the reference corpus itself — p == q bucket for bucket, so
    // PSI is EXACTLY zero (same counts, same divisions, same doubles)
    in.addData(ref.select($"doc_id", $"text").as[(Long, String)]
      .collect().toSeq: _*)
    run()
    // batch 1: consonant-soup feed — every doc scores far above the
    // reference range and clamps into the top bucket
    in.addData(
      (900001L, "qzx jkq wvv pqz zkx qjw xqz vqk jzz wkq pxv qkz qjz zqx"),
      (900002L, "wqz kxj vzq pzk xkz wjq zqx kqv zjz qkw vxp zkq zjq xqz"),
      (900003L, "jqx qkj vwv zpq xzk wqj zxq kvq zzj qwk pvx zqk jzq qxz"))
    run()
    val drift = spark.read.parquet(s"$tmp/drift").orderBy($"batch_id")
      .select($"batch_id", $"n_scored", $"psi")
      .as[(Long, Long, Double)].collect().toSeq
    assert(drift.map(_._1) == Seq(0L, 1L))
    assert(drift(0)._2 == ref.count() && drift(0)._3 == 0.0,
      s"identical distribution must score exactly 0: ${drift(0)}")
    assert(drift(1)._3 > 0.2,
      s"shifted feed must trip the conventional 0.2 PSI gate: ${drift(1)}")
    // batch 2: single-char docs — no bigrams, no NLL, zero scorable rows.
    // A batch with no distribution to drift emits NO row (same emptiness
    // contract as the funnel's audit legs), never an (0, NULL) placeholder
    in.addData((900011L, "x"), (900012L, "y"))
    run()
    val after = spark.read.parquet(s"$tmp/drift")
      .select($"batch_id").as[Long].collect().toSeq.sorted
    assert(after == Seq(0L, 1L),
      s"empty batch must not append a drift row, got $after")
  }

  test("embedIngest: vector micro-batches admit against the staged band index") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_embi_").toString
    val (corpus, index, ckpt) = (s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt")
    val dims = 16
    val rnd = new scala.util.Random(5)
    val base = Array.fill(dims)(rnd.nextGaussian().toFloat)
    val other = Array.fill(dims)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]) = v.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat)
    val in = MemoryStream[(Long, Array[Float])]
    def run(): Unit = {
      val q = Pipelines.embedIngest(in.toDF().toDF("vec_id", "embedding"),
          corpus, index, ckpt, threshold = 0.9)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: two distinct vectors admitted; a within-batch near-copy of
    // vec 1 (higher id) rejected
    in.addData((1L, base), (2L, other), (3L, jitter(base)))
    run()
    assert(spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet == Set(1L, 2L))
    // batch 2: near-copy of corpus vec 2 rejected, novel vector admitted
    val novel = Array.fill(dims)(rnd.nextGaussian().toFloat)
    in.addData((4L, jitter(other)), (5L, novel))
    run()
    assert(spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet == Set(1L, 2L, 5L))
    // replay with no new data: checkpointed admission is idempotent
    run()
    assert(spark.read.parquet(corpus).count() == 3)
  }

  test("embedIngest torn index: degradation is over-admission, never data loss") {
    // embedIngestBatch documents that the corpus and index appends are not
    // crash-atomic: losing the INDEX append (crash between the two) means
    // a later near-dup can slip in — over-admission — but admitted corpus
    // rows are never lost and admission never drops a novel vector. Pin
    // that contract by simulating the torn state.
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_embt_").toString
    val (corpus, index) = (s"$tmp/corpus", s"$tmp/index")
    val dims = 16
    val rnd = new scala.util.Random(9)
    val base = Array.fill(dims)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]) = v.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat)
    graft.ops.DedupOps.embedIngestBatch(
      Seq((1L, base)).toDF("vec_id", "embedding"), corpus, index)
    // simulate the torn state: the index append is lost, the corpus kept
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(index), true)
    // a near-dup of the (now unindexed) corpus vector over-admits...
    graft.ops.DedupOps.embedIngestBatch(
      Seq((2L, jitter(base))).toDF("vec_id", "embedding"), corpus, index)
    val ids = spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet
    assert(ids == Set(1L, 2L),
      "torn index must degrade to over-admission, never lose corpus rows")
    // ...and the rebuilt index guards again: a further near-dup is rejected
    graft.ops.DedupOps.embedIngestBatch(
      Seq((3L, jitter(base))).toDF("vec_id", "embedding"), corpus, index)
    assert(spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("CDC-variant bronze schema parses the Debezium-shaped payload") {
    import graft.ops.BronzeOps
    import graft.schemas.Schemas
    val wire = Seq(
      ("""{"customer_id":"C1","age":44,"gender":"Male","tenure":12,"location":"Austin","name":"dropped"}""",
        "cdc.public.customer_profile")).toDF("value", "topic")
    val out = BronzeOps.parseTopic(wire, "cdc.public.customer_profile",
      Schemas.customerProfileCdc)
    assert(out.columns.toSeq == Seq("customer_id", "age", "gender", "tenure", "location"))
    assert(out.select("tenure").as[Int].head() == 12)
  }

  test("stream-static enrichment join attaches the dim per micro-batch") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData((10L, "view"), (11L, "click"), (99L, "view")) // 99 has no dim row
    val dim = Seq((10L, "Alice"), (11L, "Bob")).toDF("user_id", "name")
    val q = Pipelines.enrichStream(
        in.toDF().toDF("user_id", "event_type"), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("enrich_t").select("user_id", "name")
      .as[(Long, Option[String])].collect().toMap
    assert(out == Map(10L -> Some("Alice"), 11L -> Some("Bob"), 99L -> None))
  }

  test("stream-stream interval join pairs within the bound, drops outside") {
    implicit val ctx = spark.sqlContext
    val touches = MemoryStream[AppUsage]
    val purchases = MemoryStream[Transaction]
    touches.addData(
      AppUsage("C1", ts("2024-01-01 10:00:00"), 1, ts("2024-01-01 10:00:00")),
      AppUsage("C2", ts("2024-01-01 10:00:00"), 1, ts("2024-01-01 10:00:00")))
    purchases.addData(
      Transaction("C1", "purchase", ts("2024-01-01 10:10:00"), 50.0), // in window
      Transaction("C1", "purchase", ts("2024-01-01 11:00:00"), 60.0), // past bound
      Transaction("C1", "purchase", ts("2024-01-01 09:55:00"), 70.0), // before touch
      Transaction("C3", "purchase", ts("2024-01-01 10:05:00"), 80.0)) // no touch
    val joined = Pipelines.streamStreamInterval(
        touches.toDF().select($"customer_id", $"event_time"),
        purchases.toDF().select($"customer_id", $"timestamp", $"value"),
        key = "customer_id", leftTs = "event_time", rightTs = "timestamp",
        bound = "30 minutes")
      .select(col("l.customer_id"), col("r.value"))
    val q = joined.writeStream.format("memory").queryName("ss_join_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("ss_join_t").as[(String, Double)].collect().toSet
    assert(out == Set(("C1", 50.0)))
  }

  test("left-outer stream-stream join: unmatched rows null-pad once the watermark closes their window") {
    implicit val ctx = spark.sqlContext
    val touches = MemoryStream[AppUsage]
    val purchases = MemoryStream[Transaction]
    val joined = Pipelines.streamStreamInterval(
        touches.toDF().select($"customer_id", $"event_time"),
        purchases.toDF().select($"customer_id", $"timestamp", $"value"),
        key = "customer_id", leftTs = "event_time", rightTs = "timestamp",
        bound = "30 minutes", joinType = "left_outer")
      .select(col("l.customer_id"), col("r.value"))
    val q = joined.writeStream.format("memory").queryName("ss_outer_t")
      .outputMode("append").start()
    try {
      // C1 matches; C2 has NO purchase in its window
      touches.addData(
        AppUsage("C1", ts("2024-01-01 10:00:00"), 1, ts("2024-01-01 10:00:00")),
        AppUsage("C2", ts("2024-01-01 10:00:00"), 1, ts("2024-01-01 10:00:00")))
      purchases.addData(
        Transaction("C1", "purchase", ts("2024-01-01 10:10:00"), 50.0))
      q.processAllAvailable()
      val early = spark.table("ss_outer_t")
        .as[(String, Option[Double])].collect().toSet
      assert(early == Set(("C1", Some(50.0)))
        || early.isEmpty, // matched row may also wait for the watermark
        s"C2 must NOT null-pad before its window provably closed: $early")
      // advance both watermarks far past 10:30 + 10 min slack
      touches.addData(
        AppUsage("C9", ts("2024-01-01 12:00:00"), 1, ts("2024-01-01 12:00:00")))
      purchases.addData(
        Transaction("C9", "purchase", ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // one more micro-batch so the closed state actually flushes
      touches.addData(
        AppUsage("C10", ts("2024-01-01 13:00:00"), 1, ts("2024-01-01 13:00:00")))
      purchases.addData(
        Transaction("C10", "purchase", ts("2024-01-01 13:00:00"), 2.0))
      q.processAllAvailable()
      val out = spark.table("ss_outer_t")
        .as[(String, Option[Double])].collect().toSet
      assert(out.contains(("C1", Some(50.0))), s"match missing: $out")
      assert(out.contains(("C2", None)),
        s"unmatched left row must emit null-padded after watermark: $out")
    } finally q.stop()
  }

  test("quality filter and chunking run unchanged on a stream (stateless projections)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData(
      (1L, "the quick brown fox jumps over the lazy dog and it runs on for a while with many fine words"),
      (2L, "too short"))
    val q = graft.ops.TextOps.qualityFilter(
        in.toDF().toDF("doc_id", "text"))
      .select(col("doc_id"), col("keep"))
      .writeStream.format("memory").queryName("qf_stream_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("qf_stream_t").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false))
    val q2 = graft.ops.TextOps.chunkDocuments(
        in.toDF().toDF("doc_id", "text"), chunkSize = 4, stride = 3)
      .writeStream.format("memory").queryName("chunk_stream_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("chunk_stream_t").count() > 2) // doc 1 fans out
    // LM scoring is also a pure projection (literal-LUT model): a streamed
    // micro-batch scores identically to the same rows in batch
    val lm = graft.ops.TextOps.trainCharBigramLM(
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("lang") === "en"))
    val q3 = graft.ops.TextOps.lmScore(in.toDF().toDF("doc_id", "text"), lm)
      .select(col("doc_id"), col("nll"))
      .writeStream.format("memory").queryName("lm_stream_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    val streamed = spark.table("lm_stream_t").as[(Long, Double)].collect().toMap
    val batchRows = graft.ops.TextOps.lmScore(
        Seq((1L, "the quick brown fox jumps over the lazy dog and it runs on for a while with many fine words"),
          (2L, "too short")).toDF("doc_id", "text"), lm)
      .select(col("doc_id"), col("nll")).as[(Long, Double)].collect().toMap
    assert(streamed == batchRows)
  }

  test("Kafka round-trip: bronze → silver over a real broker (SPARK_GRAFT_KAFKA)") {
    // The env ships no broker, so this skips (canceled, not failed) unless
    // SPARK_GRAFT_KAFKA points at a bootstrap server AND the
    // spark-sql-kafka connector is on the classpath; with both it drives
    // the S1/K2 production path end to end: batch-produce producer-shaped
    // JSON → kafkaSource → parse → silver cleanse → toKafkaSink → batch
    // consume and verify the keyed JSON round-trip.
    val brokers = sys.env.get("SPARK_GRAFT_KAFKA").filter(_.nonEmpty)
    assume(brokers.isDefined,
      "set SPARK_GRAFT_KAFKA=<bootstrap.servers> to run the broker round-trip")
    val servers = brokers.get
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val topicIn = s"graft_profiles_$suffix"
    val topicOut = s"graft_silver_$suffix"
    // produce: the reference's producer frame shape (key = id, value = JSON)
    val wireRows = Seq(
      CustomerProfile("C1", "Alice", "a@x.com", "Female", 30, "2020-01-01", ts("2024-01-01 10:00:00")),
      CustomerProfile("C1", "Alice", "a@x.com", "Female", 30, "2020-01-01", ts("2024-01-01 10:00:00")), // dup
      CustomerProfile("C2", "Bob", "bob@testmail.com", "Male", 40, "2020-01-01", ts("2024-01-01 10:01:00"))) // test email
    wireRows.toDS().select(col("customer_id").cast("string").as("key"),
        to_json(struct(col("*"))).as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topicIn).save()
    // consume via the production source, cleanse, land back on Kafka
    val wire = Pipelines.kafkaSource(spark, servers, Seq(topicIn),
      startingOffsets = "earliest")
    val parsed = graft.ops.BronzeOps.parseTopic(
      graft.ops.BronzeOps.castWire(wire), topicIn, customerProfileBronze)
    val tmp = Files.createTempDirectory("graft_kafka_").toString
    val q = Pipelines.toKafkaSink(Pipelines.silverCustomer(parsed),
        "customer_id", servers, topicOut, s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // batch-consume the output topic: dup suppressed, test email filtered
    val out = spark.read.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topicOut)
      .option("startingOffsets", "earliest").load()
      .select(col("key").cast("string"), col("value").cast("string"))
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("C1"))
    assert(out.head.getString(1).contains("\"customer_id\":\"C1\""))
  }

  test("goldForeachBatch refreshes gold per micro-batch over silver state") {
    val tmp = Files.createTempDirectory("graft_fb_").toString
    val b = ChurnDataGen.generate(200)
    import graft.ops.SilverOps
    SilverOps.cleanCustomer(ChurnDataGen.profilesDF(spark, b))
      .write.parquet(s"$tmp/silver/customer_profile")
    SilverOps.cleanAppUsage(ChurnDataGen.usageDF(spark, b))
      .write.parquet(s"$tmp/silver/app_usage")
    SilverOps.cleanTransactions(ChurnDataGen.transactionsDF(spark, b))
      .write.parquet(s"$tmp/silver/churn_transactions")
    SilverOps.cleanSupportTickets(ChurnDataGen.ticketsDF(spark, b))
      .write.parquet(s"$tmp/silver/support_tickets")
    // the trigger stream: cleansed transactions re-read as a file stream
    val txnStream = spark.readStream
      .schema(spark.read.parquet(s"$tmp/silver/churn_transactions").schema)
      .parquet(s"$tmp/silver/churn_transactions")
    val q = Pipelines.goldForeachBatch(txnStream, spark, s"$tmp/silver",
        s"$tmp/gold", s"$tmp/ckpt",
        lit("2024-02-01 00:00:00").cast("timestamp"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val gold = spark.read.parquet(s"$tmp/gold")
    assert(gold.columns.length == 15) // 14 features + batch_id
    assert(gold.count() > 0)
  }

  test("T10 off the commit log: the TxTable streaming source triggers gold refresh per commit") {
    // the reference polls gold in a 60 s while-True loop (Gold1.py:144-146);
    // round 8 made that a file-stream trigger; this closes it NATIVELY —
    // the silver transactions table is a TxTable and downstream SUBSCRIBES
    // to its commits through the DSv2 source: one gold refresh per commit,
    // no directory polling, no hand-driven cursors
    val tmp = Files.createTempDirectory("graft_fb_tx_").toString
    val b = ChurnDataGen.generate(200)
    import graft.ops.{SilverOps, TxTable}
    SilverOps.cleanCustomer(ChurnDataGen.profilesDF(spark, b))
      .write.parquet(s"$tmp/silver/customer_profile")
    SilverOps.cleanAppUsage(ChurnDataGen.usageDF(spark, b))
      .write.parquet(s"$tmp/silver/app_usage")
    SilverOps.cleanSupportTickets(ChurnDataGen.ticketsDF(spark, b))
      .write.parquet(s"$tmp/silver/support_tickets")
    val txns = SilverOps.cleanTransactions(
      ChurnDataGen.transactionsDF(spark, b))
    txns.write.parquet(s"$tmp/silver/churn_transactions")
    // the same cleansed table ALSO lives as a TxTable whose commits drive
    // the refresh; two commits = two refreshes
    val txPath = s"$tmp/silver_tx"
    val (first, rest) = (txns.limit(50), txns)
    TxTable.init(spark, txPath, first, "customer_id", 4)
    spark.conf.set("spark.sql.catalog.txspj",
      classOf[graft.sources.TxTableCatalog].getName)
    try {
      def run(): Unit = {
        val stream = spark.readStream
          .option("maxVersionsPerTrigger", "1")
          .table(s"txspj.`$txPath`")
        val q = Pipelines.goldForeachBatch(stream, spark, s"$tmp/silver",
            s"$tmp/gold", s"$tmp/ckpt",
            lit("2024-02-01 00:00:00").cast("timestamp"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      run() // consumes the init commit → one refresh
      TxTable.appendOnce(spark, txPath, rest, "customer_id", 4, "t10", 1L)
      run() // consumes the append commit → a second refresh
      val gold = spark.read.parquet(s"$tmp/gold")
      assert(gold.columns.length == 15)
      assert(gold.select("batch_id").distinct().count() == 2,
        "one gold refresh per commit")
      // a run with no new commits refreshes nothing (no empty batches)
      run()
      assert(spark.read.parquet(s"$tmp/gold")
        .select("batch_id").distinct().count() == 2)
    } finally spark.conf.unset("spark.sql.catalog.txspj")
  }

  test("goldRefresh over silver parquet produces the 14-col table") {
    val tmp = Files.createTempDirectory("graft_gold_").toString
    val b = ChurnDataGen.generate(300)
    import graft.ops.SilverOps
    SilverOps.cleanCustomer(ChurnDataGen.profilesDF(spark, b))
      .write.parquet(s"$tmp/customer_profile")
    SilverOps.cleanAppUsage(ChurnDataGen.usageDF(spark, b))
      .write.parquet(s"$tmp/app_usage")
    SilverOps.cleanTransactions(ChurnDataGen.transactionsDF(spark, b))
      .write.parquet(s"$tmp/churn_transactions")
    SilverOps.cleanSupportTickets(ChurnDataGen.ticketsDF(spark, b))
      .write.parquet(s"$tmp/support_tickets")
    val gold = Pipelines.goldRefresh(spark, tmp,
      lit("2024-02-01 00:00:00").cast("timestamp"))
    assert(gold.columns.length == 14)
    assert(gold.count() > 0)
    // declines exist because the generator injects payment_decline rows
    assert(gold.filter(col("total_declined_payments").isNotNull).count() > 0)
  }
}
