package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TxTable

/** Equality deletes (the Iceberg v2 MOR write shape): the write path
  * commits KEY TUPLES — zero data files read or written — and readers
  * scope the key sidecars by each file's addV sequence: a delete
  * registered at v kills matching rows only in files added BEFORE v, so
  * later appends (and rewrites' restaged survivors) are never
  * re-deleted. The registry folds away through any covering rewrite and
  * is GC'd by commitNext the moment no live file predates it. */
class EqDeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def registered[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.txeq",
      classOf[graft.sources.TxTableCatalog].getName)
    try body
    finally spark.conf.unset("spark.sql.catalog.txeq")
  }

  private def fresh(n: Int = 40): String = {
    val t = Files.createTempDirectory("graft_eq_").toString + "/t"
    TxTable.init(spark, t,
      spark.range(n).select(col("id").as("k"),
        (col("id") * 10).as("v")), "k", 4)
    t
  }

  test("the PRUNED read verbs anti-join too: readKeys and readWhere never resurrect eq-deleted keys, and later same-key appends survive") {
    val t = fresh(40)
    assert(TxTable.deleteWhereEq(spark, t,
      Seq(3L, 7L, 11L).toDF("k")) == 3)
    // point read: deleted keys are dead, their bucket-mates serve
    assert(TxTable.readKeys(spark, t, "k", Seq(3L, 7L, 4L), 4)
      .select($"k").as[Long].collect().toSet == Set(4L))
    // zone-pruned read over v = k*10 (window 20..120 = keys 2..12)
    TxTable.computeStats(spark, t, "v")
    assert(TxTable.readWhere(spark, t, "v", 20L, 120L)
      .select($"k").as[Long].collect().toSet ==
      (2L to 12L).toSet -- Set(3L, 7L, 11L))
    // sequence scoping holds on the pruned verbs: a LATER append of a
    // deleted key postdates the registration and serves
    TxTable.appendOnce(spark, t, Seq((7L, 70L)).toDF("k", "v"),
      "k", 4, appId = "eq-pruned", batchId = 1L)
    assert(TxTable.readKeys(spark, t, "k", Seq(7L), 4)
      .select($"k", $"v").as[(Long, Long)].collect().toSeq ==
      Seq((7L, 70L)))
    assert(TxTable.readWhere(spark, t, "v", 70L, 70L)
      .select($"k").as[Long].collect().toSeq == Seq(7L))
    // the WAP audit view anti-joins its HEAD portion too (3 stays dead
    // there) while the staged rows — which would publish at a version
    // PAST the registration — all serve
    TxTable.stageAppend(spark, t, Seq((3L, 333L)).toDF("k", "v"),
      "k", 4, wapId = "eq.audit")
    assert(TxTable.readStaged(spark, t, "eq.audit")
      .filter($"k".isin(3L, 7L)).select($"k", $"v")
      .as[(Long, Long)].collect().toSet == Set((3L, 333L), (7L, 70L)))
    TxTable.dropStaged(spark, t, "eq.audit")
    // the fold changes no answer (the anti-join becomes a no-op)
    assert(TxTable.foldEqDeletes(spark, t) >= 1)
    assert(TxTable.readKeys(spark, t, "k", Seq(3L, 7L), 4)
      .select($"v").as[Long].collect().toSeq == Seq(70L))
    assert(TxTable.readWhere(spark, t, "v", 20L, 120L)
      .select($"k").as[Long].collect().toSet ==
      (2L to 12L).toSet -- Set(3L, 11L))
  }

  test("write path is metadata-only; reads anti-join exactly; a LATER append with the same keys survives (sequence scoping)") {
    registered {
      val t = fresh(40)
      val before = TxTable.snapshot(spark, t)
      val n = TxTable.deleteWhereEq(spark, t,
        Seq(3L, 7L, 11L).toDF("k"))
      assert(n == 3)
      val after = TxTable.snapshot(spark, t)
      // ZERO data files written or removed: same entry set, one commit
      assert(after.version == before.version + 1)
      assert(after.entries.map(_.rel).toSet ==
        before.entries.map(_.rel).toSet)
      assert(TxTable.parseEqDeletes(after.props).size == 1)
      // Scala read path
      val keys = TxTable.read(spark, t).select($"k").as[Long]
        .collect().toSet
      assert(keys == (0L until 40L).toSet -- Set(3L, 7L, 11L))
      // DSv2 catalog path (plan-time position fold) agrees exactly
      val sqlKeys = spark.table(s"txeq.`$t`").select($"k").as[Long]
        .collect().toSet
      assert(sqlKeys == keys, "catalog read must match the Scala read")
      assert(spark.sql(s"SELECT count(*) FROM txeq.`$t`")
        .as[Long].head() == 37L)
      // re-insert k=7: the new file postdates the delete — it survives
      TxTable.appendOnce(spark, t, Seq((7L, 777L)).toDF("k", "v"),
        "k", 4, appId = "eq1", batchId = 1L)
      val vOf7 = TxTable.read(spark, t).filter($"k" === 7L)
        .select($"v").as[Long].collect().toSeq
      assert(vOf7 == Seq(777L),
        "a row appended after the delete must never be re-deleted")
    }
  }

  test("appendWithEqDelete: one atomic CDC commit (delete keys + new images), exactly-once on replay, survives a racing append") {
    val t = fresh(30)
    val v0 = TxTable.snapshot(spark, t).version
    val batch = Seq((5L, 5555L), (100L, 1000L)).toDF("k", "v")
    assert(TxTable.appendWithEqDelete(spark, t, batch,
      batch.select($"k"), "k", 4, appId = "cdc", batchId = 1L))
    assert(TxTable.snapshot(spark, t).version == v0 + 1,
      "delete + append must land as ONE commit")
    val rows = TxTable.read(spark, t).select($"k", $"v").as[(Long, Long)]
      .collect().toMap
    assert(rows(5L) == 5555L && rows(100L) == 1000L && rows.size == 31)
    // replay: recognized and skipped
    assert(!TxTable.appendWithEqDelete(spark, t, batch,
      batch.select($"k"), "k", 4, appId = "cdc", batchId = 1L))
    assert(TxTable.read(spark, t).count() == 31)
    // a second batch updating the SAME key wins (its file postdates
    // batch 1's delete AND registers its own)
    val b2 = Seq((5L, 9999L)).toDF("k", "v")
    assert(TxTable.appendWithEqDelete(spark, t, b2, b2.select($"k"),
      "k", 4, appId = "cdc", batchId = 2L))
    assert(TxTable.read(spark, t).filter($"k" === 5L).select($"v")
      .as[Long].collect().toSeq == Seq(9999L))
  }

  test("fold: foldEqDeletes rewrites exactly the addressable files, retires the registry, answers unchanged; compact folds too") {
    val t = fresh(40)
    TxTable.deleteWhereEq(spark, t, Seq(2L, 4L, 6L).toDF("k"))
    val expect = TxTable.read(spark, t).select($"k").as[Long]
      .collect().sorted
    val rewritten = TxTable.foldEqDeletes(spark, t)
    assert(rewritten > 0)
    val snap = TxTable.snapshot(spark, t)
    assert(TxTable.parseEqDeletes(snap.props).isEmpty,
      "commitNext must GC a fully-covered registry entry")
    assert(TxTable.read(spark, t).select($"k").as[Long]
      .collect().sorted.sameElements(expect))
    // idempotent: nothing left to fold
    assert(TxTable.foldEqDeletes(spark, t) == 0)
    // a plain compaction folds opportunistically as well
    val t2 = fresh(30)
    TxTable.appendOnce(spark, t2,
      spark.range(30, 60).select(col("id").as("k"),
        (col("id") * 10).as("v")), "k", 4, appId = "eqf", batchId = 1L)
    TxTable.deleteWhereEq(spark, t2, Seq(1L, 31L).toDF("k"))
    TxTable.compact(spark, t2, maxFilesPerBucket = 1)
    assert(TxTable.parseEqDeletes(
      TxTable.snapshot(spark, t2).props).isEmpty)
    assert(TxTable.read(spark, t2).count() == 58)
  }

  test("CDF: changesBetween surfaces an eq-delete's dead rows exactly, once, and never rows that were already dead") {
    val t = fresh(20)
    val v0 = TxTable.snapshot(spark, t).version
    TxTable.deleteWhereMor(spark, t, col("k") === 4L) // dies positionally
    TxTable.deleteWhereEq(spark, t, Seq(4L, 8L).toDF("k"))
    TxTable.deleteWhereEq(spark, t, Seq(8L, 9L).toDF("k"))
    val vEnd = TxTable.snapshot(spark, t).version
    val changes = TxTable.changesBetween(spark, t, v0, vEnd)
      .select($"k", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val deletes = changes.filter(_._2 == "delete")
    // k=4 died ONCE (the MOR delete; the eq-delete must not re-kill),
    // k=8 died once (first eq-delete; the second must not re-kill),
    // k=9 died once (second eq-delete)
    assert(deletes.groupBy(_._1).view.mapValues(_.length).toMap ==
      Map(4L -> 1, 8L -> 1, 9L -> 1), deletes.mkString(", "))
    assert(deletes.filter(_._1 == 8L).head._3 == v0 + 2)
    assert(deletes.filter(_._1 == 9L).head._3 == v0 + 3)
    // final read agrees
    assert(TxTable.read(spark, t).select($"k").as[Long].collect().toSet
      == (0L until 20L).toSet -- Set(4L, 8L, 9L))
  }

  test("plan shape: the eq-delete read is broadcast-only (anti-join + addv attach) — zero shuffles added to the scan") {
    val t = fresh(40)
    TxTable.deleteWhereEq(spark, t, Seq(3L, 7L).toDF("k"))
    // sparkPlan, not executedPlan: collect() does not descend into the
    // AdaptiveSparkPlan wrapper
    val plan = TxTable.read(spark, t).queryExecution.sparkPlan
    val smj = plan.collect {
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
    }
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => e
    }
    val bhjAnti = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        b
    }
    assert(smj.isEmpty && shuffles.isEmpty,
      s"eq read must add no shuffle:\n$plan")
    assert(bhjAnti.nonEmpty, s"anti-join must broadcast:\n$plan")
  }

  test("#changes (DSv2 feed) surfaces eq-delete rows exactly: same dead rows as the batch CDF, each exactly once, streamable") {
    registered {
      val t = fresh(20)
      TxTable.deleteWhereMor(spark, t, col("k") === 4L)
      TxTable.deleteWhereEq(spark, t, Seq(4L, 8L).toDF("k"))
      TxTable.deleteWhereEq(spark, t, Seq(8L, 9L).toDF("k"))
      val feed = spark.read.option("startingVersion", 1)
        .table(s"txeq.`$t#changes`")
        .select($"k", $"_change_type", $"_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val deletes = feed.filter(_._2 == "delete")
      assert(deletes.groupBy(_._1).view.mapValues(_.length).toMap ==
        Map(4L -> 1, 8L -> 1, 9L -> 1), deletes.mkString(", "))
      // versions attribute exactly: k=8 at the first eq commit (v2),
      // k=9 at the second (v3), k=4 at the MOR commit (v1)
      assert(deletes.toSet.map((x: (Long, String, Long)) => (x._1, x._3))
        == Set((4L, 1L), (8L, 2L), (9L, 3L)))
      // the append STREAM passes eq commits silently (no files changed),
      // matching the pinned MOR contract: deletes are the CDF's surface
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_eqst_").toString
      val q = spark.readStream.table(s"txeq.`$t`")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.exception.isEmpty)
    }
  }

  test("row tracking interplay: eq-deleted rows vanish from readLineage, survivors keep ids through the fold") {
    val t = fresh(25)
    TxTable.enableRowTracking(spark, t)
    val before = TxTable.readLineage(spark, t)
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    TxTable.deleteWhereEq(spark, t, Seq(10L, 20L).toDF("k"))
    val mid = TxTable.readLineage(spark, t)
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    assert(mid.keySet == before.keySet -- Set(10L, 20L))
    mid.foreach { case (k, id) => assert(before(k) == id) }
    TxTable.foldEqDeletes(spark, t)
    val after = TxTable.readLineage(spark, t)
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    assert(after == mid, "the fold must not drift a single identity")
  }

  test("cdcApplyEq streaming sink: upsert + delete ops land per micro-batch, exactly-once, zero rewrites") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = Files.createTempDirectory("graft_eqs_").toString
    val t = s"$tmp/t"
    TxTable.init(spark,
      t, Seq((1L, "a", "u"), (2L, "b", "u")).toDF("k", "v", "op"),
      "k", 4)
    val in = MemoryStream[(Long, String, String)]
    in.addData((1L, "a2", "u"), (3L, "c", "u"), (2L, "", "d"))
    val q = graft.stream.Pipelines.cdcApplyEq(
      in.toDF().toDF("k", "v", "op"), t, "k", s"$tmp/ckpt",
      appId = "eqs", nBuckets = 4, opCol = Some("op"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = TxTable.read(spark, t).select($"k", $"v")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a2", 3L -> "c"),
      s"k=1 updated, k=2 deleted, k=3 inserted: $out")
    // one init + ONE micro-batch commit, no rewrite commits
    assert(TxTable.snapshot(spark, t).version == 1L)
  }

  test("cdcApplyEq torn-batch replay: crash after the sink committed but before the engine logged — the re-delivered batch is a no-op") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = Files.createTempDirectory("graft_eqt_").toString
    val t = s"$tmp/t"
    val ck = s"$tmp/ckpt"
    TxTable.init(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      "k", 4)
    val in = MemoryStream[(Long, Long, String)]
    def start() = graft.stream.Pipelines.cdcApplyEq(
      in.toDF().toDF("k", "v", "op"), t, "k", ck,
      appId = "eqt", nBuckets = 4, opCol = Some("op")).start()
    val q1 = start()
    in.addData((1L, 11L, "u"), (3L, 30L, "u"))
    q1.processAllAvailable(); q1.stop()
    assert(TxTable.snapshot(spark, t).version == 1L)
    // the torn window: the TxTable commit landed but the engine's own
    // commit log entry didn't (crash between sink and log) — on restart
    // Spark re-delivers batch 0 with the same offsets
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    assert(commits.nonEmpty && commits.last.delete())
    new java.io.File(commits.last.getParent,
      "." + commits.last.getName + ".crc").delete()
    val q2 = start()
    q2.processAllAvailable()
    assert(TxTable.snapshot(spark, t).version == 1L,
      "the replayed batch must be recognized by (appId, batchId) and " +
        "commit NOTHING")
    // and the stream keeps going: batch 1 updates k=2, deletes k=1
    in.addData((2L, 22L, "u"), (1L, 0L, "d"))
    q2.processAllAvailable(); q2.stop()
    assert(TxTable.snapshot(spark, t).version == 2L)
    val out = TxTable.read(spark, t).select($"k", $"v")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 22L, 3L -> 30L),
      s"k=1 deleted, k=2 updated, k=3 from the replayed batch: $out")
  }

  test("race: concurrent CDC eq-batches and plain appends all land exactly-once; no delete leaks onto a racing append's rows") {
    val t = fresh(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 4 CDC batches (each updates key k with value batch*1000+k, and
    // all target keys 0..9) racing 3 plain appends of DISJOINT keys
    val cdc = (1 to 4).map { b =>
      Future {
        val batch = (0L until 10L).map(k => (k, b * 1000L + k))
          .toDF("k", "v")
        TxTable.appendWithEqDelete(spark, t, batch, batch.select($"k"),
          "k", 4, appId = "race-cdc", batchId = b.toLong)
      }
    }
    val apps = (1 to 3).map { b =>
      Future {
        // distinct appIds: these model INDEPENDENT writers, not one
        // stream's batches (same-app batch ids are monotonic by contract)
        TxTable.appendOnce(spark, t,
          Seq((100L + b, b.toLong)).toDF("k", "v"), "k", 4,
          appId = s"race-app-$b", batchId = 1L)
      }
    }
    (cdc ++ apps).foreach(f => Await.result(f, 120.seconds))
    val rows = TxTable.read(spark, t).select($"k", $"v")
      .as[(Long, Long)].collect().toSeq
    // every key appears EXACTLY once: the winning CDC batch's image for
    // 0..9 (whichever committed last — its file postdates every earlier
    // delete), and each append's row untouched (disjoint keys can never
    // match a delete sidecar)
    assert(rows.map(_._1).sorted ==
      ((0L until 10L) ++ Seq(101L, 102L, 103L)).sorted, rows.sortBy(_._1))
    val lastBatch = rows.filter(_._1 < 100L).map(_._2 / 1000L).distinct
    assert(lastBatch.size == 1,
      s"one CDC batch must win wholesale: $lastBatch")
    (1 to 3).foreach(b => assert(rows.contains((100L + b, b.toLong))))
  }

  test("no resurrection through restaging rewrites: REPLACE WHERE remainders and rebucket both fold the registry; tracked ids survive rebucket") {
    registered {
      // REPLACE WHERE: the partially-covered file's remainder rewrite
      // must drop eq-dead rows (the restaged file postdates the
      // registry — a plain read would resurrect them for good)
      val t = fresh(40)
      TxTable.deleteWhereEq(spark, t, Seq(5L, 25L).toDF("k"))
      spark.range(100, 105).select(col("id").as("k"),
          (col("id") * 10).as("v"))
        .writeTo(s"txeq.`$t`")
        .overwrite(col("k") >= 30 && col("k") < 40)
      val keys = TxTable.read(spark, t).select($"k").as[Long]
        .collect().toSet
      assert(!keys.contains(5L) && !keys.contains(25L),
        "a remainder rewrite must never resurrect eq-deleted rows")
      assert(keys == ((0L until 30L).toSet -- Set(5L, 25L)) ++
        (100L until 105L).toSet, keys.toSeq.sorted)
      // rebucket: same contract, plus tracked identities materialize
      val t2 = fresh(20)
      TxTable.enableRowTracking(spark, t2)
      val ids = TxTable.readLineage(spark, t2)
        .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
      TxTable.deleteWhereEq(spark, t2, Seq(3L).toDF("k"))
      TxTable.rebucket(spark, t2, "k", 8)
      assert(TxTable.parseEqDeletes(
        TxTable.snapshot(spark, t2).props).isEmpty,
        "rebucket covers every file — the registry must GC")
      val after = TxTable.readLineage(spark, t2)
        .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
      assert(after.keySet == ids.keySet - 3L)
      after.foreach { case (k, id) => assert(ids(k) == id,
        s"k=$k drifted across rebucket") }
    }
  }

  test("guards: raw SET/UNSET refuses; clone refuses unfolded; pre-stamp tables refuse; vacuum keeps the key sidecar") {
    registered {
      val t = fresh(10)
      TxTable.deleteWhereEq(spark, t, Seq(1L).toDF("k"))
      val e1 = intercept[Exception] {
        spark.sql(s"ALTER TABLE txeq.`$t` SET TBLPROPERTIES" +
          s"('${TxTable.EqDeletesProp}'='junk')")
      }
      assert(e1.getMessage.contains("registry"), e1.getMessage)
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE txeq.`$t` UNSET TBLPROPERTIES" +
          s"('${TxTable.EqDeletesProp}')")
      }
      assert(e2.getMessage.contains("resurrect"), e2.getMessage)
      val e3 = intercept[Exception] {
        TxTable.cloneTable(spark, t,
          Files.createTempDirectory("graft_eqc_").toString + "/c")
      }
      assert(e3.getMessage.contains("unfolded equality deletes"),
        e3.getMessage)
      // vacuum must pin the key sidecar (sweeping it would resurrect)
      TxTable.vacuum(spark, t, keepVersions = 1)
      assert(TxTable.read(spark, t).count() == 9,
        "the delete must survive a vacuum")
      // a table whose manifests predate sequence stamping refuses:
      // strip the v: tags from the newest manifest and try
      val t2 = fresh(8)
      val fs = new org.apache.hadoop.fs.Path(t2).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val log = new org.apache.hadoop.fs.Path(t2, "_txlog")
      val newest = fs.listStatus(log).map(_.getPath)
        .filter(_.getName.endsWith(".manifest"))
        .maxBy(_.getName.stripSuffix(".manifest").toLong)
      val bytes = {
        val in = fs.open(newest)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
      val stripped = bytes.replaceAll("\tv:\\d+", "")
      val out = fs.create(newest, true)
      out.write(stripped.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      val e4 = intercept[IllegalArgumentException] {
        TxTable.deleteWhereEq(spark, t2, Seq(1L).toDF("k"))
      }
      assert(e4.getMessage.contains("predate sequence stamping"),
        e4.getMessage)
    }
  }

  test("changesSince hides eq-deleted rows exactly like DV-deleted rows") {
    val t = fresh(40)
    TxTable.appendOnce(spark, t,
      Seq((100L, 1000L), (101L, 1010L), (102L, 1020L)).toDF("k", "v"),
      "k", 4, appId = "eq-since", batchId = 1L)
    TxTable.deleteWhereEq(spark, t, Seq(101L).toDF("k"))
    TxTable.deleteWhereMor(spark, t, col("k") === 102L)
    val (df, _) = TxTable.changesSince(spark, t, 0L)
    assert(df.select($"k").as[Long].collect().toSeq == Seq(100L))
  }

  test("CDF: an upsert that rewrites an eq-deleted row's file does not emit its delete a second time") {
    val t = fresh(20)
    val v0 = TxTable.snapshot(spark, t).version
    TxTable.deleteWhereEq(spark, t, Seq(4L).toDF("k"))
    // re-insert k=4: its bucket's file is removed and restaged
    TxTable.upsert(spark, t, Seq((4L, 4000L)).toDF("k", "v"), "k", "v", 4)
    val vEnd = TxTable.snapshot(spark, t).version
    val deletes = TxTable.changesBetween(spark, t, v0, vEnd)
      .filter($"_change_type" === "delete" && $"k" === 4L)
      .select($"_commit_version").as[Long].collect().toSeq
    assert(deletes == Seq(v0 + 1), s"k=4 must die once, at the eq-delete")
    assert(TxTable.read(spark, t).filter($"k" === 4L).select($"v")
      .as[Long].collect().toSeq == Seq(4000L))
  }

  test("every read verb serves the live rows read() serves, under unfolded eq-deletes plus DVs on a row-tracked table") {
    val t = fresh(40)
    TxTable.enableRowTracking(spark, t)
    val v0 = TxTable.snapshot(spark, t).version
    TxTable.appendOnce(spark, t,
      spark.range(100, 110).select(col("id").as("k"),
        (col("id") * 10).as("v")), "k", 4, appId = "eq-parity", batchId = 1L)
    TxTable.deleteWhereEq(spark, t, Seq(3L, 7L, 101L).toDF("k"))
    TxTable.deleteWhereMor(spark, t, col("k").isin(5L, 104L))
    val snap = TxTable.snapshot(spark, t)
    assert(TxTable.parseEqDeletes(snap.props).nonEmpty &&
      snap.entries.exists(_.dv.isDefined),
      "the table must carry both unfolded eq-deletes and DVs")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select($"k", $"v").as[(Long, Long)].collect().toSeq.sorted
    def expect(p: org.apache.spark.sql.Column) =
      rows(TxTable.read(spark, t).filter(p))
    val probe = Seq(2L, 3L, 4L, 5L, 7L, 100L, 101L, 104L, 105L)
    assert(rows(TxTable.readKeys(spark, t, "k", probe, 4)) ==
      expect($"k".isin(probe: _*)))
    TxTable.computeStats(spark, t, "k")
    TxTable.computeStats(spark, t, "v")
    assert(rows(TxTable.readWhere(spark, t, "v", 20L, 1050L)) ==
      expect($"v".between(20L, 1050L)))
    assert(rows(TxTable.readWhereAll(spark, t,
        Seq(("k", 2L, 104L), ("v", 30L, 1070L)))) ==
      expect($"k".between(2L, 104L) && $"v".between(30L, 1070L)))
    TxTable.stageAppend(spark, t, Seq((200L, 2000L)).toDF("k", "v"),
      "k", 4, wapId = "eq.parity")
    assert(rows(TxTable.readStaged(spark, t, "eq.parity")
      .filter($"k" =!= 200L)) == expect(lit(true)))
    TxTable.dropStaged(spark, t, "eq.parity")
    assert(rows(TxTable.readLineage(spark, t)) == expect(lit(true)))
    assert(rows(TxTable.changesSince(spark, t, v0)._1) ==
      expect($"k" >= 100L))
  }

  test("a table re-created at the same path never serves the dropped table's plan-time eq-delete fold") {
    registered {
      val t = fresh(40)
      TxTable.deleteWhereEq(spark, t, Seq(3L).toDF("k"))
      def sqlKeys = spark.table(s"txeq.`$t`").select($"k").as[Long]
        .collect().toSet
      assert(sqlKeys == (0L until 40L).toSet - 3L)
      // drop + re-create reuses version numbers: v1 is again an
      // equality delete, over different files and a different key
      assert(TxTable.drop(spark, t))
      TxTable.init(spark, t, spark.range(40).select(col("id").as("k"),
        (col("id") * 10).as("v")), "k", 4)
      TxTable.deleteWhereEq(spark, t, Seq(5L).toDF("k"))
      assert(TxTable.snapshot(spark, t).version == 1L)
      assert(sqlKeys == (0L until 40L).toSet - 5L,
        "the new table's deleted key must stay dead")
    }
  }

  test("a pruned DSv2 read does not narrow the eq-delete fold a later read at the same version uses") {
    registered {
      val t = fresh(40)
      TxTable.deleteWhereEq(spark, t, Seq(3L, 7L, 11L, 20L).toDF("k"))
      // bucket pruning keeps only k=3's bucket for the first fold
      assert(spark.table(s"txeq.`$t`").filter($"k" === 3L).count() == 0)
      val keys = spark.table(s"txeq.`$t`").select($"k").as[Long]
        .collect().toSet
      assert(keys == (0L until 40L).toSet -- Set(3L, 7L, 11L, 20L))
    }
  }

  test("appendWithEqDelete: a batch with no rows and no keys commits no version") {
    val t = fresh(10)
    val v0 = TxTable.snapshot(spark, t).version
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(!TxTable.appendWithEqDelete(spark, t, empty, empty.select($"k"),
      "k", 4, appId = "cdc-empty", batchId = 0L))
    assert(TxTable.snapshot(spark, t).version == v0)
    // a delete-only batch still commits
    assert(TxTable.appendWithEqDelete(spark, t, empty,
      Seq(2L).toDF("k"), "k", 4, appId = "cdc-empty", batchId = 1L))
    assert(TxTable.snapshot(spark, t).version == v0 + 1)
    assert(TxTable.read(spark, t).count() == 9L)
  }

  test("both change surfaces diff one dead-row set on whole-file legs: an upsert never re-kills an eq-deleted key, a restore never revives one") {
    registered {
      def events(t: String, from: Long, to: Long) = {
        def of(df: org.apache.spark.sql.DataFrame) = df
          .select($"k", $"_change_type", $"_commit_version")
          .as[(Long, String, Long)].collect().toSeq.sorted
        val feed = of(spark.read.option("startingVersion", from + 1)
          .option("endingVersion", to).table(s"txeq.`$t#changes`"))
        val batch = of(TxTable.changesBetween(spark, t, from, to))
        assert(feed == batch, s"surfaces disagree:\n$feed\n$batch")
        feed
      }
      // (a) the upsert removes key 3's file: its then-live rows die at
      // v2, and key 3 was already dead since v1
      val a = fresh(10)
      TxTable.deleteWhereEq(spark, a, Seq(3L).toDF("k"))            // v1
      TxTable.upsert(spark, a, Seq(0L, 2L, 4L, 6L, 8L)
        .map(k => (k, k * 100)).toDF("k", "v"), "k", "v", 4)        // v2
      val ea = events(a, 0L, 2L)
      assert(ea.filter(e => e._1 == 3L && e._2 == "delete") ==
        Seq((3L, "delete", 1L)), ea.mkString(", "))
      // (b) the restore re-adds the v0 files together with v1's
      // registry: key 3 stays dead, as the table read at v3 says
      val b = fresh(10)
      TxTable.deleteWhereEq(spark, b, Seq(3L).toDF("k"))            // v1
      TxTable.foldEqDeletes(spark, b)                               // v2
      TxTable.restore(spark, b, 1L)                                 // v3
      val live = TxTable.read(spark, b, Some(3L)).select($"k")
        .as[Long].collect().toSet
      assert(live == (0L until 10L).toSet - 3L)
      val eb = events(b, 2L, 3L)
      assert(eb.filter(_._2 == "insert").map(_._1).toSet == live,
        eb.mkString(", "))
    }
  }
}
