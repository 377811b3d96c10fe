package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TxTable

/** Row tracking (the public Delta feature): durable `_row_id` /
  * `_row_commit_version` identities. Fresh rows answer IMPLICITLY from
  * their file's manifest anchor (`baseRowId + physical position` — zero
  * storage); rows a rewrite moves MATERIALIZE their identity into the
  * new files' hidden columns, which win by coalesce. The binding
  * invariants: ids never change once assigned (compaction, Z-order, DV
  * purge, upsert-update), ids are never reused (CAS-committed
  * watermark), and `_row_commit_version` is the commit that last
  * MODIFIED the row (bumped by updates, preserved by rewrites). */
class RowTrackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def registered[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.txrt",
      classOf[graft.sources.TxTableCatalog].getName)
    try body
    finally spark.conf.unset("spark.sql.catalog.txrt")
  }

  private def lineage(t: String): Map[Long, (Long, Long)] =
    TxTable.readLineage(spark, t)
      .select($"k", $"_row_id", $"_row_commit_version")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap

  private def fresh(n: Int = 40): String = {
    val t = Files.createTempDirectory("graft_rt_").toString + "/t"
    TxTable.init(spark, t,
      spark.range(n).select(col("id").as("k"),
        (col("id") * 10).as("v")), "k", 4)
    t
  }

  test("enable backfills dense unique ids for every live row; later appends allocate fresh non-overlapping ranges (both Scala and SQL INSERT surfaces)") {
    registered {
      val t = fresh(40)
      TxTable.enableRowTracking(spark, t)
      TxTable.enableRowTracking(spark, t) // idempotent
      val l0 = lineage(t)
      assert(l0.size == 40)
      assert(l0.values.map(_._1).toSet.size == 40, "ids must be unique")
      assert(l0.values.map(_._1).toSet == (0L until 40L).toSet,
        "backfill allocates densely from 0")
      val enableV = TxTable.snapshot(spark, t).version
      assert(l0.values.forall(_._2 == enableV),
        "backfilled rows carry the enable version as their commit")
      // Scala append
      TxTable.appendOnce(spark, t,
        spark.range(100, 110).select(col("id").as("k"),
          (col("id") * 10).as("v")), "k", 4, appId = "rt", batchId = 1L)
      // SQL INSERT through the DSv2 catalog
      spark.sql(s"INSERT INTO txrt.`$t` VALUES (200, 2000), (201, 2010)")
      val l1 = lineage(t)
      assert(l1.size == 52)
      assert(l1.values.map(_._1).toSet.size == 52,
        "appended rows must extend the id space without collisions")
      // old rows kept their exact identities
      l0.foreach { case (k, idv) => assert(l1(k) == idv, s"k=$k drifted") }
      val wm = TxTable.snapshot(spark, t)
        .props(TxTable.RowWatermarkProp).toLong
      assert(wm >= 52, s"watermark must cover every allocation: $wm")
      assert(l1.values.map(_._1).max < wm)
    }
  }

  test("ids and commit versions survive compaction and DV purge byte-for-byte; a MOR delete never shifts surviving ids") {
    val t = fresh(60)
    // fragment: three more commits into the same buckets
    (1 to 3).foreach { b =>
      TxTable.appendOnce(spark, t,
        spark.range(60 * b, 60 * b + 20).select(col("id").as("k"),
          (col("id") * 10).as("v")), "k", 4, appId = "rt2",
        batchId = b.toLong)
    }
    TxTable.enableRowTracking(spark, t)
    val before = lineage(t)
    assert(before.size == 120)
    // MOR delete marks rows dead in place: survivors keep identity
    val killed = TxTable.deleteWhereMor(spark, t, col("k") % 5 === 0)
    assert(killed > 0)
    val afterDelete = lineage(t)
    assert(afterDelete.size == before.size - killed)
    afterDelete.foreach { case (k, idv) =>
      assert(before(k) == idv, s"k=$k drifted across a MOR delete") }
    // compaction rewrites files: identity must MATERIALIZE through
    val compacted = TxTable.compact(spark, t, maxFilesPerBucket = 1)
    assert(compacted > 0, "fixture must actually compact")
    val afterCompact = lineage(t)
    assert(afterCompact == afterDelete,
      "compaction must not mint or drift a single identity")
    // purge folds remaining vectors into rewrites: same contract
    TxTable.purgeDeletes(spark, t, minDeletedFraction = 0.0)
    assert(lineage(t) == afterDelete,
      "purge must not mint or drift a single identity")
  }

  test("upsert: updated rows KEEP their _row_id and take the new commit version; inserts mint fresh ids; untouched rows keep both") {
    val t = fresh(30)
    TxTable.enableRowTracking(spark, t)
    val before = lineage(t)
    TxTable.upsert(spark, t,
      spark.range(20, 35).select(col("id").as("k"),
        (col("id") * 1000).as("v")), "k", "v", 4)
    val v = TxTable.snapshot(spark, t).version
    val after = lineage(t)
    assert(after.size == 35)
    (0L until 20L).filter(after.contains).foreach { k =>
      // rows in untouched buckets AND unmatched rows in rewritten
      // buckets both keep id + commit version
      assert(after(k) == before(k), s"untouched k=$k drifted")
    }
    (20L until 30L).foreach { k =>
      assert(after(k)._1 == before(k)._1,
        s"updated k=$k must keep its _row_id")
      assert(after(k)._2 == v,
        s"updated k=$k must take the merge commit version")
    }
    val newIds = (30L until 35L).map(after(_)._1).toSet
    assert(newIds.size == 5 &&
      newIds.intersect(before.values.map(_._1).toSet).isEmpty,
      "inserted rows must mint fresh ids")
    // stability composes: compact after the merge, nothing drifts
    TxTable.compact(spark, t, maxFilesPerBucket = 1)
    assert(lineage(t) == after)
  }

  test("CDF rows carry _row_id: a MOR-deleted row's delete event and an upsert's replacing insert link by identity across commits") {
    val t = fresh(20)
    TxTable.enableRowTracking(spark, t)
    val v0 = TxTable.snapshot(spark, t).version
    val ids0 = lineage(t)
    // commit 1: MOR delete of k in {3, 7}
    TxTable.deleteWhereMor(spark, t, col("k").isin(3L, 7L))
    // commit 2: upsert updates k=5 (id preserved) and inserts k=100
    TxTable.upsert(spark, t,
      Seq((5L, 5555L), (100L, 1000L)).toDF("k", "v"), "k", "v", 4)
    val changes = TxTable.changesBetween(spark, t, v0,
      TxTable.snapshot(spark, t).version)
      .select($"k", $"v", $"_row_id", $"_change_type", $"_commit_version")
      .collect()
    assert(changes.forall(!_.isNullAt(2)),
      "every change row must carry a non-null _row_id")
    val byKey = changes.groupBy(_.getLong(0))
    // the MOR delete events carry the rows' ORIGINAL ids
    Seq(3L, 7L).foreach { k =>
      val ev = byKey(k).filter(_.getString(3) == "delete")
      assert(ev.nonEmpty && ev.forall(_.getLong(2) == ids0(k)._1),
        s"k=$k delete event must carry the original _row_id")
    }
    // the upsert rewrote the touched bucket: k=5's delete and its
    // replacing insert share ONE _row_id — the identity link that lets
    // an incremental consumer classify the pair as an update
    val k5 = byKey(5L)
    val k5Del = k5.filter(_.getString(3) == "delete").map(_.getLong(2))
    val k5Ins = k5.filter(_.getString(3) == "insert").map(_.getLong(2))
    assert(k5Del.toSet == Set(ids0(5L)._1) &&
      k5Ins.toSet == Set(ids0(5L)._1),
      s"k=5 delete/insert must link by identity: $k5Del vs $k5Ins")
    // the genuinely new row's insert carries a fresh id
    val k100 = byKey(100L).filter(_.getString(3) == "insert")
    assert(k100.nonEmpty &&
      !ids0.values.map(_._1).toSet.contains(k100.head.getLong(2)))
    // an untracked table's CDF schema is unchanged (no lineage columns)
    val u = fresh(5)
    TxTable.appendOnce(spark, u, Seq((50L, 1L)).toDF("k", "v"),
      "k", 4, appId = "rtu", batchId = 1L)
    val cu = TxTable.changesBetween(spark, u, 0L,
      TxTable.snapshot(spark, u).version)
    assert(!cu.columns.contains("_row_id"),
      "untracked CDF must not grow lineage columns")
  }

  test("#changes (DSv2 feed) carries lineage on tracked tables, agreeing with changesBetween event for event; untracked schema unchanged") {
    registered {
      val t = fresh(20)
      TxTable.enableRowTracking(spark, t)
      val v0 = TxTable.snapshot(spark, t).version
      TxTable.deleteWhereMor(spark, t, col("k").isin(3L, 7L))
      TxTable.upsert(spark, t,
        Seq((5L, 5555L), (100L, 1000L)).toDF("k", "v"), "k", "v", 4)
      val vEnd = TxTable.snapshot(spark, t).version
      def events(df: org.apache.spark.sql.DataFrame) = df
        .select($"k", $"_row_id", $"_change_type", $"_commit_version")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2), r.getLong(3))).toSet
      val viaBatch = events(TxTable.changesBetween(spark, t, v0, vEnd))
      val viaFeed = events(spark.read
        .option("startingVersion", v0 + 1)
        .option("endingVersion", vEnd)
        .table(s"txrt.`$t#changes`"))
      assert(viaFeed == viaBatch,
        s"feed and batch CDF must agree event for event " +
          s"(${viaFeed.size} vs ${viaBatch.size})")
      assert(viaFeed.forall(_._2 >= 0L), "every event carries an id")
      // the upsert pair links by identity through the FEED too
      val k5 = viaFeed.filter(_._1 == 5L)
      assert(k5.map(_._2).size == 1 ||
        k5.map(x => x._2).toSeq.distinct.size == 1,
        s"k=5 delete+insert must share one id: $k5")
      // untracked tables keep the exact old feed schema
      val u = fresh(5)
      assert(!spark.read.table(s"txrt.`$u#changes`")
        .columns.contains("_row_id"))
    }
  }

  test("changesBetween keeps toVersion's logical names and fromVersion's tracking flag; the #changes feed shows the head's") {
    registered {
      val t = fresh(5)
      TxTable.appendOnce(spark, t, Seq((50L, 500L)).toDF("k", "v"),
        "k", 4, appId = "rt-contract", batchId = 1L)                 // v1
      TxTable.renameColumn(spark, t, "v", "w")                       // v2
      TxTable.enableRowTracking(spark, t)                            // v3
      val batch = TxTable.changesBetween(spark, t, 0L, 1L)
      assert(batch.columns.toSeq ==
        Seq("k", "v", "_change_type", "_commit_version"))
      assert(batch.select($"k", $"v").as[(Long, Long)].collect().toSeq ==
        Seq((50L, 500L)))
      val feed = spark.read.option("startingVersion", 1)
        .option("endingVersion", 1).table(s"txrt.`$t#changes`")
      assert(feed.columns.toSeq == Seq("k", "w", "_row_id",
        "_row_commit_version", "_change_type", "_commit_version"))
      assert(feed.select($"k", $"w").as[(Long, Long)].collect().toSeq ==
        Seq((50L, 500L)))
    }
  }

  test("#lineage (SQL twin): row-identical to readLineage across DV + eq-delete + rewrite history; refuses untracked tables") {
    registered {
      val t = fresh(30)
      TxTable.enableRowTracking(spark, t)
      TxTable.deleteWhereMor(spark, t, col("k") % 6 === 0)
      TxTable.deleteWhereEq(spark, t, Seq(7L, 11L).toDF("k"))
      TxTable.compact(spark, t, maxFilesPerBucket = 1)
      TxTable.upsert(spark, t, Seq((13L, 999L)).toDF("k", "v"),
        "k", "v", 4)
      val viaScala = TxTable.readLineage(spark, t)
        .select($"k", $"v", $"_row_id", $"_row_commit_version")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      val viaSql = spark.table(s"txrt.`$t#lineage`")
        .select($"k", $"v", $"_row_id", $"_row_commit_version")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(viaSql == viaScala,
        s"#lineage must match readLineage row for row " +
          s"(${viaSql.size} vs ${viaScala.size})")
      assert(viaSql.nonEmpty)
      // untracked tables refuse loudly
      val u = fresh(5)
      val e = intercept[Exception] {
        spark.table(s"txrt.`$u#lineage`").count()
      }
      assert(e.getMessage.contains("row tracking is not enabled"),
        e.getMessage)
      // time travel composes: lineage AT a pinned version serves that
      // version's identities (the upsert's post-image absent, the
      // pre-image present under its original id)
      val vPre = TxTable.snapshot(spark, t).version - 1
      val pinned = spark.table(s"txrt.`$t@v$vPre#lineage`")
        .select($"k", $"v", $"_row_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(pinned.exists(x => x._1 == 13L && x._2 == 130L),
        "the pinned snapshot must serve the pre-upsert image")
      val headK13 = spark.table(s"txrt.`$t#lineage`")
        .filter($"k" === 13L).select($"v", $"_row_id").collect().head
      assert(headK13.getLong(0) == 999L)
      assert(pinned.find(_._1 == 13L).get._3 == headK13.getLong(1),
        "the update kept the id across versions")
    }
  }

  test("surfaces and guards: CALL enable_row_tracking works; raw SET/UNSET of the tracking properties refuses; pre-enable versions refuse readLineage") {
    registered {
      val t = fresh(10)
      val preV = TxTable.snapshot(spark, t).version
      val e0 = intercept[Exception] { TxTable.readLineage(spark, t) }
      assert(e0.getMessage.contains("row tracking is not enabled"))
      val ok = spark.sql(s"CALL txrt.enable_row_tracking('$t')")
        .collect().head.getBoolean(0)
      assert(ok && lineage(t).size == 10)
      val e1 = intercept[Exception] {
        spark.sql(s"ALTER TABLE txrt.`$t` SET TBLPROPERTIES" +
          s"('${TxTable.RowTrackingProp}'='true')")
      }
      assert(e1.getMessage.contains("enable_row_tracking"), e1.getMessage)
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE txrt.`$t` UNSET TBLPROPERTIES" +
          s"('${TxTable.RowWatermarkProp}')")
      }
      assert(e2.getMessage.contains("cannot be UNSET"), e2.getMessage)
      // time travel BEFORE the enable has no identity to serve — refuse,
      // never invent
      val e3 = intercept[Exception] {
        TxTable.readLineage(spark, t, Some(preV))
      }
      assert(e3.getMessage.contains("row tracking is not enabled"))
    }
  }
}
