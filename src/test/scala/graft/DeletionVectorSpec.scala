package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TxTable

/** Merge-on-read deletes: deletion-vector build, read-side application on
  * every plain path, union-on-repeat, non-resurrection through rewrites,
  * fold-away on compaction, vacuum protection. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def batch(days: Range) =
    days.map(d => (s"k$d", d.toLong, (d % 7).toLong)).toDF("k", "day", "grp")

  private def freshTable(days: Range = 0 until 200,
                         nBuckets: Int = 4): String = {
    val table = Files.createTempDirectory("graft_dv_").toString + "/t"
    TxTable.init(spark, table, batch(days), "k", nBuckets)
    table
  }

  test("deleteWhereMor marks rows dead without touching any data file") {
    val table = freshTable()
    val before = TxTable.snapshot(spark, table)
    val beforeRels = before.entries.map(_.rel).toSet
    val n = TxTable.deleteWhereMor(spark, table,
      col("day") >= 50L && col("day") < 60L)
    assert(n == 10L)
    val after = TxTable.snapshot(spark, table)
    // the data file SET is unchanged — only DV refs appeared
    assert(after.entries.map(_.rel).toSet == beforeRels,
      "a MOR delete must not add or rewrite data files")
    val dvd = after.entries.filter(_.dv.isDefined)
    assert(dvd.nonEmpty && dvd.flatMap(_.dv).map(_.ndel).sum == 10L)
    // physical counts unchanged; live counts subtract the vectors
    assert(after.entries.flatMap(_.rows).sum == 200L)
    assert(after.entries.flatMap(_.liveRows).sum == 190L)
    // the read applies the vectors
    val got = TxTable.read(spark, table).select("day").as[Long]
      .collect().sorted.toSeq
    assert(got == ((0L until 50L) ++ (60L until 200L)))
    // time travel below the delete still shows every row
    assert(TxTable.read(spark, table, Some(before.version)).count() == 200L)
  }

  test("a second delete on the same files UNIONS vectors; already-dead rows don't recount") {
    val table = freshTable()
    assert(TxTable.deleteWhereMor(spark, table,
      col("day") >= 50L && col("day") < 60L) == 10L)
    // overlapping predicate: 5 rows already dead, 5 newly dead
    assert(TxTable.deleteWhereMor(spark, table,
      col("day") >= 55L && col("day") < 65L) == 5L)
    val snap = TxTable.snapshot(spark, table)
    assert(snap.entries.flatMap(_.dv).map(_.ndel).sum == 15L)
    assert(TxTable.read(spark, table).count() == 185L)
    // nothing matching: no commit at all
    val v = snap.version
    assert(TxTable.deleteWhereMor(spark, table, col("day") < 0L) == 0L)
    assert(TxTable.snapshot(spark, table).version == v)
  }

  test("pruned reads and point lookups apply deletion vectors") {
    val table = freshTable()
    TxTable.computeStats(spark, table, "day")
    TxTable.deleteWhereMor(spark, table, col("k") === "k120")
    val ranged = TxTable.readWhere(spark, table, "day", 100L, 140L)
      .select("day").as[Long].collect().sorted.toSeq
    assert(ranged == ((100L to 140L).filterNot(_ == 120L)))
    val hit = TxTable.readKeys(spark, table, "k", Seq("k120", "k121"), 4)
      .select("k").as[String].collect().toSet
    assert(hit == Set("k121"), "readKeys must not serve a DV'd row")
  }

  test("upsert over DV'd buckets does not resurrect dead rows") {
    val table = freshTable()
    TxTable.deleteWhereMor(spark, table, col("day") === 10L)
    // upsert a DIFFERENT key: the merge window rewrites every touched
    // bucket — dead rows must not ride along
    val up = Seq(("k11", 1011L, 0L)).toDF("k", "day", "grp")
    TxTable.upsert(spark, table, up, "k", "day", 4)
    val days = TxTable.read(spark, table).select("day").as[Long]
      .collect().toSet
    assert(!days.contains(10L), "upsert resurrected a deleted row")
    assert(days.contains(1011L))
    assert(TxTable.read(spark, table).count() == 199L)
  }

  test("compaction folds vectors away; vacuum never sweeps a live DV") {
    val table = freshTable()
    // fragment the buckets so compact has work
    TxTable.appendOnce(spark, table, batch(200 until 400), "k", 4, "dv", 0L)
    assert(TxTable.deleteWhereMor(spark, table, col("day") % 10L === 3L)
      == 40L)
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dvDirs = TxTable.snapshot(spark, table).entries.flatMap(_.dv)
      .map(_.rel.split('/')(1)).distinct
    assert(dvDirs.nonEmpty)
    // vacuum with history retained: the DV sidecar is referenced -> kept
    TxTable.vacuum(spark, table, keepVersions = 3)
    dvDirs.foreach { u =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$table/files/$u")),
        "vacuum swept a live deletion vector")
    }
    val beforeRows = TxTable.read(spark, table).select("k", "day", "grp")
      .as[(String, Long, Long)].collect().toSet
    assert(TxTable.compact(spark, table, maxFilesPerBucket = 1) == 4)
    val snap = TxTable.snapshot(spark, table)
    assert(snap.entries.forall(_.dv.isEmpty),
      "compaction must fold deletion vectors away")
    assert(TxTable.read(spark, table).select("k", "day", "grp")
      .as[(String, Long, Long)].collect().toSet == beforeRows,
      "compaction changed the live rows")
    // now nothing references the DVs: vacuum to head collects them
    TxTable.vacuum(spark, table, keepVersions = 1)
    dvDirs.foreach { u =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/files/$u")),
        "post-compaction vacuum left an orphaned deletion vector")
    }
    assert(TxTable.read(spark, table).select("k", "day", "grp")
      .as[(String, Long, Long)].collect().toSet == beforeRows)
  }

  test("change feed still serves post-delete appends; snapshot manifests round-trip DV refs") {
    val table = freshTable()
    TxTable.deleteWhereMor(spark, table, col("day") < 5L)
    TxTable.appendOnce(spark, table, batch(200 until 210), "k", 4, "cf", 0L)
    // checkpoint render/parse keeps the DvRef (force one by walking
    // enough commits is slow; instead re-resolve the snapshot twice)
    val snap = TxTable.snapshot(spark, table)
    val again = TxTable.snapshot(spark, table, Some(snap.version))
    assert(snap.entries.flatMap(_.dv).toSet ==
      again.entries.flatMap(_.dv).toSet)
    val (df, _) = TxTable.changesSince(spark, table, 1L)
    assert(df.select("day").as[Long].collect().sorted.toSeq ==
      (200L until 210L))
  }

  test("changesBetween surfaces MOR deletes as exact row-level 'delete' rows (bitmap diff per version)") {
    val table = freshTable()
    val v0 = TxTable.snapshot(spark, table).version
    TxTable.deleteWhereMor(spark, table, col("day") < 5L)
    val v1 = TxTable.snapshot(spark, table).version
    TxTable.deleteWhereMor(spark, table, col("day") >= 5L && col("day") < 8L)
    val v2 = TxTable.snapshot(spark, table).version
    // step 1: exactly days 0..4 die; step 2: exactly 5..7 — the second
    // diff must NOT re-emit the first delete's rows (union'd bitmaps)
    val step1 = TxTable.changesBetween(spark, table, v0, v1)
    assert(step1.select($"_change_type").distinct().as[String]
      .collect().toSeq == Seq("delete"))
    assert(step1.select($"day").as[Long].collect().sorted.toSeq ==
      (0L until 5L))
    val step2 = TxTable.changesBetween(spark, table, v1, v2)
    assert(step2.select($"day").as[Long].collect().sorted.toSeq ==
      (5L until 8L))
    // the full window stamps each delete with its commit version
    val all = TxTable.changesBetween(spark, table, v0, v2)
    assert(all.filter($"_commit_version" === v1).select($"day")
      .as[Long].collect().sorted.toSeq == (0L until 5L))
    assert(all.filter($"_commit_version" === v2).select($"day")
      .as[Long].collect().sorted.toSeq == (5L until 8L))
    // delete everything left: the change frame must carry exactly the
    // rows alive at v2 — rows deleted earlier must not re-die, whether
    // the files drop or their vectors grow to full coverage
    val before = TxTable.read(spark, table).count()
    TxTable.deleteWhereMor(spark, table, lit(true))
    val v3 = TxTable.snapshot(spark, table).version
    val step3 = TxTable.changesBetween(spark, table, v2, v3)
    assert(step3.count() == before,
      "only rows alive at v2 may surface as deletes at v3")
    assert(step3.filter($"day" < 8L).count() == 0)
  }

  test("purgeDeletes rewrites only files past the deleted-fraction threshold; vacuum then sweeps the superseded sidecar") {
    val table = freshTable()
    // delete a narrow slice: every file is touched a little
    TxTable.deleteWhereMor(spark, table, col("day") < 8L)
    val snap1 = TxTable.snapshot(spark, table)
    val dvd = snap1.entries.filter(_.dv.isDefined)
    assert(dvd.nonEmpty)
    // threshold ABOVE every file's deleted fraction: nothing purges
    assert(TxTable.purgeDeletes(spark, table,
      minDeletedFraction = 0.9) == 0)
    assert(TxTable.snapshot(spark, table).version == snap1.version)
    // fractions are small (≤8 dead of ~50 per file): a low threshold
    // purges exactly the DV'd files, untouched files keep their rels
    val untouchedRels = snap1.entries.filterNot(_.dv.isDefined)
      .map(_.rel).toSet
    val purged = TxTable.purgeDeletes(spark, table,
      minDeletedFraction = 0.01)
    assert(purged == dvd.size)
    val snap2 = TxTable.snapshot(spark, table)
    assert(snap2.entries.forall(_.dv.isEmpty),
      "purged files must carry no vectors")
    assert(untouchedRels.subsetOf(snap2.entries.map(_.rel).toSet),
      "files under the threshold must keep their rels")
    assert(TxTable.read(spark, table).count() == 192)
    assert(TxTable.read(spark, table).filter(col("day") < 8L).count() == 0)
    // the old sidecar is now unreferenced by the retained head: vacuum
    // keeps only the head version and must sweep it
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val sidecarDirs = dvd.flatMap(_.dv).map(_.rel.split('/')(1)).distinct
    sidecarDirs.foreach { u =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(table, s"files/$u")))
    }
    TxTable.vacuum(spark, table, keepVersions = 1, orphanRetentionMs = 0L)
    sidecarDirs.foreach { u =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(table, s"files/$u")),
        "a superseded DV sidecar must be swept once unreferenced")
    }
    assert(TxTable.read(spark, table).count() == 192)
  }

  test("the DV'd leg runs a native codegen'd predicate: no ScalaUDF anywhere in the plan, filter inside WholeStageCodegen") {
    val table = freshTable()
    TxTable.deleteWhereMor(spark, table,
      col("day") >= 50L && col("day") < 60L)
    val df = TxTable.read(spark, table)
    val analyzed = df.queryExecution.analyzed
    val udfs = analyzed.collect { case p =>
      p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
    }.flatten
    assert(udfs.isEmpty,
      s"DV read must not evaluate a per-row ScalaUDF, found: $udfs")
    // the dv_marked predicate sits inside a WholeStageCodegen span on
    // the DV'd leg (clean files keep their own untouched codegen path)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dv_marked"), plan)
    val wscgWithDv = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("dv_marked") => w
    }
    assert(wscgWithDv.nonEmpty,
      s"dv_marked must run inside WholeStageCodegen:\n$plan")
    // and the answers are the DV-filtered rows
    assert(df.count() == 190L)
    // the change feed's bitmap'd reads (the #changes scan) are UDF-free too
    val feed = TxTable.changesBetween(spark, table, 0L,
      TxTable.snapshot(spark, table).version)
    val feedUdfs = feed.queryExecution.analyzed.collect { case p =>
      p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
    }.flatten
    assert(feedUdfs.isEmpty,
      s"change-feed DV reads must not use ScalaUDF, found: $feedUdfs")
    assert(feed.filter(col("_change_type") === "delete").count() == 10L)
  }
}
