package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TxTable

/** The tombstone-carrier probe (re-ADD of a dropped column refuses while
  * live files still carry bytes under the name) fans out as a Spark job
  * past `distributeCarrierCheckAt` live files — the no-carrier case
  * otherwise reads every footer on the driver, a stall at 10⁸ files.
  * This spec drives the DISTRIBUTED path end to end: a >threshold table
  * refuses the re-ADD while a carrier exists (executor-side footer
  * probe finds it) and accepts after compaction sheds the bytes (the
  * full no-carrier sweep runs distributed). */
class CarrierProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def registered[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.txcp",
      classOf[graft.sources.TxTableCatalog].getName)
    try body
    finally spark.conf.unset("spark.sql.catalog.txcp")
  }

  test("re-ADD guard probes footers distributed past the threshold: refuses with a carrier, accepts after the rewrite sheds it") {
    registered {
      val t = Files.createTempDirectory("graft_cp_").toString + "/t"
      TxTable.init(spark, t,
        (0 until 8).map(i => (i.toLong, s"n$i")).toDF("k", "note"),
        "k", 8)
      // 9 more appends x 8 buckets -> ~80 live files, past the
      // distribution threshold (an append lands one file per bucket it
      // touches: 64 keys touch all 8)
      (1 to 9).foreach { a =>
        TxTable.appendOnce(spark, t,
          (0 until 64).map(i => ((a * 100 + i).toLong, s"n$a-$i"))
            .toDF("k", "note"), "k", 8, appId = "cp", batchId = a.toLong)
      }
      val files = TxTable.snapshot(spark, t).entries.size
      assert(files > TxTable.distributeCarrierCheckAt,
        s"fixture must exceed the threshold: $files")
      spark.sql(s"ALTER TABLE txcp.`$t` DROP COLUMN note")
      // a carrier exists in every file: the distributed probe finds one
      // and the re-ADD refuses
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE txcp.`$t` ADD COLUMN note STRING")
      }
      assert(e.getMessage.contains("resurrect"), e.getMessage)
      // the rewrite sheds the bytes; the no-carrier sweep (the expensive
      // case the distribution exists for) runs as a Spark job and clears
      TxTable.compact(spark, t, maxFilesPerBucket = 0)
      spark.sql(s"ALTER TABLE txcp.`$t` ADD COLUMN note STRING")
      assert(spark.table(s"txcp.`$t`").filter($"note".isNull).count()
        == 8 + 9 * 64)
      assert(TxTable.snapshot(spark, t).dropped.isEmpty)
    }
  }
}
