package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LayoutOps

/** Layout techniques must show up in the physical plan, not just run:
  * partition pruning in PartitionFilters, bucketing as a shuffle-free
  * join, Z-order as per-file clustering. */
class LayoutOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def events = Tables.load(spark, "/root/testdata/sf0.001", "events")

  test("date-partitioned write prunes partitions on a day filter") {
    val tmp = Files.createTempDirectory("graft_part_").toString + "/events"
    LayoutOps.writeDatePartitioned(events, tmp, "ts")
    val day = LayoutOps.readDay(spark, tmp, "2024-01-05")
    val plan = day.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("p_date"), s"no partition filter in:\n$plan")
    // pruned read returns exactly that day's rows
    val expected = events.filter(to_date($"ts") === "2024-01-05").count()
    assert(day.count() == expected && expected > 0)
    // and scans only one of the ~30 day directories
    val scanned = day.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("p_date=2024-01-06"))
  }

  test("bucketed tables join without any shuffle exchange") {
    val n1 = "graft_bkt_orders"
    val n2 = "graft_bkt_cust"
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select($"c_custkey", $"c_name")
    LayoutOps.writeBucketed(orders, n1, "o_custkey", 8)
    LayoutOps.writeBucketed(cust.withColumnRenamed("c_custkey", "o_custkey"), n2, "o_custkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table(n1).join(spark.table(n2), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // same rows as the unbucketed join
      val expected = orders.join(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey").count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $n1")
      spark.sql(s"DROP TABLE IF EXISTS $n2")
    }
  }

  test("morton2 interleaves bits: a at even positions, b at odd") {
    val out = Seq((3L, 2L), (0L, 0L), (65535L, 0L), (0L, 65535L))
      .toDF("a", "b")
      .select(LayoutOps.morton2($"a", $"b").as("z")).as[Long].collect()
    assert(out(0) == 13L)           // a=11b -> bits 0,2; b=10b -> bit 3
    assert(out(1) == 0L)
    assert(out(2) == 0x55555555L)   // a=0xFFFF fills the even positions
    assert(out(3) == 0xAAAAAAAAL)   // b=0xFFFF fills the odd positions
  }

  test("mortonN: N=2 reproduces morton2; N=3 matches a Scala reimplementation") {
    val pairs = Seq((3L, 2L), (65535L, 0L), (12345L, 54321L), (7L, 65535L))
    val viaN = pairs.toDF("a", "b")
      .select(LayoutOps.mortonN(Seq($"a", $"b")).as("z")).as[Long].collect()
    val via2 = pairs.toDF("a", "b")
      .select(LayoutOps.morton2($"a", $"b").as("z")).as[Long].collect()
    assert(viaN.toSeq == via2.toSeq, "N=2 must be bit-identical to morton2")
    // 3 columns: 16 bits each fits 48 bits — full resolution; bit i of
    // column j lands at position 3i + j
    def m3(a: Long, b: Long, c: Long): Long =
      (0 until 16).map { i =>
        (((a >> i) & 1L) << (3 * i)) | (((b >> i) & 1L) << (3 * i + 1)) |
          (((c >> i) & 1L) << (3 * i + 2))
      }.reduce(_ | _)
    val triples = Seq((3L, 2L, 1L), (65535L, 0L, 0L), (0L, 65535L, 0L),
      (0L, 0L, 65535L), (12345L, 54321L, 33333L))
    val got = triples.toDF("a", "b", "c")
      .select(LayoutOps.mortonN(Seq($"a", $"b", $"c")).as("z"))
      .as[Long].collect().toSeq
    assert(got == triples.map((m3 _).tupled), s"3-D interleave diverged: $got")
    // 4+ columns truncate to the TOP min(16, 63/N) bits per column — the
    // code stays inside a signed long and close values stay close
    val z4 = Seq((65535L, 65535L, 65535L, 65535L)).toDF("a", "b", "c", "d")
      .select(LayoutOps.mortonN(Seq($"a", $"b", $"c", $"d")).as("z"))
      .as[Long].head()
    assert(z4 == (1L << 60) - 1, s"4x15-bit all-ones must fill 60 bits: $z4")
    assert(z4 > 0, "must stay positive (inside the signed-long budget)")
  }

  test("z-ordered layout confines every file to a small (a,b) rectangle") {
    // 4096 rows on a uniform 64x64 grid scaled to 16 bits; 16 output files.
    // A z-ordered write should bound EACH file's spread in BOTH dimensions
    // (~quarter domain for aligned splits); a single-column sort bounds
    // only its leading column and leaves the other near full-domain.
    val grid = spark.range(4096)
      .select((($"id" % 64) * 1024).as("x"),
        (($"id" / 64).cast("long") * 1024).as("y"))
    val dom = 65535.0
    def avgSpread(path: String): (Double, Double) = {
      val files = new java.io.File(path).listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      assert(files.length > 8, s"expected many files, got ${files.length}")
      val spreads = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min($"x"), max($"x"), min($"y"), max($"y")).head
        ((r.getLong(1) - r.getLong(0)).toDouble,
          (r.getLong(3) - r.getLong(2)).toDouble)
      }
      (spreads.map(_._1).sum / spreads.length,
        spreads.map(_._2).sum / spreads.length)
    }
    val zdir = Files.createTempDirectory("graft_z_").toString + "/t"
    LayoutOps.writeZOrdered(grid, zdir, $"x", $"y", numFiles = 16)
    val (zx, zy) = avgSpread(zdir)
    assert(zx < 0.6 * dom, s"z-ordered x spread $zx")
    assert(zy < 0.6 * dom, s"z-ordered y spread $zy")
    // baseline: x-sorted layout leaves y unclustered
    val xdir = Files.createTempDirectory("graft_zx_").toString + "/t"
    grid.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.parquet(xdir)
    val (_, xy) = avgSpread(xdir)
    assert(xy > 0.9 * dom, s"x-sorted layout unexpectedly clustered y: $xy")
    assert(zy < 0.6 * xy, s"z-order ($zy) should beat x-sort ($xy) on y")
  }
}
