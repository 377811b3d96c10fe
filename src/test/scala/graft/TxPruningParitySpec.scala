package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Expressions}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{LayoutOps, TxTable}
import graft.sources.TxDistributedPrune

/** One predicate through every TxTable pruning front-end — the DSv2
  * catalog scan, the SQL-view optimizer rule, `readWhereAll`, `readKeys`
  * and the scan's runtime (dynamic-pruning) filter. All of them translate
  * into one [[graft.sources.TxFilePlanner]] probe, so each keeps the same
  * file set, or a superset where it cannot express a dimension (a range
  * verb sees no bloom), and returns the same rows. The fixture carries
  * every dimension: a zone-map sidecar, a bloom sidecar, hidden `days`
  * partitions and 8 buckets. */
class TxPruningParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def registered[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.txpp",
      classOf[graft.sources.TxTableCatalog].getName)
    try body
    finally spark.conf.unset("spark.sql.catalog.txpp")
  }

  private def withThreshold[T](n: Int)(body: => T): T = {
    spark.conf.set(TxDistributedPrune.DistributeAtConf, n.toString)
    try body
    finally spark.conf.unset(TxDistributedPrune.DistributeAtConf)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** days(ts) partitions, bucket(8, id); zone maps on v; bloom on cat. */
  private def fixture(): String = {
    val t = Files.createTempDirectory("graft_pp_").toString + "/t"
    spark.sql(s"""CREATE TABLE txpp.`$t`
      (id BIGINT, ts TIMESTAMP, v BIGINT, cat STRING)
      PARTITIONED BY (days(ts), bucket(8, id))""")
    (0 until 6).foreach { d =>
      (0 until 8).map { i =>
        (d * 100L + i, ts(f"2024-05-${10 + d}%02d 0$i:00:00"),
          d * 1000L + i, s"cat-${(d * 8 + i) % 5}")
      }.toDF("id", "ts", "v", "cat").writeTo(s"txpp.`$t`").append()
    }
    TxTable.computeStats(spark, t, "v")
    TxTable.computeBloom(spark, t, "cat")
    t
  }

  private def relOf(f: String): String =
    f.substring(f.lastIndexOf("/files/") + 1)

  /** Files a DataFrame's scans open (DSv2 partitions or parquet
    * relations), as table-relative rels. */
  private def scanned(df: DataFrame): Set[String] =
    df.queryExecution.executedPlan.collectLeaves().flatMap {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.flatMap {
          case f: FilePartition => f.files.map(_.filePath.toString)
          case _ => Seq.empty
        }
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
      case _ => Seq.empty
    }.map(relOf).toSet

  /** The catalog scan's runtime filter fed `id IN (keys)` directly, as
    * dynamic pruning would (catalyst-internal BIGINT values). */
  private def runtimeRels(t: String, keys: Seq[Long]): Set[String] = {
    val scan = spark.table(s"txpp.`$t`").queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r.scan }.get
    scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      new Predicate("IN", (Expressions.column("id") +:
        keys.map(k => Expressions.literal(k): V2Expr)).toArray)))
    scan.toBatch.planInputPartitions().toSeq.flatMap {
      case f: FilePartition => f.files.map(f => relOf(f.filePath.toString))
      case _ => Seq.empty
    }.toSet
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select($"id", $"v").as[(Long, Long)].collect().toSeq.sorted

  /** Every front-end on every predicate; returns how many files the
    * catalog scan kept per case. */
  private def checkParity(t: String): Map[String, Int] = {
    val all = TxTable.snapshot(spark, t).entries.map(_.rel).toSet
    def catalog(p: Column) = spark.table(s"txpp.`$t`").filter(p)
    def view(p: Column) = TxTable.read(spark, t).filter(p)
    def same(name: String, p: Column, others: (String, DataFrame)*)
        : Int = {
      val ref = scanned(catalog(p))
      val want = rows(catalog(p))
      assert(ref.subsetOf(all) && ref.nonEmpty, s"$name: catalog kept $ref")
      assert(scanned(view(p)) == ref,
        s"$name: the view rule keeps ${scanned(view(p)).size} files, " +
          s"the catalog ${ref.size}")
      assert(rows(view(p)) == want, s"$name: view rows differ")
      others.foreach { case (fe, df) =>
        assert(scanned(df) == ref,
          s"$name: $fe keeps ${scanned(df).size} files, catalog ${ref.size}")
        assert(rows(df.filter(p)) == want, s"$name: $fe rows differ")
      }
      ref.size
    }
    // IN on the BIGINT bucket key with Int literals: the analyzer casts
    // them; readKeys casts the Scala Ints on the driver
    val keys = Seq(1, 207, 305)
    val inKey = $"id".isin(keys: _*)
    val nIn = same("key IN", inKey,
      "readKeys" -> TxTable.readKeys(spark, t, "id", keys, 8))
    assert(runtimeRels(t, keys.map(_.toLong)) == scanned(catalog(inKey)),
      "the runtime filter must keep the catalog's bucket files")
    // a strict bound on a zone-map file edge: the file whose min is 2000
    // holds no v < 2000 (readWhereAll says it inclusively)
    val nZone = same("strict zone edge", $"v" < 2000L,
      "readWhereAll" -> TxTable.readWhereAll(spark, t,
        Seq(("v", Long.MinValue, 1999L))))
    // a strict bound on a partition-envelope edge: day 13 starts at it
    val nEnv = same("strict envelope edge",
      $"ts" < ts("2024-05-13 00:00:00"),
      "readWhereAll" -> TxTable.readWhereAll(spark, t,
        Seq(("ts", ts("2024-05-01 00:00:00"),
          ts("2024-05-12 23:59:59.999999")))))
    // bloom equality on a non-key column: readWhereAll has no equality
    // probe, so it may only keep a superset
    val bloomEq = $"cat" === "cat-3"
    val nBloom = same("bloom eq", bloomEq)
    val wide = TxTable.readWhereAll(spark, t, Seq(("cat", "cat-3", "cat-3")))
    assert(scanned(catalog(bloomEq)).subsetOf(scanned(wide)))
    assert(rows(wide) == rows(catalog(bloomEq)))
    val nAll = same("conjunction",
      $"id".isin(1, 207, 305, 402) && $"v" < 4000L && bloomEq)
    Map("key IN" -> nIn, "strict zone edge" -> nZone,
      "strict envelope edge" -> nEnv, "bloom eq" -> nBloom,
      "conjunction" -> nAll)
  }

  test("one predicate, five front-ends: same kept files and rows, on the driver walk and on the distributed job") {
    registered {
      val t = fixture()
      val nFiles = TxTable.snapshot(spark, t).entries.size
      val walk = withThreshold(nFiles + 1)(checkParity(t))
      assert(walk.forall(_._2 < nFiles), s"every case must prune: $walk")
      val before = TxDistributedPrune.runs.get()
      val job = withThreshold(1)(checkParity(t))
      assert(TxDistributedPrune.runs.get() > before,
        "the distributed path must engage below the threshold")
      assert(job == walk, s"job $job vs walk $walk")
    }
  }

  test("readKeys hashes its probe on the driver: no Spark job before the scan") {
    val t = Files.createTempDirectory("graft_pp_rk_").toString + "/t"
    TxTable.init(spark, t, spark.range(64).select($"id".as("k"),
      ($"id" * 10).as("v")), "k", 8)
    val marker = "readKeys-parity-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val df =
      try {
        val df = TxTable.readKeys(spark, t, "k", Seq(3, 42), 8)
        // the listener bus delivers in order: once the marker job shows,
        // every job readKeys started has shown too
        spark.sparkContext.setJobDescription(marker)
        try spark.range(1).collect()
        finally spark.sparkContext.setJobDescription(null)
        val deadline = System.currentTimeMillis() + 30000
        while (!seen.contains(marker) &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(seen.contains(marker), "marker job never reached the listener")
    val before = seen.toArray.toSeq.takeWhile(_ != marker)
    assert(before.isEmpty, s"readKeys ran ${before.size} job(s) to plan")
    assert(df.select($"k").as[Long].collect().sorted.toSeq == Seq(3L, 42L))
  }

  test("bucketOf and bloomHash equal the writers' Column forms on INT, BIGINT, STRING, DATE, TIMESTAMP and DECIMAL") {
    val df = Seq(
      (1, 1L, "a", "2024-05-10", "2024-05-10 01:02:03.456789", "12.34"),
      (-7, -7L, "", "1970-01-01", "1969-12-31 23:59:59", "-0.01"),
      (Int.MaxValue, Long.MinValue, "héllo", "2000-02-29",
        "2038-01-19 03:14:08", "99999999.99"))
      .toDF("i", "l", "s", "d", "t", "x")
      .select($"i", $"l", $"s", $"d".cast(DateType).as("d"),
        $"t".cast(TimestampType).as("t"),
        $"x".cast(DecimalType(10, 2)).as("d10"),
        $"x".cast(DecimalType(38, 2)).as("d38"))
    val cols = df.schema.fields.toSeq
    Seq(1, 8, 64).foreach { n =>
      val got = df.select(cols.flatMap(f => Seq(col(f.name),
        LayoutOps.bucketId(col(f.name), n), xxhash64(col(f.name)))): _*)
        .collect()
      got.foreach { r =>
        cols.zipWithIndex.foreach { case (f, i) =>
          val v = CatalystTypeConverters.createToCatalystConverter(
            f.dataType)(r.get(3 * i))
          assert(LayoutOps.bucketOf(v, f.dataType, n) == r.getInt(3 * i + 1),
            s"${f.dataType.sql} ${r.get(3 * i)} mod $n")
          assert(LayoutOps.bloomHash(v, f.dataType) == r.getLong(3 * i + 2),
            s"${f.dataType.sql} ${r.get(3 * i)} hash")
        }
      }
    }
  }
}
