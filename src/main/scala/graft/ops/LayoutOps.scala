package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout for scale (SURVEY §4 posture): partitioning for
  * pruning, bucketing for shuffle-free joins, compaction for the
  * small-files problem streaming sinks create.
  *
  * At 100 TB these three decide query cost more than any operator tweak:
  * a date-partitioned table turns a time-range scan into a directory
  * listing; two tables bucketed on the join key turn a sort-merge join's
  * two shuffles into zero; and compaction keeps file counts (and thus task
  * counts and parquet footer overhead) bounded as micro-batches accumulate.
  *
  * Compaction and keyed MERGE live in [[TxTable]] (atomic manifest
  * commits); TxTable builds its key-bucketed layout on
  * [[bucketId]]/[[BucketCol]].
  */
object LayoutOps {

  /** Column holding a row's key bucket in [[TxTable]]'s layout. */
  val BucketCol = "p_bucket"

  /** Deterministic bucket id for a key: `pmod(xxhash64(key), n)`. Cast to
    * int so it round-trips through partition-directory names unchanged. */
  def bucketId(key: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(key), lit(nBuckets.toLong)).cast("int")

  /** [[bucketId]] for one Catalyst-internal value `v` of type `dt` (the
    * value a row or a typed literal holds: UTF8String, epoch micros,
    * Decimal, ...): what the writers' expression computes for that key,
    * evaluated in plain code on the driver or inside a task. */
  def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType,
               nBuckets: Int): Int =
    (((bloomHash(v, dt) % nBuckets) + nBuckets) % nBuckets).toInt

  /** `xxhash64(v)` with `functions.xxhash64`'s seed 42 — the hash the
    * bloom sidecars store and [[bucketOf]] reduces. Type-sensitive: an
    * INT and a BIGINT of the same value hash differently. */
  def bloomHash(v: Any, dt: org.apache.spark.sql.types.DataType): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(v, dt, 42L)

  /** 2-D Morton (Z-order) interleave of two 16-bit values: bit i of `a`
    * lands at position 2i, bit i of `b` at 2i+1, so rows close in BOTH
    * dimensions are close on the curve. Inputs must be in [0, 65535]
    * (use [[normalize16]] for arbitrary numeric domains); pure integer
    * bit arithmetic, codegen'd, engine-portable (oracle-checked). */
  def morton2(a: org.apache.spark.sql.Column,
              b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    mortonN(Seq(a, b))

  /** N-D Morton interleave over 16-bit-normalized inputs — the curve
    * behind Delta's multi-column OPTIMIZE ZORDER BY. Bit i of column j
    * lands at position i·N + j. Past 3 columns the 63-bit signed-long
    * budget forces coarser per-column resolution (`min(16, 63/N)` bits);
    * the TOP bits of each input are kept, so resolution loss only merges
    * already-adjacent curve cells — locality, the property pruning rides
    * on, is preserved. (N=2 reproduces [[morton2]] bit for bit.) */
  def mortonN(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    val n = cols.size
    require(n >= 2, s"mortonN needs at least 2 columns, got $n")
    val bits = math.min(16, 63 / n)
    val parts = for {
      (c, j) <- cols.zipWithIndex
      ct = if (bits < 16) shiftright(c, 16 - bits) else c
      i <- 0 until bits
    } yield shiftleft(shiftright(ct, i).bitwiseAND(lit(1L)), i * n + j)
    parts.reduce(_.bitwiseOR(_))
  }

  /** Clamp-scale a numeric column from [lo, hi] onto the 16-bit grid. The
    * (lo, hi) bounds are layout metadata — one stats job at table-build
    * time, like ANN centroids — not computed inline. */
  def normalize16(c: org.apache.spark.sql.Column, lo: Double,
                  hi: Double): org.apache.spark.sql.Column =
    least(greatest(floor((c - lo) / (hi - lo) * 65535.0 + 0.5), lit(0.0)),
      lit(65535.0)).cast("long")

  /** Write `df` Z-order-clustered on two dimensions: rows are range-
    * partitioned and sorted by their Morton code, so every output file
    * covers a small rectangle in (a, b) space and parquet min/max stats
    * prune file/row-group reads for predicates on EITHER dimension — the
    * property a single-column sort only gives the leading column. This is
    * the format-less analog of a table format's OPTIMIZE ZORDER BY; the
    * curve math is identical. Cost: one range exchange + in-partition
    * sort, the same price as any clustered write. */
  def writeZOrdered(df: DataFrame, path: String,
                    a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column, numFiles: Int): Unit =
    df.withColumn("__z", morton2(a, b))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Write `df` date-partitioned by the day of `tsCol` — the layout that
    * makes the Gold incremental cutoff (`Gold1.py:20-27`'s commented
    * intent) a partition-pruned scan instead of a full read. Append for
    * streaming-style landing; Overwrite for an idempotent staging refresh. */
  def writeDatePartitioned(df: DataFrame, path: String, tsCol: String,
                           mode: SaveMode = SaveMode.Append): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.partitionBy("p_date").mode(mode).parquet(path)

  /** Read back with a day filter the scan can prune on. */
  def readDay(spark: SparkSession, path: String, day: String): DataFrame =
    spark.read.parquet(path).filter(col("p_date") === lit(day).cast("date"))

  /** Read every partition at-or-after `day` — the incremental-refresh scan.
    * The predicate is on the partition column only, so it resolves at file
    * listing time (`PartitionFilters` in the scan; pinned in
    * PlanAssertionsSpec): at 100 TB the refresh reads the cutoff window's
    * directories and nothing else. */
  def readSince(spark: SparkSession, path: String, day: String): DataFrame =
    spark.read.parquet(path).filter(col("p_date") >= lit(day).cast("date"))

  /** Save as a bucketed+sorted table: equi-joins and aggregations on `key`
    * between tables bucketed the same way need no exchange at all. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
}
