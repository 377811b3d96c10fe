package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.GraftParquetShim
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{DeletionVectors, TxTable}

/** ROW LINEAGE as a DSv2 table — the SQL twin of
  * [[TxTable.readLineage]], loaded through the catalog by the reserved
  * `#lineage` path suffix: `SELECT k, _row_id FROM txcat.\`/t#lineage\``
  * serves every data column plus the durable `_row_id` /
  * `_row_commit_version`. One partition per live file carrying the
  * file's manifest anchor (baseRowId, defaultRowCommitVersion) and its
  * merged exclusion bitmap (deletion vector OR'd with the plan-time
  * equality-delete fold); the reader counts PHYSICAL positions, skips
  * excluded rows, and answers identity by the same coalesce as the
  * Scala surface — a file's materialized hidden columns win, fresh rows
  * compute `base + position`. Refuses tables without row tracking
  * (there is no identity to serve — never an invented one). */
final class TxLineageTable(path: String, name0: String = "",
    snapAt: Option[() => TxTable.Snapshot] = None)
    extends Table with SupportsRead {
  private val snap =
    snapAt.fold(TxTable.snapshot(SparkSession.active, path))(_.apply())
  require(snap.props.get(TxTable.RowTrackingProp).contains("true"),
    s"$path: row tracking is not enabled — CALL enable_row_tracking " +
      "first; #lineage has no identity to serve without it")
  private[sources] val dataSchema: StructType = StructType(
    snap.schema.getOrElse(throw new IllegalStateException(
      s"$path carries no recorded schema"))
      .filterNot(_.name == graft.ops.LayoutOps.BucketCol))
  private val outSchema = StructType(dataSchema.fields
    .map(f => f.copy(name = snap.logicalName(f.name)))
    :+ StructField(TxTable.RowIdCol, LongType, nullable = false)
    :+ StructField(TxTable.RowCommitCol, LongType, nullable = false))

  override def name(): String =
    s"${if (name0.isEmpty) path else name0}#lineage"
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan =
      new TxLineageScan(path, snap, dataSchema, outSchema)
  }
}

private[sources] final case class TxLineagePartition(
    inner: FilePartition, base: Long, frcv: Long,
    exclusion: Option[(String, Array[Byte])]) extends InputPartition

private[sources] final class TxLineageScan(path: String,
    snap: TxTable.Snapshot, dataSchema: StructType,
    outSchema: StructType) extends Scan with Batch {
  private def spark = SparkSession.active
  override def readSchema(): StructType = outSchema
  override def description(): String = s"GraftTxLineage $path"
  override def toBatch: Batch = this

  /** The file-facing read schema: data columns plus the hidden
    * materialized lineage columns (files without them null-fill, which
    * is exactly what routes those rows to the implicit anchor). */
  private val fileSchema = StructType(dataSchema.fields
    :+ StructField(TxTable.RidCol, LongType)
    :+ StructField(TxTable.RcvCol, LongType))

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvBms = DeletionVectors.loadBitmaps(spark, path,
      snap.entries.filter(_.dv.isDefined))
    val eqBms = TxEqFold.bitmapsFor(spark, path, snap)
    snap.entries.sortBy(e => (e.bucket, e.rel)).zipWithIndex.map {
      case (e, i) =>
        val (b, v0) = e.base.getOrElse(throw new IllegalStateException(
          s"$path: ${e.rel} carries no base row id under row tracking. " +
            "Rows staged on an UNPUBLISHED branch or WAP id receive " +
            "durable ids at publish (lineage is undefined until then — " +
            "publish first); on a published head this means the enable " +
            "invariant is broken (run enable_row_tracking / compact " +
            "once)"))
        TxLineagePartition(
          FilePartition(i, Array(GraftParquetShim.partitionedFile(
            new Path(s"$path/${e.rel}").toString,
            TxFileSizes.of(fs, path, e), 0L))),
          b, v0,
          TxEqFold.merge(dvBms.get(e.rel), eqBms.get(e.rel)))
          : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TxLineageReaderFactory(
      TxScanPlanning.readerFor(fileSchema, fileSchema),
      dataSchema.fields.map(_.dataType))
}

/** Wraps the stock parquet reader: counts physical positions, drops
  * excluded (DV- or equality-deleted) rows, and projects
  * `(data columns…, _row_id, _row_commit_version)` with the
  * materialized-wins coalesce. Row-based by construction — lineage
  * reads are incremental-consumer/audit reads, not the hot analytical
  * path (the Scala [[TxTable.readLineage]] stays the vectorized
  * surface). */
private[sources] final class TxLineageReaderFactory(
    raw: PartitionReaderFactory, dataTypes: Array[DataType])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.PartitionReader

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val lp = p.asInstanceOf[TxLineagePartition]
    val bm = lp.exclusion.map { case (key, bytes) =>
      DeletionVectors.cachedBitmap(key, bytes) }
    val delegate = raw.createReader(lp.inner)
    val n = dataTypes.length
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private val out = new GenericInternalRow(n + 2)
      override def next(): Boolean = {
        while (delegate.next()) {
          pos += 1
          val dead = bm.exists(b =>
            pos <= DeletionVectors.MaxPos && b.contains(pos.toInt))
          if (!dead) return true
        }
        false
      }
      override def get(): InternalRow = {
        val row = delegate.get()
        var i = 0
        while (i < n) { out.update(i, row.get(i, dataTypes(i))); i += 1 }
        out.update(n,
          if (row.isNullAt(n)) lp.base + pos else row.getLong(n))
        out.update(n + 1,
          if (row.isNullAt(n + 1)) lp.frcv else row.getLong(n + 1))
        out
      }
      override def close(): Unit = delegate.close()
    }
  }
}
