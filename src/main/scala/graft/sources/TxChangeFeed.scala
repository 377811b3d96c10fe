package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.GraftParquetShim
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

import graft.ops.{DeletionVectors, TxTable}

/** The TxTable ROW-LEVEL CHANGE FEED as a DSv2 table — the Delta
  * `table_changes` / CDF-streaming design done on the commit log this
  * engine owns. Loaded through the catalog by the reserved `#changes`
  * path suffix:
  *
  *   - batch: `spark.read.option("startingVersion", 2)
  *     .option("endingVersion", 4).table("txcat.\`/t#changes\`")` —
  *     `startingVersion` is INCLUSIVE of that commit's changes (default
  *     0 = full history, the initial snapshot surfacing as inserts),
  *     `endingVersion` defaults to the head; `startingTimestamp` /
  *     `endingTimestamp` resolve through the commit log's publication
  *     times (first commit at-or-after / newest commit at-or-before).
  *   - streaming: `spark.readStream.table("txcat.\`/t#changes\`")` —
  *     offsets are commit versions exactly like the append source
  *     ([[TxMicroBatchStream]]); `startingVersion` (number | `latest`)
  *     or `startingTimestamp` (at-or-after) and `maxVersionsPerTrigger`
  *     admission ride along, and `Trigger.AvailableNow` pins the head
  *     at prepare time.
  *
  * The schema is `snap`'s data schema under its LOGICAL names plus
  * `_change_type` STRING and `_commit_version` LONG (and, when `tracked`,
  * the row-lineage columns). The catalog passes the head snapshot and its
  * tracking flag; [[TxTable.changesBetween]] passes its `toVersion`
  * snapshot and its `fromVersion` flag. Each commit is classified by one
  * per-file dead-row set, DV ∪ equality-delete fold
  * ([[TxChangeFeedPlanning.plan]]):
  *
  *   - files added at v → their rows outside dead(v) as 'insert'@v;
  *   - files removed at v → their rows outside dead(v-1) as 'delete'@v;
  *   - a file on both sides → dead(v) − dead(v-1) as 'delete'@v (an MOR
  *     or equality delete), dead(v-1) − dead(v) as 'insert'@v (a
  *     [[TxTable.restore]] that shrank the vector or the registry).
  *
  * Unlike the append-only streaming source — which throws on rewrite
  * commits because it promises exactly-once appends — the change feed
  * REPRESENTS every commit: rewrites surface file-granularly
  * (delete+insert of the rewritten files, the documented conservative
  * shape), deletes and restores surface row-exactly. I/O per commit is
  * only that commit's changed files (bitmap'd ones filtered to the diff
  * positions), never a table re-scan — the contract that keeps a 100 TB
  * table's downstream consumers paying O(delta). */
final class TxChangesTable(path: String, snap: TxTable.Snapshot,
                           private[sources] val tracked: Boolean)
    extends Table with SupportsRead {
  private[sources] val dataSchema: StructType = StructType(
    snap.schema.getOrElse(throw new IllegalStateException(
      s"$path@v${snap.version} carries no recorded schema (pre-v2 " +
        "manifest) — the change feed needs the recorded schema to type " +
        "change frames"))
      .filterNot(_.name == graft.ops.LayoutOps.BucketCol))
  // consumers see LOGICAL names (column mapping); the file readers keep
  // the PHYSICAL dataSchema — positionally identical. Row tracking: a
  // tracked feed's rows carry their durable identity (nullable: files
  // predating the enable have no anchor) — the link that lets a
  // streaming consumer classify a delete and the insert that replaced
  // it as one update across commits
  private val lineageFields =
    if (!tracked) Seq.empty
    else Seq(StructField(TxTable.RowIdCol, LongType),
      StructField(TxTable.RowCommitCol, LongType))
  private val outSchema = StructType((dataSchema.fields
    .map(f => f.copy(name = snap.logicalName(f.name))) ++ lineageFields)
    :+ StructField("_change_type", StringType, nullable = false)
    :+ StructField("_commit_version", LongType, nullable = false))

  override def name(): String = s"$path#changes"
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan =
      new TxChangesScan(path, dataSchema, outSchema, options, tracked)
  }
}

/** Scan serving both read modes off [[TxChangeFeedPlanning]]. The change
  * schema is served whole — CDF consumers read the change columns by
  * definition, so column pruning would buy little and cost the planner a
  * second schema path. */
private[sources] final class TxChangesScan(path: String,
    dataSchema: StructType, outSchema: StructType,
    options: CaseInsensitiveStringMap,
    tracked: Boolean) extends Scan {
  private def spark = SparkSession.active
  override def readSchema(): StructType = outSchema
  override def description(): String = s"GraftTxChanges $path"

  override def toBatch: Batch = new Batch {
    require(options.get("startingVersion") == null ||
        options.get("startingTimestamp") == null,
      "startingVersion and startingTimestamp are mutually exclusive")
    require(options.get("endingVersion") == null ||
        options.get("endingTimestamp") == null,
      "endingVersion and endingTimestamp are mutually exclusive")
    // timestamp bounds resolve through the commit log's own publication
    // times: starting = first commit at or after, ending = newest commit
    // at or before (the Delta table_changes convention); a start past
    // the head or an end before the log yields an empty feed
    private val start =
      Option(options.get("startingVersion")).map(_.toLong)
        .orElse(Option(options.get("startingTimestamp")).map(ts =>
          TxTable.firstVersionAtOrAfter(spark, path,
              TxTimestamps.parseMillis(ts))
            .getOrElse(TxTable.snapshot(spark, path).version + 1)))
        .getOrElse(0L)
    private val end = Option(options.get("endingVersion")).map(_.toLong)
      .orElse(Option(options.get("endingTimestamp")).map { ts =>
        try TxTable.versionAsOfTimestamp(spark, path,
          TxTimestamps.parseMillis(ts))
        catch { case _: IllegalArgumentException => -1L }
      })
      .getOrElse(TxTable.snapshot(spark, path).version)
    override def planInputPartitions(): Array[InputPartition] =
      TxChangeFeedPlanning.plan(spark, path, start - 1, end, tracked)
    override def createReaderFactory(): PartitionReaderFactory =
      TxChangeFeedPlanning.readerFactory(dataSchema, tracked)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new TxChangesMicroBatchStream(path, dataSchema, options, tracked)
}

/** Commit-version offsets over the row-level change feed — the same
  * offset/admission shape as the append source, but every commit kind is
  * representable so no skip/ignore escape hatches are needed. */
final class TxChangesMicroBatchStream(path: String, dataSchema: StructType,
    options: CaseInsensitiveStringMap, tracked: Boolean)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active
  private val startingVersion = Option(options.get("startingVersion"))
  private val startingTimestamp = Option(options.get("startingTimestamp"))
  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "startingVersion and startingTimestamp are mutually exclusive")
  private val maxVersionsPerTrigger: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
  // file/row admission caps — the SAME options and the SAME
  // implementation as the append source ([[TxStreamAdmission]]), with
  // the change-feed cost (adds + removes + DV diffs): a churn-heavy
  // table cannot flood a CDC micro-batch
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)
  private val maxRowsPerTrigger: Option[Long] =
    Option(options.get("maxRowsPerTrigger")).map(_.toLong)

  @volatile private var availableNowCap: Option[Long] = None
  private def headVersion: Long = TxTable.snapshot(spark, path).version
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headVersion)

  override def initialOffset(): Offset =
    TxStreamOffset(startingVersion match {
      case Some("latest") => headVersion // only commits after stream start
      case Some(v) => v.toLong - 1 // serve from commit v inclusive
      case None => startingTimestamp match {
        // commits published at or after the instant (Delta convention)
        case Some(ts) =>
          TxTable.firstVersionAtOrAfter(spark, path,
              TxTimestamps.parseMillis(ts))
            .map(_ - 1).getOrElse(headVersion)
        case None => -1L // full history: initial snapshot as inserts
      }
    })

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: Spark calls latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TxStreamOffset].version
    val head = availableNowCap.getOrElse(headVersion)
    TxStreamOffset(TxStreamAdmission.choose(spark, path, s, head,
      maxVersionsPerTrigger, maxFilesPerTrigger, maxRowsPerTrigger,
      TxStreamAdmission.changesCost))
  }

  override def deserializeOffset(json: String): Offset =
    TxStreamOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[TxStreamOffset].version
    val e = end.asInstanceOf[TxStreamOffset].version
    if (e <= s) Array.empty
    else TxChangeFeedPlanning.plan(spark, path, s, e, tracked)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TxChangeFeedPlanning.readerFactory(dataSchema, tracked)
}

/** Shared planner/reader for batch and streaming change scans. */
private[sources] object TxChangeFeedPlanning {

  /** One unit of change: the stock [[FilePartition]] the parquet reader
    * accepts, stamped with its change type and commit version. Bitmap
    * semantics: `include=true` emits ONLY the bitmap positions (a
    * dead-set diff), `include=false` emits every position NOT in the
    * bitmap (the rows outside a file's dead set); an absent bitmap serves
    * the whole file. The bitmap travels with its executor cache key.
    * Bitmap'd partitions hold exactly one file — positions count per
    * file. */
  final case class TxChangePartition(inner: FilePartition,
      changeType: String, version: Long, include: Boolean,
      bitmap: Option[(String, Array[Byte])],
      lineage: Option[(Long, Long)] = None) extends InputPartition

  /** One change leg before indexing: type, commit, bitmap semantics (as
    * in [[TxChangePartition]]) and the files it reads. */
  private final case class Leg(tpe: String, v: Long, include: Boolean,
      bitmap: Option[(String, Array[Byte])], files: Seq[TxTable.FileEntry])

  /** Partitions for the row-level changes of commits (from, to];
    * `from = -1` starts at the initial snapshot. THE change-feed walk:
    * versions resolve forward ([[TxTable.commitsAfter]], one manifest
    * read each), and every commit is classified by one per-file dead-row
    * set, dead(snap, rel) = DV(rel) ∪ the snapshot's equality-delete fold
    * of rel ([[TxEqFold.bitmapsFor]], always over the whole snapshot).
    * The fold runs only for a side whose registry addresses a touched
    * file, so a registry-free history pays one batched DV-sidecar load
    * per side per version and nothing else. */
  def plan(spark: SparkSession, path: String, from: Long, to: Long,
           tracked: Boolean)
      : Array[InputPartition] = {
    require(from <= to, s"change range ($from, $to] is empty or inverted")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def byRel(snap: Option[TxTable.Snapshot]) =
      snap.fold(Map.empty[String, TxTable.FileEntry])(
        _.entries.map(e => e.rel -> e).toMap)
    val legs = Seq.newBuilder[Leg]
    // row-tracking anchors per rel (a file's base never changes once
    // assigned, so one map serves every version of the range)
    val anchors = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def note(m: Map[String, TxTable.FileEntry]): Unit =
      if (tracked) m.valuesIterator.foreach(e =>
        e.base.foreach(b => anchors.update(e.rel, b)))
    var prevSnap =
      if (from < 0) None else Some(TxTable.snapshot(spark, path, Some(from)))
    var prev = byRel(prevSnap)
    note(prev)
    TxTable.commitsAfter(spark, path, prevSnap, to).foreach { c =>
      val cur = byRel(Some(c.snap))
      note(cur)
      // dataChange=false commits (compaction/Z-order/purge/rebucket)
      // changed no live row — emit nothing, just advance the baseline
      if (!c.rewrite)
        legs ++= commitLegs(spark, path, prevSnap, prev, c, cur)
      prevSnap = Some(c.snap)
      prev = cur
    }
    // row tracking: identity is per FILE (anchor + physical position),
    // so a tracked feed splits batched multi-file legs per file and
    // attaches each file's anchor
    val all = legs.result()
    val expanded =
      if (!tracked) all
      else all.flatMap(l => l.files.map(f => l.copy(files = Seq(f))))
    expanded.zipWithIndex.map { case (l, i) =>
      TxChangePartition(FilePartition(i, l.files.map(e =>
          GraftParquetShim.partitionedFile(new Path(s"$path/${e.rel}")
            .toString, TxFileSizes.of(fs, path, e), 0L)).toArray),
        l.tpe, l.v, l.include, l.bitmap,
        if (tracked) anchors.get(l.files.head.rel) else None)
        : InputPartition
    }.toArray
  }

  /** The legs of one data-changing commit `c` against the previous
    * state (`prevSnap`, whose entries by rel are `prev`). */
  private def commitLegs(spark: SparkSession, path: String,
      prevSnap: Option[TxTable.Snapshot],
      prev: Map[String, TxTable.FileEntry], c: TxTable.Commit,
      cur: Map[String, TxTable.FileEntry]): Seq[Leg] = {
    val v = c.snap.version
    val out = Seq.newBuilder[Leg]
    def keyed(bm: RoaringBitmap): Option[(String, Array[Byte])] = {
      val bytes = DeletionVectors.serialize(bm)
      Some((s"cdf#${java.util.UUID.nameUUIDFromBytes(bytes)}", bytes))
    }
    def bmOf(b: Option[(String, Array[Byte])]): RoaringBitmap =
      b.fold(new RoaringBitmap())(x => DeletionVectors.deserialize(x._2))
    // UPDATE classification (pre/post images): a delta row-level
    // commit's sidecar marks which deleted/inserted positions were the
    // two halves of updates; absent sidecar degrades to plain
    // delete/insert, never wrong rows
    val (ud, ui) = c.cdfRel.fold((Map.empty[String, Array[Byte]],
      Map.empty[String, Array[Byte]]))(
      DeletionVectors.loadCdfMaps(spark, path, _))
    val dels = TxTable.parseEqDeletes(c.snap.props)
    val prevDels = prevSnap.fold(Seq.empty[TxTable.EqDelete])(s =>
      TxTable.parseEqDeletes(s.props))
    // registry entries added or retired at v reach the files they address
    val regDiff = dels.diff(prevDels) ++ prevDels.diff(dels)
    val added = (cur.keySet -- prev.keySet).toSeq.sorted.map(cur)
    val removed = (prev.keySet -- cur.keySet).toSeq.sorted.map(prev)
    val both = cur.keySet.intersect(prev.keySet).toSeq.sorted.filter(rel =>
      cur(rel).dv != prev(rel).dv ||
        regDiff.exists(d => cur(rel).addV.forall(_ < d.version)))
    val curDead = deadSets(spark, path, c.snap, added ++ both.map(cur))
    val prevDead = prevSnap.fold(Map.empty[String, (String, Array[Byte])])(
      deadSets(spark, path, _, removed ++ both.map(prev)))
    // whole files: rows outside the side's dead set. Clean files ride
    // together (one leg per commit+type), dirty ones one-per-file with an
    // exclusion bitmap; a file the update sidecar names splits into its
    // update halves (inclusion) and the rest (exclusion)
    def whole(es: Seq[TxTable.FileEntry], tpe: String,
              dead: Map[String, (String, Array[Byte])],
              upd: Map[String, Array[Byte]], updTpe: String): Unit = {
      val (split, plain) = es.partition(e => upd.contains(e.rel))
      val (dirty, clean) = plain.partition(e => dead.contains(e.rel))
      if (clean.nonEmpty) out += Leg(tpe, v, false, None, clean)
      dirty.foreach(e => out += Leg(tpe, v, false, dead.get(e.rel), Seq(e)))
      split.foreach { e =>
        val d = bmOf(dead.get(e.rel))
        val u = DeletionVectors.deserialize(upd(e.rel))
        val halves = RoaringBitmap.andNot(u, d)
        if (!halves.isEmpty)
          out += Leg(updTpe, v, true, keyed(halves), Seq(e))
        val gone = RoaringBitmap.or(d, u)
        if (!e.rows.contains(gone.getLongCardinality))
          out += Leg(tpe, v, false, keyed(gone), Seq(e))
      }
    }
    whole(added, "insert", curDead, ui, "update_postimage")
    whole(removed, "delete", prevDead, ud, "update_preimage")
    // same rel on both sides: rows that died at v (updated ones are
    // pre-images) and rows that revived at v
    both.foreach { rel =>
      val cb = bmOf(curDead.get(rel))
      val pb = bmOf(prevDead.get(rel))
      val died = RoaringBitmap.andNot(cb, pb)
      val u = ud.get(rel).fold(new RoaringBitmap())(
        DeletionVectors.deserialize)
      Seq("update_preimage" -> RoaringBitmap.and(died, u),
        "delete" -> RoaringBitmap.andNot(died, u),
        "insert" -> RoaringBitmap.andNot(pb, cb)).foreach {
        case (tpe, bm) =>
          if (!bm.isEmpty) out += Leg(tpe, v, true, keyed(bm), Seq(cur(rel)))
      }
    }
    out.result()
  }

  /** dead(snap, rel) for `es` of `snap`, as (cache key, bitmap) — only
    * the files with a dead row. The equality-delete fold runs only when
    * a registry entry addresses one of `es` (the file predates it). */
  private def deadSets(spark: SparkSession, path: String,
                       snap: TxTable.Snapshot, es: Seq[TxTable.FileEntry])
      : Map[String, (String, Array[Byte])] = {
    val dvs = DeletionVectors.loadBitmaps(spark, path,
      es.filter(_.dv.isDefined))
    val dels = TxTable.parseEqDeletes(snap.props)
    val eq =
      if (!es.exists(e => dels.exists(d => e.addV.forall(_ < d.version))))
        Map.empty[String, (String, Array[Byte])]
      else TxEqFold.bitmapsFor(spark, path, snap)
    es.flatMap(e => TxEqFold.merge(dvs.get(e.rel), eq.get(e.rel))
      .map(e.rel -> _)).toMap
  }

  def readerFactory(dataSchema: StructType,
                    tracked: Boolean): PartitionReaderFactory = {
    // tracked feeds additionally read the hidden materialized lineage
    // columns (null-filled on files that never moved rows)
    val fileSchema =
      if (!tracked) dataSchema
      else StructType(dataSchema.fields
        :+ StructField(TxTable.RidCol, LongType)
        :+ StructField(TxTable.RcvCol, LongType))
    new TxChangeReaderFactory(
      TxScanPlanning.readerFor(fileSchema, fileSchema),
      dataSchema.fields.map(_.dataType), tracked)
  }
}

/** Wraps the stock parquet reader: applies the partition's bitmap by
  * physical position (inclusion for DV diffs, exclusion for live rows of
  * DV'd files) and appends the change-type/commit-version constants.
  * Row-based by construction — change feeds are incremental-consumer
  * reads, not the hot analytical path. */
private[sources] final class TxChangeReaderFactory(
    raw: PartitionReaderFactory, dataTypes: Array[DataType],
    tracked: Boolean)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.PartitionReader

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[TxChangeFeedPlanning.TxChangePartition]
    if (cp.bitmap.isDefined)
      require(cp.inner.files.length == 1,
        "a bitmap'd change partition must hold exactly one file")
    val bm = cp.bitmap.map { case (key, bytes) =>
      DeletionVectors.cachedBitmap(key, bytes) }
    val tpe = UTF8String.fromString(cp.changeType)
    val delegate = raw.createReader(cp.inner)
    val n = dataTypes.length
    val width = n + (if (tracked) 4 else 2)
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private val out = new GenericInternalRow(width)
      override def next(): Boolean = bm match {
        case None =>
          if (delegate.next()) { pos += 1; true } else false
        case Some(b) =>
          while (delegate.next()) {
            pos += 1
            val marked =
              pos <= DeletionVectors.MaxPos && b.contains(pos.toInt)
            if (marked == cp.include) return true
          }
          false
      }
      override def get(): InternalRow = {
        val row = delegate.get()
        var i = 0
        while (i < n) { out.update(i, row.get(i, dataTypes(i))); i += 1 }
        if (tracked) {
          // materialized hidden columns win; fresh rows answer from the
          // file's anchor + this physical position; files with no
          // anchor (pre-enable history) honestly serve NULL
          val rid: Any =
            if (!row.isNullAt(n)) java.lang.Long.valueOf(row.getLong(n))
            else cp.lineage.map(l => java.lang.Long.valueOf(l._1 + pos))
              .orNull
          val rcv: Any =
            if (!row.isNullAt(n + 1))
              java.lang.Long.valueOf(row.getLong(n + 1))
            else cp.lineage.map(l => java.lang.Long.valueOf(l._2)).orNull
          out.update(n, rid)
          out.update(n + 1, rcv)
        }
        out.update(width - 2, tpe)
        out.update(width - 1, cp.version)
        out
      }
      override def close(): Unit = delegate.close()
    }
  }
}
