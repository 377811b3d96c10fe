package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.sources.TxFilePlanner

/** Transactional parquet table via a manifest commit log — the commit
  * protocol the reference delegates to Delta (`Bronze1.py:148-173` writes
  * Delta tables; SURVEY §1.5 maps them to parquet because the env ships no
  * format jars). A rename-aside directory swap cannot do this job: a
  * crash mid-swap needs heal-on-next-call, readers can observe a
  * half-swapped table, and concurrency is a lock file. This module uses
  * the (public, Delta-paper) log design re-expressed over any Hadoop
  * filesystem instead:
  *
  *   - **Data files are immutable and write-once**, landed under
  *     `files/<uuid>/p_bucket=N/`. They are INVISIBLE until a manifest
  *     references them, so any crash before commit leaves only orphans
  *     (removed by [[vacuum]]) — there is no torn-table window at all.
  *   - **A version is one manifest file** `_txlog/<%020d>.manifest` —
  *     version 0 lists the full snapshot; every later commit is a DELTA
  *     (added/removed files only, O(changes) bytes), with a full
  *     `.checkpoint` sidecar materialized every [[CheckpointInterval]]
  *     commits so resolution never walks more than one interval of deltas
  *     (the public Delta checkpoint design — commit cost and resolution
  *     cost both stay flat as a streaming table ages through thousands of
  *     commits). Publishing a version is a single atomic
  *     create-fails-if-exists (hard-link CAS on local filesystems,
  *     no-overwrite rename on HDFS-likes) — the commit either exists
  *     entirely or not at all.
  *   - **Readers resolve the newest manifest** and read exactly its file
  *     list (snapshot isolation; an in-flight commit never changes a
  *     running query's inputs). Older manifests remain readable — time
  *     travel — until vacuumed.
  *   - **Writers race on the version file**: a lost CAS means another
  *     commit landed first; the writer re-reads the new snapshot, redoes
  *     its merge against it, and retries — optimistic concurrency instead
  *     of a single-writer lock, so two concurrent upserts BOTH land
  *     (serialized by version number).
  *
  * Scale shape: rows are bucketed by [[LayoutOps.bucketId]]
  * (`pmod(xxhash64(key), n)`) and an upsert rewrites only the files of
  * touched buckets (file-level pruning via the manifest's bucket column —
  * I/O ∝ update key spread, not table size). The manifest is O(files) text
  * read once per query — at 100 TB that is the same driver-side cost as
  * any file listing, and one manifest per commit replaces per-call
  * directory walks.
  */
object TxTable {

  /** Lightweight metadata-plane counters (log resolutions and their wall
    * time) — a local-mode stand-in for the catalog-server metrics a real
    * deployment would export. Read/reset by profiling harnesses to audit
    * how many log walks a verb costs; zero overhead otherwise. */
  private[graft] val snapshotCalls = new java.util.concurrent.atomic.AtomicLong
  private[graft] val snapshotNanos = new java.util.concurrent.atomic.AtomicLong

  /** One data file in a snapshot: its key bucket, table-relative path, and
    * (since the row-count manifest extension) the file's exact row count —
    * None for files committed before counts were recorded. Counts are what
    * let `COUNT(*)` answer from the manifest alone with ZERO data files
    * opened (the Delta metadata-query shortcut); absent counts degrade to
    * a scan, never to a wrong answer.
    *
    * `dv` is the file's DELETION VECTOR, when a merge-on-read delete has
    * marked rows dead without rewriting the file: the table-relative path
    * of the DV sidecar parquet holding this file's deleted-position
    * bitmap, plus the EXACT deleted-row count. `rows` stays the physical
    * footer count; live rows = rows - dv.ndel. Every reader must apply
    * the bitmap; every metadata shortcut must count live rows. */
  /** `base` is the file's ROW-TRACKING anchor, present iff the table has
    * row tracking enabled: (baseRowId, defaultRowCommitVersion). A row's
    * durable `_row_id` is `baseRowId + physical position` unless the file
    * MATERIALIZES an id for it (rewritten/updated rows carry their
    * original ids in a hidden `_graft_rid` parquet column, which wins);
    * `_row_commit_version` works the same way over
    * defaultRowCommitVersion / `_graft_rcv`. Base ranges are allocated at
    * COMMIT time from the `graft.rowIdWatermark` property — the same
    * CAS-committed counter for every write surface, so ids are unique
    * across the table's whole history (the public Delta row-tracking
    * design: fresh rows implicit, moved rows materialized). */
  /** `addV` is the commit version that ADDED this file (stamped for every
    * add at the commit choke point, carried through DV re-adds by copy) —
    * the SEQUENCE NUMBER equality deletes scope by: a delete registered
    * at version v kills matching rows only in files with addV < v, so a
    * later append's rows (and a rewrite's restaged survivors) are never
    * re-deleted. Absent only for files committed before the stamp
    * existed; equality deletes refuse such tables (compact stamps). */
  final case class FileEntry(bucket: Int, rel: String,
                             rows: Option[Long] = None,
                             dv: Option[DvRef] = None,
                             base: Option[(Long, Long)] = None,
                             addV: Option[Long] = None,
                             bytes: Option[Long] = None) {
    /** Exact LIVE row count, when the physical count is recorded. */
    def liveRows: Option[Long] = rows.map(_ - dv.fold(0L)(_.ndel))
  }

  /** Reference to one file's deletion vector: the DV sidecar parquet's
    * table-relative path (staged under `files/<uuid>/` like any data, so
    * vacuum's referenced-set logic covers it) and the bitmap's exact
    * cardinality. */
  final case class DvRef(rel: String, ndel: Long)

  /** A resolved table version: manifest number + its file list + the
    * table schema as of that version (None only for pre-evolution v1
    * manifests, where the schema lives in parquet footers) + the bucket
    * identity `(key, nBuckets)` the version's files were hashed with
    * (None for pre-identity manifests, where identity is out-of-band
    * caller knowledge). */
  /** `dropped` is the version's DROPPED-COLUMN TOMBSTONE set (names an
    * `ALTER TABLE DROP COLUMN` removed whose bytes may still live in
    * retained data files): union-evolution writers must never re-add a
    * tombstoned name to the schema, or the stored bytes would silently
    * resurrect. A tombstone clears only when the name is re-added via
    * ALTER ADD after every live file has shed the old bytes. */
  /** `props` is the version's table-property map (persisted, versioned
    * metadata — CHECK constraints ride here under `constraint.<name>`
    * keys); inherited across commits unless a commit changes it, exactly
    * like the tombstone set. */
  /** `renames` is the version's COLUMN-MAPPING table: LOGICAL (current,
    * user-visible) name → PHYSICAL (column-birth) name, entries only
    * where they differ. The manifest's recorded `schema`, the bucket
    * identity, the zone-map/bloom sidecars, and every byte in every data
    * file stay in PHYSICAL names forever — an `ALTER TABLE RENAME
    * COLUMN` is one metadata commit that changes only this map (the
    * Delta column-mapping design), so no file rewrites, no sidecar
    * re-ANALYZE, and time travel serves each version under its own
    * names. Inherited across commits like tombstones/props. */
  final case class Snapshot(version: Long, entries: Seq[FileEntry],
                            schema: Option[StructType] = None,
                            bucketing: Option[(String, Int)] = None,
                            dropped: Set[String] = Set.empty,
                            props: Map[String, String] = Map.empty,
                            renames: Map[String, String] = Map.empty) {
    def absFiles(table: String): Seq[String] = entries.map(e => s"$table/${e.rel}")

    /** PHYSICAL (stored) name of a logical column — identity when the
      * column was never renamed. */
    def physicalName(logical: String): String =
      renames.getOrElse(logical, logical)

    /** LOGICAL (user-visible) name of a stored column — identity when
      * the column was never renamed. `renames` is a bijection on full
      * names (rename refuses logical collisions), so the inverse is
      * well-defined. */
    def logicalName(physical: String): String =
      renames.collectFirst { case (l, p) if p == physical => l }
        .getOrElse(physical)

    /** The version's schema under LOGICAL names (the user-facing shape);
      * the stored `schema` field keeps physical names. */
    def logicalSchema: Option[StructType] = schema.map { sc =>
      if (renames.isEmpty) sc
      else StructType(sc.fields.map(f => f.copy(name = logicalName(f.name))))
    }
  }

  /** Rename every mapped PHYSICAL column of `df` to its LOGICAL name —
    * the read-boundary half of column mapping. One positional SELECT
    * (not a sequential rename), so even a swap cycle in the map
    * translates correctly. Identity (same plan) when the map is empty. */
  private[graft] def fromPhysical(df: DataFrame, snap: Snapshot): DataFrame =
    if (snap.renames.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(s"`$c`").as(snap.logicalName(c))): _*)

  /** Rename every mapped LOGICAL column of `df` to its PHYSICAL name —
    * the write-boundary half of column mapping: every writer stores
    * physical names, which is what lets ONE map serve files written both
    * before and after any rename. */
  private[graft] def toPhysical(df: DataFrame, snap: Snapshot): DataFrame =
    if (snap.renames.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(s"`$c`").as(snap.physicalName(c))): _*)

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(table: String) = new Path(table, "_txlog")
  private def versionPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.manifest")
  private def checkpointPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint")
  private def shardName(v: Long, i: Int) = f"$v%020d.checkpoint.s$i%05d"

  /** Past this many live files a checkpoint writes SHARDED (the Iceberg
    * manifest-list shape): the `.checkpoint` file keeps the header plus
    * `@shard <file> <count>` references, and the entry lines split
    * across `.checkpoint.sNNNNN` sidecars. Head resolution then never
    * parses the entry list on the driver — [[Snapshot.entries]] is a
    * lazy view whose exact length comes from the shard counts, and the
    * distributed planner reads the shards executor-side. Default aligns
    * with `spark.graft.planning.distributeAt`: sandbox tables keep the
    * single-file format byte for byte. */
  val CheckpointShardAtConf = "spark.graft.checkpoint.shardAt"
  val DefaultCheckpointShardAt = 100000

  private def checkpointShardAt: Int =
    scala.util.Try(SparkSession.active.conf
      .get(CheckpointShardAtConf).toInt)
      .getOrElse(DefaultCheckpointShardAt)

  /** Entry-list backing of a SHARDED checkpoint anchor: the shard files
    * (name, entry count) plus the NET delta changes folded on top —
    * `adds` are entries added since the anchor (minus ones removed
    * again), `removes` is (rel, removedAtVersion) pairs over the SHARD
    * base (the fold keeps removes and in-memory adds disjoint), so
    * `count` is exact without reading a byte.
    *
    * The removal VERSION is what makes persisted `@rm` lines safe under
    * same-rel re-adds (the Iceberg sequence-number idea): a remove kills
    * a shard entry only when the shard file's name-encoded write version
    * is OLDER than the removal — a MOR deletion-vector re-add landing in
    * the reusing checkpoint's own (same-version) shard is exempt from
    * the `@rm` that killed its previous incarnation, while any FUTURE
    * remove still applies to it. Each (rel, version) pair corresponds to
    * exactly one killed physical shard line, so the arithmetic count
    * stays exact even when one rel dies and resurrects repeatedly. */
  final case class ShardedEntries(table: String,
                                  files: Seq[(String, Long)],
                                  adds: Seq[FileEntry] = Seq.empty,
                                  removes: Set[(String, Long)] = Set.empty) {
    def count: Long = files.map(_._2).sum + adds.size - removes.size
  }

  /** `rel -> newest removal version` — the filter form of a removes set
    * (an entry is dead iff SOME removal is newer than its shard, and the
    * newest one decides). */
  private[graft] def rmMaxOf(removes: Set[(String, Long)])
      : Map[String, Long] =
    removes.groupMapReduce(_._1)(_._2)(math.max)

  /** Write version encoded in a shard file's name — both checkpoint
    * shards (`<v>.checkpoint.sNNNNN`) and sharded full-manifest sidecars
    * (`<v>.manifest.<uuid>.sNNNNN`) lead with the zero-padded version. */
  private[graft] def shardVersionOf(name: String): Long = {
    val digits = name.takeWhile(_.isDigit)
    require(digits.nonEmpty,
      s"shard file name carries no version prefix: $name")
    digits.toLong
  }

  /** Absolute paths of a sharded anchor's shard files — what the
    * distributed planner hands to `spark.read.text`. */
  private[graft] def shardFilePaths(sh: ShardedEntries): Seq[String] =
    sh.files.map(f => new Path(logDir(sh.table), f._1).toString)

  /** Driver-side materialization of a sharded entry list (sequential
    * shard parse) — the path lazy entries take when something actually
    * traverses them. Removes apply only to shard files OLDER than the
    * removal version (see [[ShardedEntries]]). */
  private def materializeShards(fs: FileSystem,
                                sh: ShardedEntries): IndexedSeq[FileEntry] = {
    val rmMax = rmMaxOf(sh.removes)
    val base = sh.files.flatMap { case (name, _) =>
      val shardV = shardVersionOf(name)
      new String(readBytes(fs, new Path(logDir(sh.table), name)),
        StandardCharsets.UTF_8)
        .split('\n').toSeq.filter(_.nonEmpty).map(parseEntryLine)
        .filterNot(e => rmMax.get(e.rel).exists(_ > shardV))
    }
    (base ++ sh.adds).toIndexedSeq
  }

  /** A `Seq[FileEntry]` that defers the shard parse until first
    * traversal. Length/emptiness are O(1) from the shard counts, so
    * threshold checks (the distributed planner's engagement test) and
    * head resolution never materialize; the spec-observable [[LazyEntries
    * .forces]] counter pins exactly when the driver does pay. */
  final class LazyEntries private[TxTable] (
      private[graft] val shards: ShardedEntries,
      private[graft] val loader: ShardedEntries => IndexedSeq[FileEntry])
      extends scala.collection.immutable.Seq[FileEntry] {
    @volatile private var cached: IndexedSeq[FileEntry] = null
    /** Whether the shard base already materialized — cheap consumers
      * (statistics) can then reuse it instead of degrading. */
    def isForced: Boolean = cached != null
    /** Pre-fill the entry cache from a DISTRIBUTED materialization
      * ([[TxTable.primeEntries]]): the parse happened executor-side as
      * one parallel job, so it does NOT count as a driver force — the
      * [[LazyEntries.forces]] pin stays exact about sequential
      * driver-side shard walks. The Seq contract is enforced loudly:
      * a seed whose length disagrees with the shard-count arithmetic
      * would corrupt every downstream traversal. */
    private[graft] def seed(entries: IndexedSeq[FileEntry]): Unit =
      synchronized {
        if (cached == null) {
          require(entries.length.toLong == shards.count,
            s"${shards.table}: seeded entry list (${entries.length}) " +
              s"disagrees with the shard-count arithmetic " +
              s"(${shards.count}) — Seq contract would break")
          cached = entries
        }
      }
    def materialized: IndexedSeq[FileEntry] = {
      val c = cached
      if (c != null) c
      else synchronized {
        if (cached == null) {
          LazyEntries.forces.incrementAndGet()
          // diagnosing an unexpected force: -Dgraft.debug.forces=1
          if (sys.props.contains("graft.debug.forces"))
            new Exception(s"LazyEntries force on ${shards.table}")
              .printStackTrace()
          cached = loader(shards)
        }
        cached
      }
    }
    override def length: Int = shards.count.toInt
    override def apply(i: Int): FileEntry = materialized(i)
    override def iterator: Iterator[FileEntry] = materialized.iterator
    override def isEmpty: Boolean = shards.count == 0L
  }
  object LazyEntries {
    /** How many times a sharded entry list materialized on the driver —
      * the LogScalingSpec pin that head resolution + distributed-planned
      * scans stay shard-backed. */
    val forces = new java.util.concurrent.atomic.AtomicLong(0)
  }

  /** EXECUTOR-side materialization of a sharded entry list (round-15
    * ask #1): the shard files parse as ONE parallel text-scan job —
    * versioned removes applied against each shard's name-encoded write
    * version, exactly like the sequential driver loader — and the net
    * in-memory adds append on top. The driver receives only PARSED
    * entries (it never walks a shard file line by line), sorted to the
    * shard writer's (bucket, rel) order so both loaders produce the
    * same sequence. */
  private[graft] def materializeShardsDistributed(
      spark: SparkSession, sh: ShardedEntries): IndexedSeq[FileEntry] = {
    if (sh.files.isEmpty) return sh.adds.toIndexedSeq
    import spark.implicits._
    val rmMax = rmMaxOf(sh.removes)
    val base = spark.read.text(shardFilePaths(sh): _*)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"),
        col("value").as("l"))
      .as[(String, String)]
      .flatMap { case (f, line) =>
        if (line.isEmpty) None
        else {
          val shardV = shardVersionOf(f.substring(f.lastIndexOf('/') + 1))
          val e = parseEntryLine(line)
          if (rmMax.get(e.rel).exists(_ > shardV)) None else Some(e)
        }
      }.collect()
    (base.sortBy(e => (e.bucket, e.rel)) ++ sh.adds).toIndexedSeq
  }

  /** Make a snapshot's entry list cheap to traverse on the driver:
    * shard-backed entries assemble ONCE via [[materializeShardsDistributed]]
    * and seed the lazy cache, so the Scala read verbs (read/readWhere/
    * readKeys/readLineage) never pay a sequential driver shard walk —
    * the zero-[[LazyEntries.forces]] guarantee covers them too. Plain
    * entry lists pass through untouched; already-forced caches are
    * reused. Returns the same snapshot. */
  private[graft] def primeEntries(spark: SparkSession,
                                  snap: Snapshot): Snapshot = {
    snap.entries match {
      case le: LazyEntries if !le.isForced =>
        le.seed(materializeShardsDistributed(spark, le.shards))
      case _ => ()
    }
    snap
  }

  /** A full snapshot manifest is written every this many commits as a
    * `.checkpoint` sidecar (the public Delta checkpoint design): commits
    * themselves stay O(changed files) delta manifests forever, and
    * snapshot resolution walks at most this many deltas back to the
    * nearest checkpoint — a year-old streaming table resolves in O(1)
    * manifest reads instead of re-listing its whole history. */
  val CheckpointInterval = 20

  // ---- row tracking (the public Delta row-tracking design) --------------

  /** Table property switching row tracking on ("true"). Enable via
    * [[enableRowTracking]] (or the catalog's ALTER SET TBLPROPERTIES /
    * `CALL enable_row_tracking` twins) — NOT by writing the property
    * directly: enabling backfills base ids for every live file in the
    * same commit, so the invariant "tracking on ⇒ every live entry has a
    * base" holds at every version. */
  val RowTrackingProp = "graft.rowTracking"

  /** Next free row id (the allocation high watermark), CAS-committed
    * with every id-assigning commit. */
  val RowWatermarkProp = "graft.rowIdWatermark"

  /** Lineage column names surfaced by [[readLineage]]. */
  val RowIdCol = "_row_id"
  val RowCommitCol = "_row_commit_version"

  /** Hidden parquet columns MATERIALIZING lineage for rows that moved
    * files (rewrites carry both; row-level updates carry the id only, so
    * the commit version reads as the update's). Never part of the table
    * schema — plain reads project past them. */
  private[graft] val RidCol = "_graft_rid"
  private[graft] val RcvCol = "_graft_rcv"

  // ---- equality deletes (the Iceberg v2 MOR write shape) ----------------

  /** Registry property: '|'-joined `<version>:<enc rel>:<enc cols>`
    * entries, one per UNFOLDED equality delete (URL-encoded fields, so
    * rels and column lists can never corrupt the grammar). Append-only
    * per statement; commitNext FOLDS entries away automatically once no
    * live file predates them. */
  val EqDeletesProp = "graft.eqDeletes"

  /** One registered equality delete: a sidecar parquet of KEY TUPLES at
    * `rel`, committed at `version`, matching on PHYSICAL columns `cols`.
    * Kills matching rows in exactly the files with addV < version.
    * `nKeys` records HOW MANY key tuples the sidecar holds (the write
    * path counted them anyway for dedup) so the read side can size its
    * join strategy without touching the sidecar; -1 on entries written
    * before the count existed (read as "small" — every legacy registry
    * was). */
  final case class EqDelete(version: Long, rel: String, cols: Seq[String],
                            nKeys: Long = -1L)

  /** Read-side join-strategy bound: while a key-set group's KNOWN
    * registered-key total stays at or below this, the anti-join forces
    * `broadcast()` (tiny CDC batches must never shuffle the scan); past
    * it the hint is dropped and AQE picks — a 10⁸-key backlog becomes a
    * shuffled join instead of a driver OOM. */
  val EqBroadcastLimitConf = "spark.graft.eqdelete.broadcastKeyLimit"
  val DefaultEqBroadcastLimit = 4000000L

  /** Write-side budget: a registering commit that would push the
    * table's total known registered keys past this REFUSES (or, under
    * [[EqAutoFoldConf]], folds the registry first) — the loud
    * CHECK-constraint contract that keeps an unmaintained CDC firehose
    * from growing an unbounded read tax. */
  val EqMaxRegisteredKeysConf = "spark.graft.eqdelete.maxRegisteredKeys"
  val DefaultEqMaxRegisteredKeys = 50000000L

  /** When true, an over-budget registering commit runs
    * [[foldEqDeletes]] inline instead of refusing. */
  val EqAutoFoldConf = "spark.graft.eqdelete.autoFold"

  /** DSv2 plan-time fold bound: the registry fold materializes matched
    * POSITIONS as driver-side bitmaps, and one low-cardinality key can
    * address unboundedly many rows (the key budget cannot see that).
    * Past this many matched positions the catalog scan refuses loudly
    * toward `fold_eq_deletes` — the Scala read path (a collect-free
    * anti-join) keeps serving any backlog. */
  val EqMaxFoldPositionsConf = "spark.graft.eqdelete.maxFoldPositions"
  val DefaultEqMaxFoldPositions = 50000000L

  /** Max key tuples per staged registry parquet file — a 10⁹-key
    * retention delete stages in parallel chunks instead of serializing
    * through one task (the read side reads the rel as a directory, so
    * file count is invisible to it). */
  val EqKeysPerFileConf = "spark.graft.eqdelete.keysPerFile"
  val DefaultEqKeysPerFile = 4000000L

  private def eqConfLong(spark: SparkSession, name: String,
                         default: Long): Long =
    scala.util.Try(spark.conf.get(name).toLong).getOrElse(default)

  private[graft] def eqBroadcastLimit(spark: SparkSession): Long =
    eqConfLong(spark, EqBroadcastLimitConf, DefaultEqBroadcastLimit)

  /** Broadcast-hint the delete-key side only while the group's known
    * key total fits the bound; unknown (-1) legacy counts don't count —
    * they predate the budget and were all sandbox-small. */
  private[graft] def eqMaybeBroadcast(spark: SparkSession, df: DataFrame,
                                      knownKeys: Long): DataFrame =
    if (knownKeys > eqBroadcastLimit(spark)) df else broadcast(df)

  private[graft] def eqKnownKeys(ds: Seq[EqDelete]): Long =
    ds.map(_.nKeys).filter(_ >= 0).sum

  /** Enforce the write-side registry budget before a registering
    * commit: over budget → fold inline (autoFold) or refuse loudly. */
  private def enforceEqBudget(spark: SparkSession, table: String,
                              existing: Seq[EqDelete],
                              incoming: Long): Seq[EqDelete] = {
    val budget =
      eqConfLong(spark, EqMaxRegisteredKeysConf, DefaultEqMaxRegisteredKeys)
    val total = eqKnownKeys(existing) + incoming
    if (total <= budget) existing
    else if (scala.util.Try(spark.conf.get(EqAutoFoldConf).toBoolean)
        .getOrElse(false) &&
        // a fold can only help if the EXISTING registry carries weight;
        // an incoming batch that alone busts the budget must refuse, or
        // the fold-and-retry loop would spin forever
        incoming <= budget && eqKnownKeys(existing) > 0) {
      foldEqDeletes(spark, table)
      parseEqDeletes(snapshot(spark, table).props)
    } else throw new IllegalStateException(
      s"$table: registering $incoming equality-delete keys would put " +
        s"the registry at $total known keys, past its " +
        s"$EqMaxRegisteredKeysConf budget of $budget — every read pays " +
        "the unfolded registry as a join until maintenance runs. Run " +
        "foldEqDeletes()/CALL fold_eq_deletes (or auto_maintain), or " +
        s"set $EqAutoFoldConf=true to fold inline")
  }

  /** Stage a key frame as the registry sidecar at a fresh rel, chunked
    * so one task never serializes a huge delete. Returns the rel. */
  private def stageEqKeys(spark: SparkSession, table: String,
                          physKeys: DataFrame, n: Long): String = {
    val perFile =
      math.max(1L, eqConfLong(spark, EqKeysPerFileConf, DefaultEqKeysPerFile))
    val parts = math.min(((n + perFile - 1) / perFile).toInt.max(1), 10000)
    val rel = s"files/${java.util.UUID.randomUUID()}/eqdel"
    (if (parts == 1) physKeys.coalesce(1) else physKeys.repartition(parts))
      .write.parquet(s"$table/$rel")
    rel
  }

  /** [[stageEqKeys]] when the key count is NOT yet known: the exact
    * count comes from the staged files' parquet FOOTERS after the one
    * write job — a driver-side read of O(files-written) footers (file
    * count is bounded by count/keysPerFile, and a registry the budget
    * accepts is small by definition) — so the streaming CDC sink never
    * pays a separate aggregation job per micro-batch just for the
    * registry's nKeys. Deliberately NOT `Dataset.observe`: registering
    * an Observation initializes the session's ObservationManager, a
    * non-java-serializable field that would then poison every later
    * closure capturing the session (e.g. Spark ML scoring UDFs whose
    * training summaries hold the session) — a library verb must not
    * change what else the session can run. Chunking comes from
    * `maxRecordsPerFile` instead of a count-sized repartition — a huge
    * delete still splits at the same per-file bound (its parallelism is
    * the dedup shuffle's), and AQE's partition coalescing keeps a tiny
    * batch at one file. Returns (rel, exact key count). */
  private def stageEqKeysCounted(spark: SparkSession, table: String,
                                 physKeys: DataFrame): (String, Long) = {
    val perFile =
      math.max(1L, eqConfLong(spark, EqKeysPerFileConf, DefaultEqKeysPerFile))
    val rel = s"files/${java.util.UUID.randomUUID()}/eqdel"
    physKeys.write.option("maxRecordsPerFile", perFile)
      .parquet(s"$table/$rel")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(s"$table/$rel")
    val dfs = dir.getFileSystem(conf)
    import scala.jdk.CollectionConverters._
    val n = dfs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum
    (rel, n)
  }

  private def eqEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def eqDec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[graft] def parseEqDeletes(props: Map[String, String])
      : Seq[EqDelete] =
    props.get(EqDeletesProp).toSeq.flatMap(_.split('|'))
      .filter(_.nonEmpty).map { s =>
        val p = s.split(':')
        EqDelete(p(0).toLong, eqDec(p(1)),
          p(2).split(',').toSeq.map(eqDec),
          if (p.length > 3) p(3).toLong else -1L)
      }

  // each column encodes SEPARATELY (a literal ',' inside a name becomes
  // %2C), so the ','-joiner can never collide with a name — the codec
  // round-trip is property-tested over hostile names. The trailing
  // `:<nKeys>` field is omitted when the count is unknown, so a legacy
  // entry round-trips byte-identical through parse+render
  private[graft] def renderEqDeletes(ds: Seq[EqDelete]): String =
    ds.map { d =>
      val head =
        s"${d.version}:${eqEnc(d.rel)}:${d.cols.map(eqEnc).mkString(",")}"
      if (d.nKeys >= 0) s"$head:${d.nKeys}" else head
    }.mkString("|")

  // --- manifest encoding: one header line, one tab-separated line/file ---
  // Header v1: `txtable\t1[\t<appId>\t<batchId>]`. Header v2 adds the
  // table schema as the 5th field (Spark StructType JSON — single-line,
  // control chars escaped, so tab-separation is safe) with `-` placeholders
  // for absent txn metadata: `txtable\t2\t<appId|->\t<batchId|->\t<json>`.
  // Header v3 marks a DELTA manifest (same field positions, `-` for an
  // absent schema); its body lists changes against the PREVIOUS version:
  // `+\t<bucket>\t<rel>` adds a file, `-\t<rel>` removes one. Full
  // snapshots for delta chains live in `.checkpoint` sidecars (v2 bytes).
  // Fields 6-7 (optional, both or neither) record the BUCKET IDENTITY the
  // version's files were hashed with: `<key>\t<nBuckets>` (`-\t-` when
  // unchanged in a delta). Recording identity in-log is what lets
  // commitNext make a racing old-layout writer fail LOUDLY after a
  // rebucket instead of silently producing a mixed-bucket table that
  // readKeys would quietly miss rows in.
  // Parsers drop the header fields they don't know, so v1 readers read v2
  // manifests (losing only the schema) and vice versa.
  // BODY extension (row counts): a file line may carry a 3rd field — the
  // file's exact row count (`-` when unknown): `<bucket>\t<rel>\t<rows>`;
  // delta adds likewise `+\t<bucket>\t<rel>\t<rows>`. Parsers accept both
  // widths, so pre-count manifests keep resolving (their entries read as
  // rows=None and metadata-only aggregates simply refuse).
  // BODY extension (deletion vectors): a file line may carry 4th+5th
  // fields — the table-relative path of the file's deletion-vector
  // sidecar and the exact deleted-row count:
  // `<bucket>\t<rel>\t<rows>\t<dvRel>\t<ndel>` (delta adds analogous).
  // A merge-on-read delete commits as remove(rel) + add(rel with dv) in
  // ONE delta — snapshot resolution (filterNot removes, then append adds)
  // replaces the entry atomically.

  // HEADER extension (dropped-column tombstones): field 8 records the
  // FULL tombstone set as of the version — URL-encoded names, comma-
  // joined — or `-` for an explicitly empty set. An ABSENT field (older
  // writers) inherits the previous version's set during resolution, so
  // pre-tombstone manifests keep resolving unchanged.
  private def renderDropped(dropped: Set[String]): String =
    if (dropped.isEmpty) "-"
    else dropped.toSeq.sorted.map(n =>
      java.net.URLEncoder.encode(n, "UTF-8")).mkString(",")

  private def parseDropped(bytes: Array[Byte]): Option[Set[String]] = {
    val header = headerFields(bytes)
    if (header.length < 8) None
    else if (header(7) == "-") Some(Set.empty)
    else Some(header(7).split(',').toSet
      .map((s: String) => java.net.URLDecoder.decode(s, "UTF-8")))
  }

  // HEADER extension (table properties): field 9 records the FULL
  // key→value property map as of the version — `k=v` pairs, both sides
  // URL-encoded, comma-joined — or `-` for an explicitly empty map. An
  // ABSENT field (older writers) inherits the previous version's map
  // during resolution, exactly like the tombstone field. CHECK
  // constraints live here under `constraint.<name>` keys.
  private def renderProps(props: Map[String, String]): String =
    if (props.isEmpty) "-"
    else props.toSeq.sortBy(_._1).map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" +
        java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString(",")

  private def parseProps(bytes: Array[Byte]): Option[Map[String, String]] = {
    val header = headerFields(bytes)
    if (header.length < 9) None
    else if (header(8) == "-") Some(Map.empty)
    else Some(header(8).split(',').toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap)
  }

  // HEADER extension (column mapping): field 10 records the FULL
  // logical→physical rename map as of the version — `logical=physical`
  // pairs, both sides URL-encoded, comma-joined — or `-` for an
  // explicitly empty map. An ABSENT field (older writers) inherits the
  // previous version's map during resolution, exactly like tombstones
  // and properties.
  private def renderRenames(renames: Map[String, String]): String =
    if (renames.isEmpty) "-"
    else renames.toSeq.sortBy(_._1).map { case (l, p) =>
      java.net.URLEncoder.encode(l, "UTF-8") + "=" +
        java.net.URLEncoder.encode(p, "UTF-8")
    }.mkString(",")

  private def parseRenames(bytes: Array[Byte]): Option[Map[String, String]] = {
    val header = headerFields(bytes)
    if (header.length < 10) None
    else if (header(9) == "-") Some(Map.empty)
    else Some(header(9).split(',').toSeq.map { kv =>
      val Array(l, p) = kv.split("=", 2)
      java.net.URLDecoder.decode(l, "UTF-8") ->
        java.net.URLDecoder.decode(p, "UTF-8")
    }.toMap)
  }

  private def renderManifest(entries: Seq[FileEntry],
                             txn: Option[(String, Long)] = None,
                             schema: Option[StructType] = None,
                             bucketing: Option[(String, Int)] = None,
                             dropped: Set[String] = Set.empty,
                             props: Map[String, String] = Map.empty,
                             renames: Map[String, String] = Map.empty)
      : Array[Byte] = {
    require(dropped.isEmpty || schema.isDefined,
      "dropped-column tombstones require a recorded schema")
    require(props.isEmpty || schema.isDefined,
      "table properties require a recorded schema")
    require(renames.isEmpty || schema.isDefined,
      "column-mapping renames require a recorded schema")
    val rn = if (renames.nonEmpty) s"	${renderRenames(renames)}" else ""
    val pr = if (props.nonEmpty || renames.nonEmpty)
      s"	${renderProps(props)}" else ""
    val dr = if (dropped.nonEmpty || props.nonEmpty || renames.nonEmpty)
      s"	${renderDropped(dropped)}" else ""
    val bk = bucketing.map { case (k, n) => s"	$k	$n" }
      .getOrElse(if (dropped.nonEmpty || props.nonEmpty || renames.nonEmpty)
        "	-	-" else "")
    val header = schema match {
      case Some(sc) =>
        val (app, batch) = txn.map(t => (t._1, t._2.toString)).getOrElse(("-", "-"))
        s"txtable	2	$app	$batch	${sc.json}$bk$dr$pr$rn"
      case None => txn match {
        case Some((app, batch)) => s"txtable	1	$app	$batch"
        case None => "txtable	1"
      }
    }
    (header +: entries.sortBy(e => (e.bucket, e.rel)).map(renderEntryLine))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
  }

  /** Entry → its manifest/shard line; `parseEntryLine` round-trips it. */
  private[graft] def renderEntryLine(e: FileEntry): String =
    s"${e.bucket}	${e.rel}	${e.rows.getOrElse("-")}" +
      s"${dvSuffix(e)}${ridSuffix(e)}"

  private def dvSuffix(e: FileEntry): String =
    e.dv.fold("")(d => s"	${d.rel}	${d.ndel}")

  /** Row-tracking anchor as a TAGGED trailing field (`rid:<base>:<rcv>`)
    * so it composes with the positional entry grammar whether or not the
    * optional DV fields are present; pre-tracking parsers never see it
    * (tracking tables are created by tracking-aware code). */
  private def ridSuffix(e: FileEntry): String =
    e.base.fold("") { case (b, v) => s"	rid:$b:$v" } +
      e.addV.fold("")(v => s"	v:$v") +
      e.bytes.fold("")(n => s"	b:$n")

  /** Strip the TAGGED trailing fields (`rid:`, `v:`, `b:`) off an entry
    * line in any order — tagged fields compose with the positional
    * grammar whether or not the optional DV fields are present. `b:` is
    * the file's byte length, recorded at staging (the Iceberg/Delta
    * manifest-statistics idea) so read planning never stats or lists the
    * filesystem; absent on legacy entries, which degrade to one cached
    * `getFileStatus` per file. */
  private def splitRid(fields0: Array[String])
      : (Array[String], Option[(Long, Long)], Option[Long], Option[Long]) = {
    var fields = fields0
    var rid: Option[(Long, Long)] = None
    var addV: Option[Long] = None
    var bytes: Option[Long] = None
    var go = true
    while (go && fields.nonEmpty) {
      val last = fields.last
      if (last.startsWith("rid:")) {
        val p = last.stripPrefix("rid:").split(':')
        rid = Some((p(0).toLong, p(1).toLong))
        fields = fields.dropRight(1)
      } else if (last.startsWith("v:")) {
        addV = Some(last.stripPrefix("v:").toLong)
        fields = fields.dropRight(1)
      } else if (last.startsWith("b:")) {
        bytes = Some(last.stripPrefix("b:").toLong)
        fields = fields.dropRight(1)
      } else go = false
    }
    (fields, rid, addV, bytes)
  }

  private def parseRows(s: String): Option[Long] =
    if (s == "-") None else Some(s.toLong)

  /** One manifest/shard body line → entry (the single line grammar every
    * surface shares — executors parse shard lines with exactly this). */
  private[graft] def parseEntryLine(line: String): FileEntry = {
    val (fields, rid, addV, bytes) = splitRid(line.split('	'))
    (fields match {
      case Array(b, rel) => FileEntry(b.toInt, rel)
      case Array(b, rel, r) => FileEntry(b.toInt, rel, parseRows(r))
      case Array(b, rel, r, dvRel, ndel) =>
        FileEntry(b.toInt, rel, parseRows(r),
          Some(DvRef(dvRel, ndel.toLong)))
      case other => throw new IllegalStateException(
        s"malformed manifest line: ${other.mkString("\\t")}")
    }).copy(base = rid, addV = addV, bytes = bytes)
  }

  private def parseManifest(bytes: Array[Byte]): Seq[FileEntry] =
    new String(bytes, StandardCharsets.UTF_8).split('\n').toSeq
      .drop(1).filter(_.nonEmpty).map(parseEntryLine)

  // HEADER extension (row-level CDF classification): field 11 of a DELTA
  // manifest records the table-relative path of the commit's update-
  // classification sidecar — bitmaps marking which deleted positions and
  // which inserted positions belong to UPDATES (pre/post images), written
  // by the delta row-level write. PER-COMMIT, never inherited: absent or
  // `-` means the commit carried no update pairing (its deletes/inserts
  // surface as plain delete/insert — the conservative pre-extension CDF).
  // HEADER extension (data-preserving rewrites): field 12 of a DELTA
  // manifest is `rewrite` when the commit reorganized files WITHOUT
  // changing the table's live rows (compaction, Z-order, DV purge,
  // rebucket) — the public Delta `dataChange=false` contract. PER-COMMIT,
  // never inherited: absent or `-` means the commit changed data. Change
  // feeds emit NOTHING for flagged commits (their deletes/inserts already
  // fed the feed when they actually happened) and the append streaming
  // source skips them without needing skipChangeCommits/ignoreChanges —
  // a weekly 100 TB compaction must not replay the table into every
  // subscriber.
  private def renderDelta(adds: Seq[FileEntry], removes: Seq[String],
                          txn: Option[(String, Long)],
                          schema: Option[StructType],
                          bucketing: Option[(String, Int)] = None,
                          dropped: Set[String] = Set.empty,
                          props: Map[String, String] = Map.empty,
                          renames: Map[String, String] = Map.empty,
                          cdf: Option[String] = None,
                          dataChange: Boolean = true)
      : Array[Byte] = {
    val (app, batch) = txn.map(t => (t._1, t._2.toString)).getOrElse(("-", "-"))
    val sc = schema.map(_.json).getOrElse("-")
    val bk = bucketing.map { case (k, n) => s"	$k	$n" }.getOrElse("	-	-")
    val header = s"txtable	3	$app	$batch	$sc$bk	" +
      s"${renderDropped(dropped)}	${renderProps(props)}	" +
      renderRenames(renames) +
      s"	${cdf.map(java.net.URLEncoder.encode(_, "UTF-8")).getOrElse("-")}" +
      (if (dataChange) "" else "	rewrite")
    (header +: (removes.sorted.map(r => s"-	$r") ++
      adds.sortBy(e => (e.bucket, e.rel))
        .map(e =>
          s"+	${e.bucket}	${e.rel}	${e.rows.getOrElse("-")}" +
            s"${dvSuffix(e)}${ridSuffix(e)}")))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
  }

  /** (adds, removed rels) of a v3 delta manifest. */
  private def parseDelta(bytes: Array[Byte]): (Seq[FileEntry], Set[String]) = {
    val adds = Seq.newBuilder[FileEntry]
    val removes = Set.newBuilder[String]
    new String(bytes, StandardCharsets.UTF_8).split('\n').toSeq
      .drop(1).filter(_.nonEmpty).foreach { line =>
        val (fields, rid, addV, bytes) = splitRid(line.split('	'))
        fields match {
          case Array("+", b, rel) =>
            adds += FileEntry(b.toInt, rel)
              .copy(base = rid, addV = addV, bytes = bytes)
          case Array("+", b, rel, r) =>
            adds += FileEntry(b.toInt, rel, parseRows(r))
              .copy(base = rid, addV = addV, bytes = bytes)
          case Array("+", b, rel, r, dvRel, ndel) =>
            adds += FileEntry(b.toInt, rel, parseRows(r),
              Some(DvRef(dvRel, ndel.toLong)), rid, addV, bytes)
          case Array("-", rel)    => removes += rel
          case other => throw new IllegalStateException(
            s"malformed delta manifest line: ${other.mkString("\\t")}")
        }
      }
    (adds.result(), removes.result())
  }

  private def parseCdf(bytes: Array[Byte]): Option[String] = {
    val header = headerFields(bytes)
    if (header.length < 11 || header(10) == "-") None
    else Some(java.net.URLDecoder.decode(header(10), "UTF-8"))
  }

  /** The update-classification sidecar rel of commit `v`, when that
    * commit was a delta write carrying update pairing. Reads only the
    * commit's own manifest header — per-commit metadata, never folded
    * into snapshots. */
  private[graft] def commitCdfRel(fs: FileSystem, table: String,
                                  v: Long): Option[String] = {
    val p = versionPath(table, v)
    if (!fs.exists(p)) None
    else {
      val bytes = readBytes(fs, p)
      if (isDelta(bytes)) parseCdf(bytes) else None
    }
  }

  /** Whether commit `v` is a flagged data-preserving rewrite (header
    * field 12 = `rewrite`). Reads only the commit's own manifest header,
    * per-commit metadata like [[commitCdfRel]]. A missing manifest (the
    * version was vacuumed) is NOT a rewrite — callers walking a feed
    * range fail on the snapshot read first. */
  private[graft] def commitIsRewrite(fs: FileSystem, table: String,
                                     v: Long): Boolean = {
    val p = versionPath(table, v)
    fs.exists(p) && isRewrite(readBytes(fs, p))
  }

  private def isRewrite(bytes: Array[Byte]): Boolean = {
    val header = headerFields(bytes)
    isDelta(bytes) && header.length >= 12 && header(11) == "rewrite"
  }

  private def isDelta(bytes: Array[Byte]): Boolean =
    headerFields(bytes)(1) == "3"

  private def headerFields(bytes: Array[Byte]): Array[String] =
    new String(bytes, StandardCharsets.UTF_8).takeWhile(_ != '\n').split('	')

  private def parseTxn(bytes: Array[Byte]): Option[(String, Long)] = {
    val header = headerFields(bytes)
    if (header.length >= 4 && header(2) != "-" && header(3) != "-")
      Some((header(2), header(3).toLong))
    else None
  }

  private def parseSchema(bytes: Array[Byte]): Option[StructType] = {
    val header = headerFields(bytes)
    if (header.length >= 5 && (header(1) == "2" || header(1) == "3") &&
        header(4) != "-")
      Some(DataType.fromJson(header(4)).asInstanceOf[StructType])
    else None
  }

  private def parseBucketing(bytes: Array[Byte]): Option[(String, Int)] = {
    val header = headerFields(bytes)
    if (header.length >= 7 && header(5) != "-" && header(6) != "-")
      Some((header(5), header(6).toInt))
    else None
  }

  /** Atomically publish `entries` as version `v`. Returns false when the
    * version already exists (another writer won the race). The temp file
    * is fully written first; the publish step is a hard link (local —
    * link(2) fails EEXIST atomically) or a no-overwrite rename (HDFS
    * rename-to-existing returns false), so a manifest is never observable
    * half-written. */
  private def tryCommit(fs: FileSystem, table: String, v: Long,
                        entries: Seq[FileEntry],
                        txn: Option[(String, Long)] = None,
                        schema: Option[StructType] = None,
                        bucketing: Option[(String, Int)] = None,
                        props: Map[String, String] = Map.empty,
                        renames: Map[String, String] = Map.empty): Boolean =
    tryPublishFull(fs, table, v, entries, txn, schema, bucketing,
      Set.empty, props, renames)

  /** Publish a FULL manifest, sharding its body past the checkpoint
    * shard threshold — a 10⁸-file INIT or CLONE writes `@shard` refs +
    * `.manifest.<uuid>.sNNNNN` sidecars instead of one giant file, so
    * even the table's very first resolution is lazy. Shard names carry
    * a per-ATTEMPT uuid: two racing inits stage DIFFERENT data, so
    * (unlike checkpoint shards, a pure function of the log) their
    * sidecars must never collide — the CAS loser deletes exactly its
    * own files. */
  private def tryPublishFull(fs: FileSystem, table: String, v: Long,
                             entries: Seq[FileEntry],
                             txn: Option[(String, Long)],
                             schema: Option[StructType],
                             bucketing: Option[(String, Int)],
                             dropped: Set[String],
                             props: Map[String, String],
                             renames: Map[String, String]): Boolean = {
    val shardAt = checkpointShardAt
    if (shardAt <= 0 || entries.size < shardAt)
      tryPublish(fs, table, v,
        renderManifest(entries, txn, schema, bucketing, dropped,
          props, renames))
    else {
      val attempt = java.util.UUID.randomUUID().toString
      val refs = writeShardFiles(fs, table, v,
        entries.sortBy(e => (e.bucket, e.rel)), shardAt,
        nameOf = i => f"$v%020d.manifest.$attempt.s$i%05d")
      val bytes = (new String(renderManifest(Seq.empty, txn, schema,
        bucketing, dropped, props, renames), StandardCharsets.UTF_8) +
        refs.map { case (n, c) => s"@shard	$n	$c" }
          .mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8)
      val ok = tryPublish(fs, table, v, bytes)
      if (!ok) refs.foreach { case (n, _) =>
        fs.delete(new Path(logDir(table), n), false)
      }
      ok
    }
  }

  private def tryPublish(fs: FileSystem, table: String, v: Long,
                         bytes: Array[Byte]): Boolean =
    atomicPublish(fs, table, versionPath(table, v), bytes)

  /** Atomic create-if-absent under the log dir: hard link on local
    * filesystems (link(2) fails EEXIST atomically), no-overwrite rename
    * elsewhere. False = the destination already exists (lost the race).
    * The publish step every log artifact (manifest, tag) goes through —
    * a plain `fs.rename` OVERWRITES on local filesystems and would turn
    * a race into silent clobbering. */
  private def atomicPublish(fs: FileSystem, table: String, dst: Path,
                            bytes: Array[Byte]): Boolean = {
    fs.mkdirs(logDir(table))
    createExclusive(fs, logDir(table), dst, bytes)
  }

  /** Create `dst` holding `bytes` iff it does not exist yet, atomically
    * (the [[atomicPublish]] protocol), staging through `tmpDir` on the
    * same filesystem. `FileSystem.create(p, overwrite = false)` checks
    * and then creates, so two racing callers can both succeed there. */
  private[graft] def createExclusive(fs: FileSystem, tmpDir: Path, dst: Path,
                                     bytes: Array[Byte]): Boolean = {
    val tmp = new Path(tmpDir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    val published =
      if (fs.getUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(Path.getPathWithoutSchemeAndAuthority(dst).toString),
            java.nio.file.Paths.get(Path.getPathWithoutSchemeAndAuthority(tmp).toString))
          true
        } catch { case _: java.io.IOException => false }
      } else {
        try fs.rename(tmp, dst) catch { case _: java.io.IOException => false }
      }
    fs.delete(tmp, false)
    published
  }

  /** Publish version base.version + 1 as a DELTA manifest (O(changed
    * files) bytes — commit cost stays amortized O(changed), never
    * O(table): the post-commit stats refresh appends only the new files'
    * rows and the checkpoint/sidecar compactions are periodic), and
    * on every [[CheckpointInterval]]-th version additionally materialize a
    * full `.checkpoint` sidecar so resolution stays O(interval). The
    * checkpoint write is best-effort AFTER the CAS: its content is a pure
    * function of the log, so a crashed or racing checkpointer is harmless
    * (readers fall back to walking further; the next writer or [[vacuum]]
    * rewrites the identical bytes).
    *
    * BUCKET-IDENTITY ENFORCEMENT: when both the writer and the base
    * snapshot declare a bucket identity and they differ, the commit
    * throws (unless `allowRebucket` — the [[rebucket]] migration itself).
    * This closes the silent-mixed-layout race: a writer that resolved its
    * snapshot before a concurrent rebucket committed re-resolves on its
    * CAS retry, sees the NEW identity here, and fails loudly instead of
    * landing old-layout files that [[readKeys]] would quietly miss. A
    * writer passing None (identity-agnostic maintenance like [[compact]])
    * inherits the base's identity unchanged. */
  private[graft] def commitNext(fs: FileSystem, table: String, base: Snapshot,
                                adds: Seq[FileEntry], removes: Set[String],
                                txn: Option[(String, Long)] = None,
                                schema: Option[StructType] = None,
                                bucketing: Option[(String, Int)] = None,
                                allowRebucket: Boolean = false,
                                dropped: Option[Set[String]] = None,
                                props: Option[Map[String, String]] = None,
                                renames: Option[Map[String, String]] = None,
                                cdf: Option[String] = None,
                                dataChange: Boolean = true)
      : Boolean = {
    (bucketing, base.bucketing) match {
      case (Some(b), Some(cur)) if b != cur && !allowRebucket =>
        throw new IllegalStateException(
          s"$table: bucket identity changed under this writer — table is " +
            s"(key=${cur._1}, nBuckets=${cur._2}) as of v${base.version} " +
            s"but the commit was staged for (key=${b._1}, nBuckets=${b._2}). " +
            "A rebucket migration ran; re-resolve and re-stage with the " +
            "new identity.")
      case _ => ()
    }
    val effBucketing = if (allowRebucket) bucketing
                       else bucketing.orElse(base.bucketing)
    // tombstones inherit from the base unless this commit changes them
    // (ALTER DROP adds, a post-purge ALTER ADD clears)
    val effDropped = dropped.getOrElse(base.dropped)
    val effProps0 = props.getOrElse(base.props)
    val effRenames = renames.getOrElse(base.renames)
    val v = base.version + 1
    // row tracking: every added file gets a base-row-id range from the
    // table's CAS-committed watermark — assignment happens HERE, at the
    // single commit choke point, so every write surface (Scala append,
    // DSv2 INSERT, MERGE, compaction, branch publish) allocates
    // identically; a lost commit race re-enters with the winner's
    // watermark, so ranges can never collide
    val tracking = effProps0.get(RowTrackingProp).contains("true")
    val (effAdds0, effProps1) =
      if (!tracking || adds.isEmpty) (adds, effProps0)
      else {
        var wm = effProps0.get(RowWatermarkProp).map(_.toLong)
          .getOrElse(0L)
        val assigned = adds.map { e =>
          if (e.base.isDefined) e
          else {
            val n = e.rows.getOrElse(throw new IllegalStateException(
              s"$table: row tracking requires a recorded row count " +
                s"for ${e.rel} (footer read failed at staging?)"))
            val b = wm
            wm += n
            e.copy(base = Some((b, v)))
          }
        }
        (assigned, effProps0 + (RowWatermarkProp -> wm.toString))
      }
    // stamp each add's SEQUENCE (the commit version that added it) —
    // what equality deletes scope by; DV re-adds arrive with their
    // original stamp via copy and keep it
    val effAdds = effAdds0.map(e =>
      if (e.addV.isDefined) e else e.copy(addV = Some(v)))
    // equality-delete registry GC: an entry whose affected set emptied
    // (every file it could kill rows in was rewritten — addV >= the
    // delete's version — or dropped) is FOLDED and leaves the registry;
    // an entry-less registry costs readers nothing
    val effProps = {
      val dels = parseEqDeletes(effProps1)
      if (dels.isEmpty) effProps1
      else {
        val post = base.entries.filterNot(e => removes(e.rel)) ++ effAdds
        val kept = dels.filter(d => post.exists(e =>
          e.addV.forall(_ < d.version)))
        if (kept.size == dels.size) effProps1
        else if (kept.isEmpty) effProps1 - EqDeletesProp
        else effProps1 + (EqDeletesProp -> renderEqDeletes(kept))
      }
    }
    val ok = tryPublish(fs, table, v,
      renderDelta(effAdds, removes.toSeq, txn, schema, effBucketing,
        effDropped, effProps, effRenames, cdf, dataChange))
    if (ok && CheckpointInterval > 0 && v % CheckpointInterval == 0) {
      try base.entries match {
        case le: LazyEntries =>
          // shard-backed base: fold this commit's changes onto the
          // anchor's net state and checkpoint by REFERENCE — the write
          // stays O(changed since the last anchor), never O(files)
          val sh = le.shards
          val keptAdds = sh.adds.filterNot(e => removes(e.rel)) ++ effAdds
          val addRels = sh.adds.map(_.rel).toSet
          val baseRm = sh.removes ++
            removes.filterNot(addRels).map(r => (r, v))
          writeCheckpointReused(fs, table, v,
            sh.copy(adds = keptAdds, removes = baseRm),
            () => le.materialized.filterNot(e => removes(e.rel)) ++ effAdds,
            schema.orElse(base.schema), effBucketing, effDropped,
            effProps, effRenames)
        case es =>
          writeCheckpoint(fs, table, v,
            es.filterNot(e => removes(e.rel)) ++ effAdds,
            schema.orElse(base.schema), effBucketing, effDropped,
            effProps, effRenames)
      }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // committed writes keep profiled sidecars fresh from footers (no data
    // read; no-op unless the table has ANALYZEd columns). Post-commit and
    // best-effort: a failure here can only leave stats stale, which every
    // consumer treats as over-keep.
    if (ok && adds.nonEmpty)
      try { refreshStatsFromFooters(SparkSession.active, table); () }
      catch { case scala.util.control.NonFatal(_) => () }
    ok
  }

  private def writeCheckpoint(fs: FileSystem, table: String, v: Long,
                              entries: Seq[FileEntry],
                              schema: Option[StructType],
                              bucketing: Option[(String, Int)] = None,
                              dropped: Set[String] = Set.empty,
                              props: Map[String, String] = Map.empty,
                              renames: Map[String, String] = Map.empty): Unit = {
    val shardAt = checkpointShardAt
    val bytes =
      if (shardAt <= 0 || entries.size < shardAt)
        renderManifest(entries, None, schema, bucketing, dropped,
          props, renames)
      else {
        // SHARDED (the Iceberg manifest-list shape): entry lines split
        // into `.checkpoint.sNNNNN` sidecars written before the
        // referencing checkpoint (readers only ever see complete sets;
        // a crash mid-write leaves unreferenced shard files for vacuum),
        // the checkpoint itself carries header + `@shard` references
        val refs = writeShardFiles(fs, table, v,
          entries.sortBy(e => (e.bucket, e.rel)), shardAt)
        (new String(renderManifest(Seq.empty, None, schema, bucketing,
          dropped, props, renames), StandardCharsets.UTF_8) +
          refs.map { case (n, c) => s"@shard	$n	$c" }
            .mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8)
      }
    publishCheckpoint(fs, table, v, bytes)
  }

  private def writeShardFiles(fs: FileSystem, table: String, v: Long,
                              sorted: Seq[FileEntry], shardAt: Int,
                              nameOf: Int => String = null)
      : Seq[(String, Long)] =
    sorted.grouped(shardAt).zipWithIndex.map { case (g, i) =>
      val name = if (nameOf == null) shardName(v, i) else nameOf(i)
      val tmp = new Path(logDir(table),
        s".cps-tmp-${java.util.UUID.randomUUID()}")
      val o = fs.create(tmp, true)
      o.write(g.map(renderEntryLine).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      o.close()
      val dst = new Path(logDir(table), name)
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"$table: shard $name failed to publish")
      }
      (name, g.size.toLong)
    }.toSeq

  private def publishCheckpoint(fs: FileSystem, table: String, v: Long,
                                bytes: Array[Byte]): Unit = {
    val tmp = new Path(logDir(table), s".cp-tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    val dst = checkpointPath(table, v)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }

  /** How many rels a REUSING checkpoint may carry as `@rm` lines before
    * it must rewrite its shards (dead weight every reader filters). */
  val CheckpointMaxCarriedRemovesConf =
    "spark.graft.checkpoint.maxCarriedRemoves"

  /** Checkpoint from a SHARD-BACKED base without materializing it (the
    * full Iceberg manifest-list economy): untouched shard files carry
    * forward BY REFERENCE, the interval's net adds write as new shards,
    * and the carried removes ride as `@rm` lines the lazy reader (and
    * the executor-side planner) already filter. Commit-time checkpoint
    * cost drops from O(live files) to O(changed since the last anchor).
    * Falls back to the full rewrite when the carried-remove budget or
    * the fragmentation bound (shard count > 3× the ideal) is hit — the
    * periodic compaction that keeps the anchor read-efficient. */
  private def writeCheckpointReused(fs: FileSystem, table: String, v: Long,
                                    sh: ShardedEntries,
                                    fullEntries: () => Seq[FileEntry],
                                    schema: Option[StructType],
                                    bucketing: Option[(String, Int)],
                                    dropped: Set[String],
                                    props: Map[String, String],
                                    renames: Map[String, String]): Unit = {
    val shardAt = checkpointShardAt
    val rmBudget = scala.util.Try(SparkSession.active.conf
      .get(CheckpointMaxCarriedRemovesConf).toLong)
      .getOrElse(shardAt.toLong)
    val ideal = sh.count / math.max(shardAt, 1) + 1
    val fragmented = sh.files.size > 3 * ideal
    if (sh.removes.size > rmBudget || fragmented) {
      writeCheckpoint(fs, table, v, fullEntries(), schema, bucketing,
        dropped, props, renames)
    } else {
      val newRefs =
        if (sh.adds.isEmpty) Seq.empty
        else writeShardFiles(fs, table, v,
          sh.adds.sortBy(e => (e.bucket, e.rel)), shardAt)
      // each @rm carries the version the remove happened at: readers
      // apply it only to shard files named with an OLDER version, so
      // the rels this interval's adds re-added (a MOR delete's DV
      // re-add, a restore) survive in the new same-version shards while
      // their dead prior incarnations in carried shards are filtered
      val body = (sh.files ++ newRefs)
        .map { case (n, c) => s"@shard	$n	$c" } ++
        sh.removes.toSeq.sorted.map { case (r, rv) => s"@rm	$r	$rv" }
      publishCheckpoint(fs, table, v,
        (new String(renderManifest(Seq.empty, None, schema, bucketing,
          dropped, props, renames), StandardCharsets.UTF_8) +
          body.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Shard references (+ carried removes) of a sharded checkpoint's
    * body; None for the single-file format (old checkpoints stay
    * readable unchanged). `@rm` lines record rels a REUSING checkpoint
    * carried forward as dead instead of rewriting their shard — the
    * Iceberg "existing manifest + delete entries" shape. */
  private def parseShardRefs(bytes: Array[Byte])
      : Option[(Seq[(String, Long)], Set[(String, Long)])] = {
    val lines = new String(bytes, StandardCharsets.UTF_8)
      .split('\n').toSeq.drop(1).filter(_.nonEmpty)
    if (!lines.headOption.exists(l =>
        l.startsWith("@shard	") || l.startsWith("@rm	"))) None
    else {
      val refs = Seq.newBuilder[(String, Long)]
      val rms = Set.newBuilder[(String, Long)]
      lines.foreach { l =>
        val p = l.split('	')
        p(0) match {
          case "@shard" => refs += ((p(1), p(2).toLong))
          // a version-less @rm (the pre-versioned format) applies to
          // every shard — exactly its original read semantics
          case "@rm" => rms += ((p(1),
            if (p.length > 2) p(2).toLong else Long.MaxValue))
          case _ => throw new IllegalStateException(
            s"mixed shard/entry checkpoint body line: $l")
        }
      }
      Some((refs.result(), rms.result()))
    }
  }

  /** Snapshot from a checkpoint anchor's bytes — sharded checkpoints get
    * LAZY entries (shard parse deferred until something traverses). */
  private def anchorSnapshot(fs: FileSystem, table: String, v: Long,
                             bytes: Array[Byte]): Snapshot = {
    val entries: Seq[FileEntry] = parseShardRefs(bytes) match {
      case Some((refs, rms)) =>
        new LazyEntries(ShardedEntries(table, refs, removes = rms),
          sh => materializeShards(fs, sh))
      case None => parseManifest(bytes)
    }
    Snapshot(v, entries, parseSchema(bytes),
      parseBucketing(bytes), parseDropped(bytes).getOrElse(Set.empty),
      parseProps(bytes).getOrElse(Map.empty),
      parseRenames(bytes).getOrElse(Map.empty))
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Resolve the newest committed snapshot, or a specific `version`.
    *
    * Resolution walks BACKWARD from `version` over delta manifests until
    * it hits a full anchor — a `.checkpoint` sidecar or a full manifest —
    * then folds the deltas forward. Writers checkpoint every
    * [[CheckpointInterval]] commits, so the walk is O(interval) manifest
    * reads no matter how many commits the table has accumulated. A delta
    * whose chain runs into a vacuumed version fails loudly (the version
    * predates the retained log) instead of resolving wrong. */
  def snapshot(spark: SparkSession, table: String,
               version: Option[Long] = None): Snapshot = {
    val __t0 = System.nanoTime()
    try snapshotCached(spark, table, version)
    finally {
      snapshotCalls.incrementAndGet()
      snapshotNanos.addAndGet(System.nanoTime() - __t0)
    }
  }

  /** Resolved snapshots keyed by (table, version), validated against the
    * anchor manifest file's (mtime, length): committed manifests are
    * IMMUTABLE (atomicPublish is create-if-absent), so a (table, version)
    * resolution can be reused for the life of the JVM — the validation
    * stamp only exists to catch a table DELETED OUT-OF-BAND and re-created
    * at the same path reaching the same version number (staged fixtures do
    * exactly this), where the new manifest's mtime/length differ. This is
    * the Delta SnapshotManagement idea: streaming sinks and the DSv2
    * catalog resolve the same versions dozens of times per micro-batch
    * (measured: 529 resolutions, 0.86 s, per ext_stream_epochs invocation),
    * and every resolution after the first is a cache hit + one
    * getFileStatus instead of a log walk. Latest-version discovery is
    * NEVER cached — `version = None` always re-lists the log directory, so
    * new commits are visible immediately. */
  private val snapByVer = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), (Long, Long, Snapshot)]()

  private[graft] def invalidateSnapshots(table: String): Unit = {
    snapCache.remove(table)
    graft.sources.TxEqFold.invalidate(table)
    val it = snapByVer.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == table) it.remove()
  }

  private def snapshotCached(spark: SparkSession, table: String,
                             version: Option[Long]): Snapshot = {
    val fs = fsFor(spark, table)
    val v = version.getOrElse {
      val vs = listVersions(fs, table)
      require(vs.nonEmpty, s"$table is not a TxTable (no committed manifest)")
      vs.max
    }
    // the validation stamp comes from whichever anchor artifact exists for
    // this version (delta/full manifest, else checkpoint sidecar); a
    // version with neither resolves through snapshotImpl's loud failure
    val st =
      try fs.getFileStatus(versionPath(table, v))
      catch { case _: java.io.FileNotFoundException =>
        try fs.getFileStatus(checkpointPath(table, v))
        catch { case _: java.io.FileNotFoundException => null }
      }
    if (st == null) snapshotImpl(spark, table, Some(v))
    else {
      val k = (table, v)
      val c = snapByVer.get(k)
      if (c != null && c._1 == st.getModificationTime && c._2 == st.getLen)
        c._3
      else {
        val s = snapshotImpl(spark, table, Some(v))
        if (snapByVer.size > 512) snapByVer.clear()
        snapByVer.put(k, (st.getModificationTime, st.getLen, s))
        s
      }
    }
  }

  private def snapshotImpl(spark: SparkSession, table: String,
                           version: Option[Long]): Snapshot = {
    val fs = fsFor(spark, table)
    val v = version.getOrElse {
      val vs = listVersions(fs, table)
      require(vs.nonEmpty, s"$table is not a TxTable (no committed manifest)")
      vs.max
    }
    // walk back collecting deltas (newest first) until a full anchor
    var cursor = v
    var anchor: Option[Snapshot] = None
    val deltas = Seq.newBuilder[Array[Byte]]
    while (anchor.isEmpty) {
      val cp = checkpointPath(table, cursor)
      if (fs.exists(cp)) {
        anchor = Some(anchorSnapshot(fs, table, cursor, readBytes(fs, cp)))
      } else {
        val p = versionPath(table, cursor)
        require(fs.exists(p),
          s"version $cursor does not exist under $table" +
            (if (cursor != v) s" (required to resolve version $v — " +
              "it predates the vacuumed log retention)" else ""))
        val bytes = readBytes(fs, p)
        if (isDelta(bytes)) { deltas += bytes; cursor -= 1 }
        else anchor = Some(anchorSnapshot(fs, table, cursor, bytes))
      }
    }
    // fold the collected deltas forward (they were gathered newest-first);
    // anchor.version + |deltas| == v by construction
    deltas.result().reverse.foldLeft(anchor.get)(foldDelta)
  }

  /** Apply one v3 delta manifest's bytes on top of a resolved snapshot —
    * the single fold kernel behind main-log resolution and branch-head
    * resolution. */
  private def foldDelta(snap: Snapshot, bytes: Array[Byte]): Snapshot = {
    val (adds, removes) = parseDelta(bytes)
    // a shard-backed entry list folds WITHOUT materializing: the delta's
    // changes accumulate as net (adds, removes) on the shard base —
    // `removes` only ever names shard-base rels (a removed rel that was
    // itself delta-added just drops from `adds`), so the exact count
    // stays O(1) and the driver still hasn't parsed an entry line
    val newEntries: Seq[FileEntry] = snap.entries match {
      case le: LazyEntries =>
        val sh = le.shards
        val keptAdds = sh.adds.filterNot(e => removes(e.rel))
        val addRels = sh.adds.map(_.rel).toSet
        val v = snap.version + 1
        val baseRemoves = removes.filterNot(addRels).map(r => (r, v))
        new LazyEntries(sh.copy(adds = keptAdds ++ adds,
          removes = sh.removes ++ baseRemoves), le.loader)
      case es => es.filterNot(e => removes(e.rel)) ++ adds
    }
    Snapshot(snap.version + 1, newEntries,
      parseSchema(bytes).orElse(snap.schema),
      parseBucketing(bytes).orElse(snap.bucketing),
      parseDropped(bytes).getOrElse(snap.dropped),
      parseProps(bytes).getOrElse(snap.props),
      parseRenames(bytes).getOrElse(snap.renames))
  }

  /** One commit as a change-feed walk sees it: the snapshot it resolves
    * to, whether it is a flagged data-preserving rewrite, and its
    * update-classification sidecar rel. */
  private[graft] final case class Commit(snap: Snapshot, rewrite: Boolean,
                                         cdfRel: Option[String])

  /** The commits after `start` up to `to`, resolved FORWARD: each
    * version folds its own manifest onto the previous snapshot — one
    * manifest read per version, never a per-version walk back to the
    * anchor. `start = None` begins before the first commit. */
  private[graft] def commitsAfter(spark: SparkSession, table: String,
                                  start: Option[Snapshot],
                                  to: Long): Iterator[Commit] = {
    val fs = fsFor(spark, table)
    var prev = start
    (start.fold(0L)(_.version + 1) to to).iterator.map { v =>
      val p = versionPath(table, v)
      require(fs.exists(p),
        s"version $v does not exist under $table — it predates the " +
          "vacuumed log retention")
      val bytes = readBytes(fs, p)
      val delta = isDelta(bytes)
      val snap =
        if (!delta) anchorSnapshot(fs, table, v, bytes)
        else prev.fold(snapshot(spark, table, Some(v)))(foldDelta(_, bytes))
      prev = Some(snap)
      Commit(snap, isRewrite(bytes), if (delta) parseCdf(bytes) else None)
    }
  }

  private def listVersions(fs: FileSystem, table: String): Seq[Long] = {
    val dir = logDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".manifest")).map(_.stripSuffix(".manifest").toLong)
  }

  /** Read the table at the newest version (or a time-travel `version`):
    * exactly the manifest's files. The bucket column travels inside the
    * data files, so explicit-file reads never run partition inference.
    *
    * When the manifest carries a schema (v2), the read projects to it
    * WITHOUT any footer merging: files written before a column existed
    * surface it as null (Spark's parquet reader fills fields absent from a
    * file) — at 100 TB that replaces a mergeSchema pass over every footer
    * with one manifest line. */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, version)
    if (snap.entries.isEmpty) {
      // a table whose every commit was empty (e.g. a side-index whose
      // first batches admitted nothing) reads as a typed empty frame when
      // the manifest records the schema; pre-schema (v1) empty tables have
      // no schema source anywhere and must fail loudly
      val sc = snap.logicalSchema.getOrElse(throw new IllegalStateException(
        s"$table@v${snap.version} has no data files and no recorded schema"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
    } else {
      // shard-backed entry lists assemble executor-side first (one
      // parallel job, zero driver shard walks) — the full Scala read
      // keeps the zero-forces guarantee
      primeEntries(spark, snap)
      // files store PHYSICAL names; the column-mapping boundary renames
      // to the version's logical names (identity when never renamed)
      fromPhysical(liveRows(spark, table, snap, snap.entries,
        snap.schema), snap)
    }
  }

  /** Enable ROW TRACKING (the public Delta feature): durable `_row_id` /
    * `_row_commit_version` identities that survive compaction, Z-order,
    * DV purges, and MERGE rewrites. One metadata commit backfills a
    * base-row-id range for every live file (ids are `base + physical
    * position` until a rewrite materializes them) and sets the allocation
    * watermark; from then on EVERY commit allocates ranges for its added
    * files at the commit choke point. dataChange=false: enabling emits
    * nothing into change feeds. Idempotent. */
  def enableRowTracking(spark: SparkSession, table: String,
                        maxRetries: Int = 5): Unit = {
    val fs = fsFor(spark, table)
    var attempt = 0
    while (attempt <= maxRetries) {
      val snap = snapshot(spark, table)
      if (snap.props.get(RowTrackingProp).contains("true")) return
      require(snap.schema.isDefined,
        s"$table: row tracking needs a recorded schema (v2+ manifest)")
      snap.entries.find(_.rows.isEmpty).foreach { e =>
        throw new IllegalStateException(
          s"$table: cannot enable row tracking — ${e.rel} has no " +
            "recorded row count; run compact() to rewrite it first")
      }
      val v = snap.version + 1
      var wm = 0L
      val assigned = snap.entries.map { e =>
        val b = wm
        wm += e.rows.get
        e.copy(base = Some((b, v)))
      }
      val props = snap.props + (RowTrackingProp -> "true") +
        (RowWatermarkProp -> wm.toString)
      if (commitNext(fs, table, snap, adds = assigned,
          removes = snap.entries.map(_.rel).toSet, schema = snap.schema,
          props = Some(props), dataChange = false)) return
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: enable_row_tracking lost the commit race $maxRetries times")
  }

  /** Read the table WITH its row lineage: every data column plus
    * `_row_id` (durable identity, stable across rewrites) and
    * `_row_commit_version` (the commit that last MODIFIED the row).
    * Fresh rows answer from the file's manifest anchor (`base +
    * _metadata.row_index` — zero storage); rows a rewrite moved answer
    * from the hidden materialized columns, which win by `coalesce`.
    * DV'd files filter dead rows exactly like [[read]] (positions are
    * PHYSICAL, so MOR deletes never shift surviving ids). */
  def readLineage(spark: SparkSession, table: String,
                  version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, version)
    require(snap.props.get(RowTrackingProp).contains("true"),
      s"$table@v${snap.version}: row tracking is not enabled at this " +
        "version — TxTable.enableRowTracking / CALL enable_row_tracking " +
        "first (earlier versions have no identity to serve)")
    val physSchema = snap.schema.getOrElse(throw new IllegalStateException(
      s"$table@v${snap.version} carries no schema"))
    if (snap.entries.isEmpty) {
      val sc = StructType(snap.logicalSchema.get.fields
        :+ StructField(RowIdCol, org.apache.spark.sql.types.LongType)
        :+ StructField(RowCommitCol, org.apache.spark.sql.types.LongType))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
    }
    primeEntries(spark, snap)
    fromPhysical(
      liveRows(spark, table, snap, snap.entries, Some(physSchema),
          lineage = true)
        .withColumnRenamed(RidCol, RowIdCol)
        .withColumnRenamed(RcvCol, RowCommitCol), snap)
  }

  /** Change feed between two committed versions — the Delta CDF read
    * shape (`table_changes`): the changes of commits (fromVersion,
    * toVersion], read through the same DSv2 scan as the `#changes` feed
    * ([[graft.sources.TxChangesTable]]), so both surfaces share one
    * planner. Two inputs are this verb's own: the frame takes
    * `toVersion`'s schema and LOGICAL names (a later rename does not
    * reach it), and it carries `_row_id`/`_row_commit_version` only when
    * row tracking was already on at `fromVersion` (identity for the
    * whole range). */
  def changesBetween(spark: SparkSession, table: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val tracked = snapshot(spark, table, Some(fromVersion)).props
      .get(RowTrackingProp).contains("true")
    val feed = new graft.sources.TxChangesTable(table,
      snapshot(spark, table, Some(toVersion)), tracked)
    val options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("startingVersion", (fromVersion + 1).toString,
        "endingVersion", toVersion.toString))
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(feed, None, None, options))
  }

  /** DESCRIBE HISTORY analog: one row per RETAINED log version, oldest
    * first, read from manifest headers alone — bounded metadata, zero data
    * I/O. `kind` is 'full' (anchor manifest) or 'delta'; `n_adds` /
    * `n_removes` count the commit's file changes; `txn_app` / `txn_batch`
    * surface the exactly-once stamp when the commit carried one;
    * `bucket_key` / `n_buckets` the layout identity; `checkpointed` whether
    * a resolution anchor sidecar exists at that version; `commit_ts` the
    * commit's publication time (the log file's modification time, the
    * Delta convention — the same clock [[versionAsOfTimestamp]] resolves
    * TIMESTAMP AS OF against). Versions dropped by [[vacuum]] are
    * absent — their history is gone by design. */
  def history(spark: SparkSession, table: String): DataFrame = {
    val fs = fsFor(spark, table)
    val rows = listVersions(fs, table).sorted.map { v =>
      val bytes = readBytes(fs, versionPath(table, v))
      val (kind, nAdds, nRemoves) =
        if (isDelta(bytes)) {
          val (a, r) = parseDelta(bytes); ("delta", a.size, r.size)
        } else parseShardRefs(bytes) match {
          case Some((refs, rms)) =>
            ("full", (refs.map(_._2).sum - rms.size).toInt, 0)
          case None => ("full", parseManifest(bytes).size, 0)
        }
      val txn = parseTxn(bytes)
      val bk = parseBucketing(bytes)
      (v, kind, nAdds, nRemoves,
        txn.map(_._1).orNull,
        txn.map(t => java.lang.Long.valueOf(t._2)).orNull,
        bk.map(_._1).orNull,
        bk.map(b => java.lang.Integer.valueOf(b._2)).orNull,
        fs.exists(checkpointPath(table, v)),
        new java.sql.Timestamp(
          fs.getFileStatus(versionPath(table, v)).getModificationTime))
    }
    spark.createDataFrame(rows).toDF("version", "kind", "n_adds",
      "n_removes", "txn_app", "txn_batch", "bucket_key", "n_buckets",
      "checkpointed", "commit_ts")
  }

  /** TIMESTAMP AS OF resolution: the newest retained version whose
    * manifest was PUBLISHED at or before `tsMillis` (publication time =
    * the log file's modification time, the Delta convention — commit
    * files are written once and never touched, so the mtime IS the
    * commit time). Throws when the timestamp predates the earliest
    * retained commit (vacuumed history cannot be travelled to) — but a
    * timestamp after the newest commit resolves to the head, exactly as
    * a reader at that wall-clock moment would have seen it. */
  def versionAsOfTimestamp(spark: SparkSession, table: String,
                           tsMillis: Long): Long = {
    val fs = fsFor(spark, table)
    val vs = listVersions(fs, table).sorted
    require(vs.nonEmpty, s"$table has no committed versions")
    // mtimes are monotone per committed version in practice (versions
    // publish in order); take max version among those at-or-before
    val at = vs.map(v => (v,
      fs.getFileStatus(versionPath(table, v)).getModificationTime))
    val ok = at.filter(_._2 <= tsMillis)
    if (ok.isEmpty) throw new IllegalArgumentException(
      s"$table: timestamp ${new java.sql.Timestamp(tsMillis)} is before " +
        s"the earliest retained commit " +
        s"(v${at.head._1} at ${new java.sql.Timestamp(at.head._2)}) — " +
        "older history was never written or has been vacuumed")
    ok.map(_._1).max
  }

  /** The earliest retained version published AT OR AFTER `tsMillis`
    * (None when every retained commit predates it) — the change-feed /
    * streaming-source `startingTimestamp` resolution ("changes committed
    * at or after this instant", the Delta convention). */
  def firstVersionAtOrAfter(spark: SparkSession, table: String,
                            tsMillis: Long): Option[Long] = {
    val fs = fsFor(spark, table)
    listVersions(fs, table).sorted.find(v =>
      fs.getFileStatus(versionPath(table, v)).getModificationTime >=
        tsMillis)
  }

  /** Point-lookup read: only the files of the buckets `keys` hash into are
    * opened (I/O ∝ |distinct key buckets|, not table size — the record-
    * serving path a CDC-maintained table exists for), then the exact key
    * filter applies on top. The filter column must be the table's bucket
    * key (same `nBuckets` the writers used); a mismatched bucket count
    * would silently miss rows, so callers treat (key, nBuckets) as part of
    * the table's identity, exactly as the writers do. */
  def readKeys(spark: SparkSession, table: String, key: String,
               keys: Seq[Any], nBuckets: Int,
               version: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "at least one key required")
    val snap = snapshot(spark, table, version)
    // callers speak LOGICAL names; bucket identity and file bytes are
    // PHYSICAL (column mapping) — translate once, compare physically
    val physKey = snap.physicalName(key)
    // when the resolved manifest RECORDS the bucket identity (every
    // post-identity commit does), a caller-supplied mismatch throws
    // instead of silently probing the wrong buckets — the stale-caller
    // failure after a rebucket migration becomes loud
    snap.bucketing.foreach { case (k, n) =>
      require(k == physKey && n == nBuckets,
        s"$table@v${snap.version} is bucketed as (key=${snap.logicalName(k)}" +
          s", nBuckets=$n) but readKeys was called with (key=$key, " +
          s"nBuckets=$nBuckets) — a stale caller after a rebucket would " +
          "silently miss rows")
    }
    // bucket hashing is TYPE-sensitive (xxhash64 of an Int literal differs
    // from the same value as a Long), so every caller-supplied key is cast
    // on the driver to the table's declared key type BEFORE the planner
    // hashes it — a Scala Int passed against a BIGINT key column would
    // otherwise probe the wrong buckets and silently return no rows.
    // Schema source: the v2 manifest, else the files' own footers (v1
    // tables).
    val keyType = snap.schema.getOrElse(read(spark, table, version).schema)
      .find(_.name == physKey).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"key column '$key' not in $table schema"))
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val probe = keys.map(k => Literal(
      Cast(Literal(k), keyType, tz).eval(), keyType))
    primeEntries(spark, snap)
    val (hit, _) = TxFilePlanner.plan(spark, table,
      snap.copy(bucketing = Some((physKey, nBuckets))),
      TxFilePlanner.Probe(Nil, Seq(TxFilePlanner.Eq(physKey, probe))))
    if (hit.isEmpty)
      read(spark, table, version).filter(lit(false))
    else fromPhysical(liveRows(spark, table, snap, hit, snap.schema)
      .filter(col(s"`$physKey`").isin(keys: _*)), snap)
  }

  // --- zone-map data skipping (sidecar per-file column stats) -----------

  private[graft] def statsPath(table: String, c: String) =
    new Path(logDir(table), s"stats-$c.parquet")

  /** Build or incrementally refresh the per-file (min, max) sidecar for
    * `statsCol` — the ANALYZE/OPTIMIZE-style maintenance job behind
    * [[readWhere]]'s file skipping (the Delta per-file-stats idea as a
    * tiny parquet sidecar). Only files not yet in the sidecar are scanned
    * (I/O ∝ new files since the last run); the sidecar itself is O(files)
    * rows. Skipping pays off exactly when the data is clustered on
    * `statsCol` — time-ordered appends or [[LayoutOps.writeZOrdered]]
    * layouts — which is why stats are a per-column opt-in, not a
    * write-path tax. Returns the number of files newly profiled.
    *
    * The sidecar rewrite appends the merged part first and only then
    * deletes exactly the parts it read ([[swapSidecarParts]]); a reader
    * racing the swap sees duplicate rels (deduped on read) or a stale
    * part — degraded, never wrong. Same over-keep fallback covers
    * pre-stats tables and files added after the last refresh. */
  def computeStats(spark: SparkSession, table: String,
                   statsCol: String, withNdv: Boolean = false): Int = {
    val snap = snapshot(spark, table)
    // sidecars are keyed by the PHYSICAL column name (column mapping), so
    // a RENAME never orphans a profile; callers speak logical names
    val statsColP = snap.physicalName(statsCol)
    val fs = fsFor(spark, table)
    val sp = statsPath(table, statsColP)
    // part listing BEFORE the read: the final swap deletes exactly this
    // set, so a part a concurrent commit's refresh appends mid-ANALYZE
    // survives instead of being wiped by a whole-directory replace
    val partsBefore: Seq[Path] = listSidecarParts(fs, sp)
    // only rows with RECORDED null counts count as profiled: rows without
    // them (pre-null-count sidecars, or legacy refresh output) re-profile
    // rather than surviving a dedup and downgrading a known count.
    // Normalized to carry the optional per-file HLL column (null for
    // footer-profiled rows — parquet footers have min/max/nulls but no
    // distinct sketch).
    val existing =
      if (partsBefore.isEmpty) None
      else Some(spark.read.parquet(partsBefore.map(_.toString): _*))
        .filter(_.schema.fieldNames.contains("nulls"))
        .map(_.filter(col("nulls").isNotNull))
        .map(df =>
          if (df.schema.fieldNames.contains("hll"))
            df.select(col("rel"), col("lo"), col("hi"), col("nulls"),
              col("hll"))
          else df.select(col("rel"), col("lo"), col("hi"), col("nulls"))
            .withColumn("hll", lit(null).cast("binary")))
    // an NDV pass re-profiles rows that have no sketch yet
    val known: Set[String] = existing
      .map(df => (if (withNdv) df.filter(col("hll").isNotNull) else df)
        .select("rel").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val missing = snap.entries.filterNot(e => known(e.rel))
    val liveSet = snap.entries.map(_.rel).toSet
    // even with nothing new to profile, ANALYZE leaves a canonical
    // sidecar: dead files' rows trimmed, per-commit append parts folded
    // back into one (the auto-refresh defers both to its compaction cap)
    val stale = known.exists(r => !liveSet(r)) || partsBefore.size > 1
    if (missing.isEmpty && !stale) return 0
    // footer-first ANALYZE: parquet footers already carry exact
    // (min, max, nullCount) per row group, so a 100 TB table profiles
    // from O(files) metadata reads, not a 100 TB scan. Only files whose
    // footer refuses (unmappable physical type, missing statistics) fall
    // to the data scan below.
    val colType = snap.schema.flatMap(_.fields.find(_.name == statsColP))
      .map(_.dataType)
    val hconf = spark.sparkContext.hadoopConfiguration
    // an NDV pass needs the rows, so every missing file takes the scan
    // path (one column-pruned read — the price of a distinct sketch)
    val footered: Seq[(String, (Any, Any, Long))] = colType match {
      case Some(t) if !withNdv => missing.flatMap(e =>
        footerFileStats(hconf, new Path(table, e.rel), Seq((statsColP, t)))
          .getOrElse(Map.empty)
          .get(statsColP).map(s => e.rel -> s))
      case _ => Seq.empty
    }
    val footeredRels = footered.map(_._1).toSet
    val needScan = missing.filterNot(e => footeredRels(e.rel))
    val sideSchema = StructType(Seq(
      StructField("rel", org.apache.spark.sql.types.StringType),
      StructField("lo", colType.getOrElse(
        org.apache.spark.sql.types.NullType)),
      StructField("hi", colType.getOrElse(
        org.apache.spark.sql.types.NullType)),
      StructField("nulls", org.apache.spark.sql.types.LongType),
      StructField("hll", org.apache.spark.sql.types.BinaryType)))
    val footeredDf =
      if (footered.isEmpty) None
      else Some(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            footered.map { case (rel, (lo, hi, n)) =>
              org.apache.spark.sql.Row(rel, lo, hi,
                java.lang.Long.valueOf(n), null) }).asJava),
        sideSchema))
    val scanned =
      if (needScan.isEmpty) None
      else Some(snap.schema.fold(spark.read)(spark.read.schema)
        .parquet(needScan.map(e => s"$table/${e.rel}"): _*)
        // END-anchored at the writer's fixed depth (files/<uuid>/<bucket
        // partition>/<part file>): a table rooted under a directory that
        // itself contains a 'files' segment must not shadow the match, or
        // every refresh would re-profile all files and readWhere would
        // never prune — silently
        .select(DeletionVectors.manifestRel(needScan).as("rel"),
          col(s"`$statsColP`"))
        .groupBy(col("rel"))
        .agg(min(col(s"`$statsColP`")).as("lo"), max(col(s"`$statsColP`")).as("hi"),
          sum(col(s"`$statsColP`").isNull.cast("long")).as("nulls"),
          // per-file DISTINCT sketch (DataSketches HLL — mergeable, so
          // the table-level NDV folds driver-side with zero data I/O);
          // only an NDV pass pays for it, the zone-map refresh stays
          // footer-first
          (if (withNdv) hll_sketch_agg(col(s"`$statsColP`"))
           else lit(null).cast("binary")).as("hll")))
    val fresh: Option[org.apache.spark.sql.DataFrame] =
      (footeredDf, scanned) match {
        case (Some(f), Some(s)) => Some(f.unionByName(s))
        case (f, s) => f.orElse(s) // either side alone, or trim-only pass
      }
    // trim rows for files no longer live (compacted / vacuumed / deleted):
    // every stats consumer over-keeps on a missing rel, so dropping them
    // is safe — and without it the sidecar grows O(files EVER), not
    // O(files live), under steady compaction churn
    val all = ((existing, fresh) match {
      case (Some(old), Some(f)) =>
        // fresh rows win on duplicate rels (anti-join, deterministic):
        // an NDV pass upgrades a sketch-less row instead of losing to it
        f.unionByName(old.join(f.select("rel"), Seq("rel"), "left_anti"))
      case (Some(old), None) => old
      case (None, Some(f)) => f
      case (None, None) => return 0
    }).filter(udf((r: String) => liveSet(r)).apply(col("rel")))
    val tmp = new Path(logDir(table),
      s".stats-tmp-${java.util.UUID.randomUUID()}")
    all.coalesce(1).write.parquet(tmp.toString)
    swapSidecarParts(fs, sp, tmp, partsBefore)
    missing.size
  }

  /** The COMMITTED parquet parts of a sidecar directory. Dot- and
    * underscore-names are excluded to match what `spark.read.parquet`
    * will actually read: Spark silently filters hidden paths even when
    * passed explicitly, so listing them here would (a) delete a
    * concurrent [[writeSidecarPart]]'s still-hidden in-flight temp as if
    * it had been read, and (b) throw UNABLE_TO_INFER_SCHEMA when a
    * crashed append left ONLY hidden names behind. */
  private def listSidecarParts(fs: FileSystem, dir: Path): Seq[Path] =
    scala.util.Try(
      fs.listStatus(dir).map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }.toSeq)
      .getOrElse(Seq.empty)

  /** Publish a freshly written sidecar: move the new parquet part(s) from
    * `tmp` INTO the sidecar directory, then delete exactly `readParts` —
    * never the whole directory, so a part a concurrent refresh appended
    * mid-rewrite survives (readers between the append and the delete see
    * duplicate rels, which [[fileStatsCached]]'s preference dedup
    * handles). The old parts are deleted ONLY if every rename landed:
    * a failed rename leaves the previous sidecar intact (degraded — the
    * merge is lost and retried by the next ANALYZE — never destroyed).
    * Bootstrap (no existing directory) is a plain rename. */
  private def swapSidecarParts(fs: FileSystem, sp: Path, tmp: Path,
                               readParts: Seq[Path]): Unit = {
    if (!fs.exists(sp)) {
      if (!fs.rename(tmp, sp)) fs.delete(tmp, true)
      return
    }
    val renamesOk = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).forall { p =>
        fs.rename(p,
          new Path(sp, s"part-graft-${java.util.UUID.randomUUID()}.parquet"))
      }
    if (renamesOk) readParts.foreach(p => fs.delete(p, false))
    fs.delete(tmp, true)
    ()
  }

  private[graft] def cmpAny(a: Any, b: Any): Int = (a, b) match {
    // mixed numeric widths appear when a zone-map sidecar predates a
    // type widening (its lo/hi rows keep the narrow type while bounds
    // arrive wide): integral widths compare exactly in Long, float
    // widths in Double (each stored value's float→double extension is
    // exact), and integral-vs-floating goes through BigDecimal
    case (x: java.lang.Number, y: java.lang.Number)
        if a.getClass != b.getClass =>
      def integral(n: java.lang.Number) = n match {
        case _: java.lang.Byte | _: java.lang.Short |
             _: java.lang.Integer | _: java.lang.Long => true
        case _ => false
      }
      def floaty(n: java.lang.Number) = n match {
        case _: java.lang.Float | _: java.lang.Double => true
        case _ => false
      }
      if (integral(x) && integral(y))
        java.lang.Long.compare(x.longValue(), y.longValue())
      else if (floaty(x) && floaty(y))
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      else {
        // integral vs floating. The floating side can be non-finite
        // after an INT→DOUBLE widening (a zone-map bound may hold
        // ±Infinity/NaN) — BigDecimal cannot parse those, and a crash
        // here kills scan PLANNING. Order non-finite values the
        // Double.compare way (NaN above +Inf): any finite integral is
        // exact enough against ±Inf/NaN, and the worst case is an
        // over-kept file, never a wrong prune.
        def nonFinite(n: java.lang.Number) = floaty(n) && {
          val d = n.doubleValue()
          java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)
        }
        if (nonFinite(x) || nonFinite(y))
          java.lang.Double.compare(x.doubleValue(), y.doubleValue())
        else new java.math.BigDecimal(x.toString)
          .compareTo(new java.math.BigDecimal(y.toString))
      }
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  // --- bloom sidecars (per-file membership filters) ----------------------

  private[graft] def bloomPath(table: String, c: String) =
    new Path(logDir(table), s"bloom-$c.parquet")

  /** Sidecar columns of one family (`stats-` / `bloom-`) this table has
    * opted into. */
  private def sidecarColumns(fs: FileSystem, table: String,
                             prefix: String): Seq[String] =
    scala.util.Try {
      fs.listStatus(logDir(table)).map(_.getPath.getName)
        .filter(n => n.startsWith(prefix) && n.endsWith(".parquet"))
        .map(_.stripPrefix(prefix).stripSuffix(".parquet")).toSeq
    }.getOrElse(Seq.empty)

  /** The bloom-profiled columns this table has opted into. */
  private[graft] def bloomColumns(fs: FileSystem,
                                  table: String): Seq[String] =
    sidecarColumns(fs, table, "bloom-")

  /** Remove a column's bloom sidecar entirely (all parts). Sound at any
    * point: a missing bloom only disables membership pruning (over-keep).
    * Used by type widening, whose hash domain change POISONS the bits
    * (xxhash64 of an INT and a LONG differ) rather than staling them. */
  private[graft] def dropBloom(spark: SparkSession, table: String,
                               bloomColP: String): Unit = {
    fsFor(spark, table).delete(bloomPath(table, bloomColP), true)
    ()
  }

  /** Per-file bloom over xxhash64(value): map-side mergeable, serialized
    * with the sketch's own format so the driver probes the exact bits the
    * executors built. */
  private class BloomAgg(expected: Long, fpp: Double)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, org.apache.spark.util.sketch.BloomFilter,
        Array[Byte]] {
    override def zero: org.apache.spark.util.sketch.BloomFilter =
      org.apache.spark.util.sketch.BloomFilter.create(expected, fpp)
    override def reduce(b: org.apache.spark.util.sketch.BloomFilter,
                        h: java.lang.Long) = {
      if (h != null) b.putLong(h.longValue()); b
    }
    override def merge(a: org.apache.spark.util.sketch.BloomFilter,
                       b: org.apache.spark.util.sketch.BloomFilter) = {
      a.mergeInPlace(b); a
    }
    override def finish(b: org.apache.spark.util.sketch.BloomFilter)
        : Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def bufferEncoder =
      org.apache.spark.sql.Encoders
        .kryo[org.apache.spark.util.sketch.BloomFilter]
    override def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Build or incrementally refresh the per-file BLOOM sidecar for
    * `bloomCol` — membership pruning for the equality/IN probes the other
    * two skipping structures cannot serve: the bucket identity answers
    * point lookups on the LAYOUT key exactly, zone maps answer ranges on
    * CLUSTERED columns, and blooms answer `col = v` on high-cardinality,
    * UNCLUSTERED columns (document ids, URLs, foreign keys) by recording
    * each file's value set probabilistically. One scan over files not yet
    * profiled; a false positive only ever OVER-keeps a file. Values hash
    * through the writers' own xxhash64 domain, so driver-side membership
    * and executor-side bits can never disagree; null values are skipped
    * (an equality probe is never null). Returns files newly profiled. */
  def computeBloom(spark: SparkSession, table: String, bloomCol: String,
                   fpp: Double = 0.01): Int = {
    val snap = snapshot(spark, table)
    // keyed by PHYSICAL name, like the zone-map sidecars: a RENAME never
    // orphans a bloom profile
    val bloomColP = snap.physicalName(bloomCol)
    val fs = fsFor(spark, table)
    val sp = bloomPath(table, bloomColP)
    val partsBefore: Seq[Path] = listSidecarParts(fs, sp)
    val existing =
      if (partsBefore.isEmpty) None
      else Some(spark.read.parquet(partsBefore.map(_.toString): _*))
    val known: Set[String] = existing
      .map(_.select("rel").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val liveSet = snap.entries.map(_.rel).toSet
    val missing = snap.entries.filterNot(e => known(e.rel))
    // multi-part fold mirrors computeStats: racing builds / a crashed
    // swap leave >1 part (duplicate rels), and blooms are the HEAVY
    // sidecar — without the fold every future cache miss reads and
    // deserializes all parts forever
    val stale = known.exists(r => !liveSet(r)) || partsBefore.size > 1
    if (missing.isEmpty && !stale) return 0
    // size each file's filter for the largest file in the batch (manifest
    // row counts when recorded); oversizing only costs bits
    val perFile = missing.flatMap(_.rows)
      .reduceOption(_ max _).getOrElse(200000L).max(1024L)
    val bloomUdaf = udaf(new BloomAgg(perFile, fpp),
      org.apache.spark.sql.Encoders.LONG)
    // files whose column is entirely null still get a row — an EMPTY
    // bloom: an equality probe can never match a null, so such files
    // prune exactly, and without the row they would count as missing and
    // be re-scanned by every future refresh (the schema-evolution case:
    // every pre-evolution file reads the new column as all-null)
    val emptyBloom: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(1024, fpp).writeTo(bos)
      bos.toByteArray
    }
    val fresh =
      if (missing.isEmpty) None
      else {
        val agged = snap.schema.fold(spark.read)(spark.read.schema)
          .parquet(missing.map(e => s"$table/${e.rel}"): _*)
          .where(col(s"`$bloomColP`").isNotNull)
          .select(DeletionVectors.manifestRel(missing).as("rel"),
            xxhash64(col(s"`$bloomColP`")).as("h"))
          .groupBy(col("rel"))
          .agg(bloomUdaf(col("h")).as("bloom"))
        val missingDf = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              missing.map(e => org.apache.spark.sql.Row(e.rel))).asJava),
          StructType(Seq(StructField("rel",
            org.apache.spark.sql.types.StringType))))
        Some(missingDf.join(agged, Seq("rel"), "left")
          .select(col("rel"),
            coalesce(col("bloom"), lit(emptyBloom)).as("bloom")))
      }
    val all = ((existing, fresh) match {
      case (Some(o), Some(f)) =>
        o.select(col("rel"), col("bloom")).unionByName(f)
          .dropDuplicates(Seq("rel"))
      case (Some(o), None) => o.select(col("rel"), col("bloom"))
      case (None, Some(f)) => f
      case (None, None) => return 0
    }).filter(udf((r: String) => liveSet(r)).apply(col("rel")))
    val tmp = new Path(logDir(table),
      s".bloom-tmp-${java.util.UUID.randomUUID()}")
    all.coalesce(1).write.parquet(tmp.toString)
    swapSidecarParts(fs, sp, tmp, partsBefore)
    missing.size
  }

  /** BOUNDED: blooms are the heavyweight sidecar (hundreds of KB per
    * file at default sizing), so only a few (table, column) sidecars stay
    * resident — inserting past the cap evicts one arbitrary resident
    * entry (hits never evict, so a steady mix of cap+1 sidecars keeps a
    * ~cap/(cap+1) hit rate instead of thrashing to zero). */
  private val MaxBloomSidecarsCached = 4
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Map[String, org.apache.spark.util.sketch.BloomFilter])]()

  /** Per-file deserialized blooms for `c` — empty when never profiled;
    * cached by the sidecar's modification time. */
  private[graft] def fileBlooms(spark: SparkSession, table: String,
                                c: String)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val fs = fsFor(spark, table)
    val sp = bloomPath(table, c)
    if (!fs.exists(sp)) return Map.empty
    val mtime = fs.getFileStatus(sp).getModificationTime
    val key = sp.toString
    val cached = bloomCache.get(key)
    if (cached != null && cached._1 == mtime) cached._2
    else {
      val m = spark.read.parquet(sp.toString)
        .select(col("rel"), col("bloom")).collect()
        .map(r => r.getString(0) ->
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            r.getAs[Array[Byte]](1))).toMap
      if (!bloomCache.containsKey(key)) {
        while (bloomCache.size() >= MaxBloomSidecarsCached) {
          val it = bloomCache.keys()
          if (it.hasMoreElements) bloomCache.remove(it.nextElement())
        }
      }
      bloomCache.put(key, (mtime, m))
      m
    }
  }

  /** The sidecar columns this table has opted into (one `stats-<c>`
    * directory per ANALYZEd column under the log). */
  private[graft] def statsColumns(fs: FileSystem,
                                  table: String): Seq[String] =
    sidecarColumns(fs, table, "stats-")

  /** A sidecar "file" is a parquet DIRECTORY: [[computeStats]] writes it
    * as one part; per-commit refreshes APPEND one small part with only
    * the new files' rows (driver-side parquet writer — no Spark job, no
    * O(live files) rewrite), and once the part count passes this cap the
    * refresh compacts the directory back to one part (also dropping rows
    * for dead files). Commit cost therefore stays amortized O(changed
    * files), not O(table). */
  private val MaxSidecarParts = 64

  /** One part-file append into a sidecar directory, reader-safe: written
    * under a dot-name (hidden from parquet readers) then renamed. False =
    * the rename failed and the rows were NOT recorded (callers must not
    * count them as profiled). */
  private def writeSidecarPart(spark: SparkSession, fs: FileSystem,
                               dir: Path, dt: DataType,
                               rows: Seq[(String, (Any, Any, Long))],
                               hll: Map[String, Array[Byte]] = Map.empty)
      : Boolean = {
    // every part carries the hll column (null for footer-harvested rows)
    // so the sidecar directory's schema is uniform and an NDV ANALYZE's
    // sketches survive refresh compactions instead of silently dropping
    val sideSchema = StructType(Seq(
      StructField("rel", org.apache.spark.sql.types.StringType),
      StructField("lo", dt), StructField("hi", dt),
      StructField("nulls", org.apache.spark.sql.types.LongType),
      StructField("hll", org.apache.spark.sql.types.BinaryType)))
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(sideSchema)
    val name = s"part-graft-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, s".$name")
    val w = org.apache.spark.sql.execution.datasources.v2.parquet
      .GraftParquetShim.rowParquetWriter(tmp.toString, sideSchema,
        org.apache.spark.sql.execution.datasources.v2.parquet
          .GraftParquetShim.writeHadoopConf(spark))
    try rows.foreach { case (rel, (lo, hi, n)) =>
      w.write(conv(org.apache.spark.sql.Row(rel, lo, hi,
        java.lang.Long.valueOf(n), hll.get(rel).orNull))
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    } finally w.close()
    fs.rename(tmp, new Path(dir, name)) || { fs.delete(tmp, false); false }
  }

  /** Keep profiled sidecars FRESH without reading data: harvest per-file
    * (lo, hi, nulls) from parquet FOOTER metadata for live files the
    * sidecar doesn't know yet. Footers already carry exact column
    * statistics — truncated binary bounds stay valid OUTER bounds per the
    * parquet spec, so every consumer's conservative contract (pruning
    * over-keeps, coverage degrades Full→Partial) holds; see
    * [[footerFileStats]] for the NaN and all-null refusals. Runs after
    * every committing write (see [[commitNext]]), which closes the
    * staleness window that would otherwise open between ANALYZE runs for
    * TopN pushdown, metadata DELETE, REPLACE WHERE routing, and file
    * skipping. Each new file's footer is opened ONCE for all profiled
    * columns; the refresh APPENDS one small part per column (no Spark
    * job) and compacts past [[MaxSidecarParts]] — also the moment dead
    * files' rows are trimmed. Rows without null counts (pre-null-count
    * sidecars) are treated as MISSING so the upgrade actually happens: a
    * file whose footer refuses stays absent and falls to the scan-based
    * [[computeStats]]. Best-effort by contract: any failure leaves the
    * sidecar as it was. Returns files newly profiled across sidecars. */
  def refreshStatsFromFooters(spark: SparkSession, table: String): Int = {
    val fs = fsFor(spark, table)
    val cols = statsColumns(fs, table)
    if (cols.isEmpty) return 0
    val snap = snapshot(spark, table)
    if (snap.schema.isEmpty) return 0
    val schema = snap.schema.get
    val liveRels = snap.entries.map(_.rel).toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    val typed = cols.flatMap(c =>
      schema.fields.find(_.name == c).map(f => (c, f.dataType)))
    // part listing BEFORE the sidecar read: compaction later deletes
    // exactly this set, so any part appended after this point survives
    // (its rows are either already in the read below — duplicate, deduped
    // by fileStatsCached — or untouched on disk)
    val partsBefore: Map[String, Seq[Path]] = typed.map { case (c, _) =>
      c -> listSidecarParts(fs, statsPath(table, c))
    }.toMap
    // rows WITH null counts are usable; anything else (absent, or written
    // before the null-count column) counts as missing and re-harvests
    val usable: Map[String, Map[String, (Any, Any, Option[Long])]] =
      typed.map { case (c, _) =>
        c -> fileStatsRaw(spark, table, c)
          .filter { case (_, (_, _, n)) => n.isDefined }
      }.toMap
    val hadUnusable: Map[String, Boolean] = typed.map { case (c, _) =>
      c -> fileStatsRaw(spark, table, c).exists(_._2._3.isEmpty)
    }.toMap
    // ONE footer open per file, harvesting every column that needs it —
    // except files this session already saw refuse (NaN-poisoned,
    // unmappable type, column absent): without the memo every commit
    // would re-open those footers forever, degrading commit cost from
    // O(new) to O(new + permanently-refused)
    val harvested = scala.collection.mutable.Map
      .empty[String, List[(String, (Any, Any, Long))]]
    snap.entries.foreach { e =>
      val needs = typed.filter { case (c, _) =>
        !usable(c).contains(e.rel) &&
          !footerRefusals.containsKey(s"$table/${e.rel}#$c")
      }
      if (needs.nonEmpty) {
        footerFileStats(hconf, new Path(table, e.rel), needs) match {
          case None => // footer unopenable (possibly transient I/O):
          // no harvest this round, and NO memo — the next commit's
          // refresh retries instead of freezing the file out forever
          case Some(got) => needs.foreach { case (c, _) =>
            got.get(c) match {
              case Some(s) =>
                harvested(c) = (e.rel -> s) :: harvested.getOrElse(c, Nil)
              case None =>
                // the footer PARSED and provably refused this column
                // (NaN-poisoned, unmappable type, column absent) —
                // permanent for this file's bytes, safe to memoize
                if (footerRefusals.size() > 100000) footerRefusals.clear()
                footerRefusals.put(s"$table/${e.rel}#$c",
                  java.lang.Boolean.TRUE)
            }
          }
        }
      }
    }
    var touched = 0
    typed.foreach { case (c, dt) =>
      val newRows = harvested.getOrElse(c, Nil)
      val sp = statsPath(table, c)
      val partsNow = partsBefore(c)
      val mustCompact = hadUnusable(c) || partsNow.size > MaxSidecarParts
      if (newRows.nonEmpty && !mustCompact) {
        if (writeSidecarPart(spark, fs, sp, dt, newRows))
          touched += newRows.size
      } else if (newRows.nonEmpty || mustCompact) {
        // compaction: one fresh part = live usable rows + new harvest
        // (dead files' rows and null-count-less rows drop), appended
        // FIRST, then only the parts read above deleted — readers in the
        // window see duplicates, which fileStatsCached dedupes. Kept
        // rows CARRY their NDV sketches through the rewrite.
        val keep = usable(c).toSeq.collect {
          case (rel, (lo, hi, Some(n))) if liveRels(rel) =>
            rel -> ((lo, hi, n))
        }
        if (writeSidecarPart(spark, fs, sp, dt, keep ++ newRows,
            hll = fileHll(spark, table, c))) {
          partsNow.foreach(p => fs.delete(p, false))
          touched += newRows.size
        }
      }
    }
    touched
  }

  /** Files whose footer refused a column's harvest this session — a
    * bounded memo so per-commit refreshes stop re-opening footers that
    * can never map; the scan-based [[computeStats]] remains their path
    * into the sidecar (and landing there removes them from every future
    * `needs` set regardless of this memo). */
  private val footerRefusals =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Exact (lo, hi, nulls) per requested top-level column of one parquet
    * file from its FOOTER row-group statistics — the footer is opened
    * ONCE for all columns. A column is absent from the result whenever
    * anything is not cleanly provable: missing/unset statistics, an
    * unmappable physical type, NaN float/double bounds, or a chunk
    * claiming "no non-null values" that its row count does not
    * corroborate (the parquet-mr NaN-drop case). Callers never record a
    * guessed bound. `None` means the footer could not be OPENED at all
    * (transient I/O is indistinguishable from permanent corruption here)
    * — callers must treat that as "retry later", never memoize it as a
    * permanent refusal. */
  private def footerFileStats(
      conf: org.apache.hadoop.conf.Configuration, file: Path,
      cols: Seq[(String, DataType)])
      : Option[Map[String, (Any, Any, Long)]] = {
    import org.apache.spark.sql.types._
    scala.util.Try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        import scala.jdk.CollectionConverters._
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        cols.flatMap { case (column, dt) =>
        var nulls = 0L
        var lo: Any = null
        var hi: Any = null
        var ok = true
        blocks.foreach { b =>
          if (ok) {
            b.getColumns.asScala.find(_.getPath.toDotString == column) match {
              case None => ok = false
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null || st.getNumNulls < 0) ok = false
                else {
                  nulls += st.getNumNulls
                  if (!st.hasNonNullValue) {
                    // "no non-null values" must be corroborated by the
                    // block's own row count: parquet-mr DROPS float/double
                    // min/max (clearing hasNonNullValue, keeping
                    // null_count) whenever a chunk contains NaN — trusting
                    // the flag alone would record a data-full file as
                    // all-null and let Full/Zero coverage decisions
                    // silently destroy or resurrect its rows
                    if (st.getNumNulls != b.getRowCount) ok = false
                  } else {
                    val conv: Option[(Any, Any)] = (dt, st) match {
                      case (LongType, s: org.apache.parquet.column.statistics
                          .LongStatistics) =>
                        Some((java.lang.Long.valueOf(s.getMin),
                          java.lang.Long.valueOf(s.getMax)))
                      case (IntegerType, s: org.apache.parquet.column
                          .statistics.IntStatistics) =>
                        Some((java.lang.Integer.valueOf(s.getMin),
                          java.lang.Integer.valueOf(s.getMax)))
                      case (DoubleType, s: org.apache.parquet.column
                          .statistics.DoubleStatistics)
                          if !s.getMin.isNaN && !s.getMax.isNaN =>
                        Some((java.lang.Double.valueOf(s.getMin),
                          java.lang.Double.valueOf(s.getMax)))
                      case (FloatType, s: org.apache.parquet.column
                          .statistics.FloatStatistics)
                          if !s.getMin.isNaN && !s.getMax.isNaN =>
                        Some((java.lang.Float.valueOf(s.getMin),
                          java.lang.Float.valueOf(s.getMax)))
                      case (StringType, s: org.apache.parquet.column
                          .statistics.BinaryStatistics) =>
                        Some((s.genericGetMin.toStringUsingUTF8,
                          s.genericGetMax.toStringUsingUTF8))
                      case (DateType, s: org.apache.parquet.column
                          .statistics.IntStatistics) =>
                        Some((java.sql.Date.valueOf(
                          java.time.LocalDate.ofEpochDay(s.getMin.toLong)),
                          java.sql.Date.valueOf(
                            java.time.LocalDate.ofEpochDay(s.getMax.toLong))))
                      case (TimestampType, s: org.apache.parquet.column
                          .statistics.LongStatistics)
                          if cc.getPrimitiveType.getLogicalTypeAnnotation
                            .isInstanceOf[org.apache.parquet.schema
                              .LogicalTypeAnnotation
                              .TimestampLogicalTypeAnnotation] =>
                        val unit = cc.getPrimitiveType
                          .getLogicalTypeAnnotation
                          .asInstanceOf[org.apache.parquet.schema
                            .LogicalTypeAnnotation
                            .TimestampLogicalTypeAnnotation].getUnit
                        def toTs(v: Long): java.sql.Timestamp = {
                          val micros = unit match {
                            case org.apache.parquet.schema
                              .LogicalTypeAnnotation.TimeUnit.MILLIS =>
                              Math.multiplyExact(v, 1000L)
                            case org.apache.parquet.schema
                              .LogicalTypeAnnotation.TimeUnit.MICROS => v
                            case _ => throw new IllegalArgumentException
                          }
                          val ts = new java.sql.Timestamp(
                            Math.floorDiv(micros, 1000000L) * 1000L)
                          ts.setNanos(
                            (Math.floorMod(micros, 1000000L) * 1000L).toInt)
                          ts
                        }
                        Some((toTs(s.getMin), toTs(s.getMax)))
                      case _ => None
                    }
                    conv match {
                      case None => ok = false
                      case Some((l, h)) =>
                        if (lo == null || cmpAny(l, lo) < 0) lo = l
                        if (hi == null || cmpAny(h, hi) > 0) hi = h
                    }
                  }
                }
            }
          }
        }
        if (ok) Some(column -> ((lo, hi, nulls))) else None
        }.toMap
      } finally r.close()
    }.toOption
  }

  /** Per-file (lo, hi) sidecar map for `c` — empty when the column was
    * never profiled. Cached by the sidecar's modification time, so
    * per-query callers (the [[graft.plans.TxTablePruneRule]] SQL path
    * runs once per optimization) re-read the tiny parquet only after a
    * [[computeStats]] refresh. */
  // Size-bounded LRU (same shape as DeletionVectors' bitmap cache): one
  // entry per (table, column) sidecar, but a long-lived session touching
  // many tables/columns must not grow the driver heap without bound —
  // past the cap the eldest entry alone evicts and re-reads on next use.
  private def lruCache[V](cap: Int): java.util.Map[String, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, V]): Boolean = size() > cap
      })

  private val statsCache = lruCache[
    (Long, Map[String, (Any, Any, Option[Long])],
      Map[String, (Any, Any)])](1024)

  private val hllCache = lruCache[(Long, Map[String, Array[Byte]])](1024)

  /** Modification time of column `c`'s stats sidecar, -1 when absent —
    * the staleness token the catalog's NDV memo keys ride. An ANALYZE
    * rewrites the sidecar WITHOUT a table commit (dataChange=false,
    * version unchanged), so any memo keyed by snapshot version alone
    * would pin a pre-ANALYZE miss forever. */
  private[graft] def statsMtime(spark: SparkSession, table: String,
                                c: String): Long = {
    val fs = fsFor(spark, table)
    val sp = statsPath(table, c)
    if (!fs.exists(sp)) -1L else fs.getFileStatus(sp).getModificationTime
  }

  /** True when column `c` has a bloom sidecar — the distributed-planning
    * presence probe (one filesystem stat, no sidecar read). */
  private[graft] def bloomExists(spark: SparkSession, table: String,
                                 c: String): Boolean =
    fsFor(spark, table).exists(bloomPath(table, c))

  /** Per-file DISTINCT sketches of an NDV-ANALYZEd column (DataSketches
    * HLL bytes, mergeable) — empty for columns profiled footer-only.
    * Cached by sidecar mtime like [[fileStats]]. */
  private[graft] def fileHll(spark: SparkSession, table: String,
                             c: String): Map[String, Array[Byte]] = {
    val fs = fsFor(spark, table)
    val sp = statsPath(table, c)
    if (!fs.exists(sp)) return Map.empty
    val mtime = fs.getFileStatus(sp).getModificationTime
    val key = sp.toString
    val cached = hllCache.get(key)
    if (cached != null && cached._1 == mtime) cached._2
    else {
      val df = spark.read.parquet(sp.toString)
      val m: Map[String, Array[Byte]] =
        if (!df.schema.fieldNames.contains("hll")) Map.empty
        else df.select(col("rel"), col("hll"))
          .filter(col("hll").isNotNull).collect()
          .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      hllCache.put(key, (mtime, m))
      m
    }
  }

  private def fileStatsRaw(spark: SparkSession, table: String,
                           c: String): Map[String, (Any, Any, Option[Long])] =
    fileStatsCached(spark, table, c)._1

  /** Both shapes of the sidecar map, cached together so the hot per-query
    * pruning path ([[fileStats]]) never re-materializes an O(files)
    * projection per call. */
  private def fileStatsCached(spark: SparkSession, table: String, c: String)
      : (Map[String, (Any, Any, Option[Long])], Map[String, (Any, Any)]) = {
    val fs = fsFor(spark, table)
    val sp = statsPath(table, c)
    if (!fs.exists(sp)) return (Map.empty, Map.empty)
    val mtime = fs.getFileStatus(sp).getModificationTime
    val key = sp.toString
    val cached = statsCache.get(key)
    if (cached != null && cached._1 == mtime) (cached._2, cached._3)
    else {
      val df = spark.read.parquet(sp.toString)
      val hasNulls = df.schema.fieldNames.contains("nulls")
      val m =
        if (hasNulls)
          df.select(col("rel"), col("lo"), col("hi"), col("nulls")).collect()
            .map(r => r.getString(0) ->
              ((r.get(1), r.get(2),
                if (r.isNullAt(3)) None else Some(r.getLong(3)))))
        else // pre-null-count sidecar: ranges usable, null counts unknown
          df.select(col("rel"), col("lo"), col("hi")).collect()
            .map(r => r.getString(0) ->
              ((r.get(1), r.get(2), None: Option[Long])))
      // a rel can appear in more than one part (racing refresh appends,
      // pre-upgrade rows next to harvested ones): prefer the row that
      // carries a null count; duplicates with counts are identical by
      // construction (immutable files, deterministic footers)
      val raw = m.foldLeft(Map.empty[String, (Any, Any, Option[Long])]) {
        case (acc, (rel, v)) => acc.get(rel) match {
          case Some((_, _, Some(_))) => acc
          case _ => acc + (rel -> v)
        }
      }
      val proj = raw.map { case (k, (lo, hi, _)) => k -> ((lo, hi)) }
      statsCache.put(key, (mtime, raw, proj))
      (raw, proj)
    }
  }

  private[graft] def fileStats(spark: SparkSession, table: String,
                               c: String): Map[String, (Any, Any)] =
    fileStatsCached(spark, table, c)._2

  /** Per-file (lo, hi, nullCount) — null counts present only for sidecars
    * refreshed since the column was added (callers must refuse, not
    * guess, on None). */
  private[graft] def fileStatsWithNulls(
      spark: SparkSession, table: String,
      c: String): Map[String, (Any, Any, Option[Long])] =
    fileStatsRaw(spark, table, c)

  /** Newest snapshot, cached by version number — for per-query callers
    * (the optimizer rule) that must not pay manifest resolution on every
    * optimization pass. One directory listing per call; manifests re-read
    * only when a new commit landed. */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Snapshot)]()

  private[graft] def cachedSnapshot(spark: SparkSession,
                                    table: String): Snapshot = {
    val vs = listVersions(fsFor(spark, table), table)
    require(vs.nonEmpty, s"$table is not a TxTable (no committed manifest)")
    val v = vs.max
    val c = snapCache.get(table)
    if (c != null && c._1 == v) c._2
    else {
      // shard-backed entries assemble executor-side here too: the
      // optimizer rule traverses them on every match, and the cache
      // amortizes the one distributed parse across all plans at this
      // version (zero driver shard walks from plan time)
      val s = primeEntries(spark, snapshot(spark, table, Some(v)))
      snapCache.put(table, (v, s))
      s
    }
  }

  /** Register the table's resolved snapshot as a temp view for SQL-only
    * callers. With [[graft.functions.GraftExtensions]] loaded, range
    * predicates over profiled columns reach the zone-map sidecars through
    * [[graft.plans.TxTablePruneRule]], so `spark.sql` readers get the
    * same file skipping as [[readWhere]]/[[readWhereAll]] without any
    * Scala API. */
  def registerView(spark: SparkSession, table: String, name: String,
                   version: Option[Long] = None): Unit =
    read(spark, table, version).createOrReplaceTempView(name)

  /** Range read with zone-map file skipping: rows where `statsCol` lies in
    * [lo, hi], opening ONLY files whose sidecar (min, max) overlaps the
    * bound — plus any file the sidecar doesn't know (never prune blind).
    * `lo`/`hi` must match the column's external type (e.g. `java.lang.Long`
    * for a BIGINT, `java.sql.Timestamp` for a TIMESTAMP). The exact
    * predicate is applied on top, so skipping is transparent: same rows as
    * `read(...).filter(between)`, less I/O when the layout clusters. */
  def readWhere(spark: SparkSession, table: String, statsCol: String,
                lo: Any, hi: Any, version: Option[Long] = None): DataFrame =
    readWhereAll(spark, table, Seq((statsCol, lo, hi)), version)

  /** [[readWhere]] over a CONJUNCTION of range predicates: a file is
    * opened only when its sidecar (min, max) overlaps EVERY bound — the
    * multi-column zone-map read (Delta keeps per-file stats for 32
    * columns; here each profiled column has its own sidecar, so adding a
    * second column never re-profiles the first). A column without a
    * sidecar simply doesn't prune (its predicate still applies), so
    * degradation is extra I/O, never wrong rows. */
  def readWhereAll(spark: SparkSession, table: String,
                   bounds: Seq[(String, Any, Any)],
                   version: Option[Long] = None): DataFrame = {
    require(bounds.nonEmpty, "readWhereAll needs at least one bound")
    val snap = snapshot(spark, table, version)
    // callers speak LOGICAL names; sidecars and file bytes are keyed by
    // PHYSICAL names (which is why a rename never invalidates a sidecar)
    val physBounds = bounds.map { case (c, lo, hi) =>
      (snap.physicalName(c), lo, hi) }
    primeEntries(spark, snap)
    val (kept, _) = TxFilePlanner.plan(spark, table, snap,
      TxFilePlanner.Probe(physBounds.map { case (c, lo, hi) =>
        TxFilePlanner.Range(c, Some((lo, false)), Some((hi, false)))
      }, Nil))
    val pred = physBounds.map { case (c, lo, hi) =>
      col(s"`$c`") >= lit(lo) && col(s"`$c`") <= lit(hi) }.reduce(_ && _)
    if (kept.isEmpty) read(spark, table, version).filter(lit(false))
    else fromPhysical(
      liveRows(spark, table, snap, kept, snap.schema).filter(pred), snap)
  }

  /** Widen `base` with fields `incoming` adds; a field present in both
    * must keep its exact type — a silent type change would corrupt every
    * pre-evolution file's reads, so it throws instead (schema
    * ENFORCEMENT, the flip side of schema evolution). Field order: base
    * first, additions after, everything nullable (old files lack new
    * fields; new files may lack old ones). */
  /** Union schema evolution, minus tombstones: `dropped` names never
    * re-enter the schema through a writer whose batch still carries them
    * (the batch's bytes for those columns land in files but stay
    * unprojected) — otherwise any pre-DROP writer would silently revert
    * an `ALTER TABLE DROP COLUMN` and resurrect the old files' stored
    * values. */
  /** Value-preserving type widenings a TxTable accepts as METADATA-ONLY
    * `ALTER COLUMN … TYPE` commits (the public Delta type-widening
    * feature set, bounded by what Spark's vectorized parquet reader
    * promotes natively — IntegerToLongUpdater, FloatToDoubleUpdater,
    * IntegerToDoubleUpdater, the decimal updaters): old narrow files are
    * read through the widened requested schema with zero rewrites.
    * Narrowing, integral→float of lossy width (BIGINT→DOUBLE), and
    * anything string/temporal refuses — stored values must re-read
    * EXACTLY. */
  private[graft] def canWiden(from: org.apache.spark.sql.types.DataType,
                              to: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (f, t) if f == t => false // a no-op is not a widening
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      // every INT value is exact in DOUBLE (53-bit mantissa); LONG is not
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** A write schema neutralized for use as a merge BASE when the log
    * records none: a DataFrame's incidental non-nullability (literals,
    * inner-join outputs) must not be promoted into a recorded NOT NULL
    * constraint — only the validated `ALTER COLUMN … SET NOT NULL` path
    * may record one. */
  private[graft] def allNullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private[graft] def mergeSchemas(base: StructType,
                                  incoming: StructType,
                                  dropped: Set[String] = Set.empty)
      : StructType = {
    val byName = base.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { ex =>
        require(ex.dataType == f.dataType,
          s"schema enforcement: column '${f.name}' is ${ex.dataType.sql} " +
            s"but incoming batch has ${f.dataType.sql}")
      }
    }
    // tombstones match CASE-INSENSITIVELY: Spark's default resolver and
    // the parquet reader both fold case, so a batch carrying 'Note'
    // against a {'note'} tombstone would otherwise resurrect the bytes
    val droppedLower = dropped.map(_.toLowerCase)
    val additions = incoming.fields.filterNot(f =>
      byName.contains(f.name) || droppedLower.contains(f.name.toLowerCase))
    // copy (not reconstruct) so column METADATA survives the merge —
    // DEFAULT values live there, and a data commit stripping them would
    // silently turn "DEFAULT 7" into NULL for every pre-existing file.
    // Base fields keep their RECORDED nullability: a SET NOT NULL must
    // survive the next data commit (forcing nullable here would let the
    // very next successful append silently revert the validated
    // constraint). Only NEW columns are forced nullable — files committed
    // before the column existed read NULL there by construction.
    StructType(base.fields ++ additions.map(_.copy(nullable = true)))
  }

  /** Live data files whose parquet FOOTER still carries a column of the
    * given name — the check gating re-ADD of a tombstoned column (bytes
    * still on disk would resurrect as the "new" column's values, or brick
    * reads on a type mismatch). O(live files) driver footer reads, DDL-
    * time only — the same cost class as footer-first ANALYZE. An
    * unreadable footer counts as carrying the name (refusal over
    * resurrection). */
  /** Past this many live files the tombstone-carrier probe fans out as a
    * Spark job instead of reading footers on the driver: the no-carrier
    * case (the common one for a long-tombstoned name) otherwise reads
    * EVERY footer sequentially — at 10⁸ files that is a driver stall on
    * a rare DDL. Same distribution threshold philosophy as vacuum's
    * `distributeDeletesAt`. */
  private[graft] val distributeCarrierCheckAt = 64

  private[graft] def liveFilesCarrying(spark: SparkSession, table: String,
                                       snap: Snapshot, name: String)
      : Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // CASE-INSENSITIVE field match (Spark's reader folds case when
    // resolving requested columns against file schemas) and short-
    // circuit on the first carrier — the guard needs existence, not a
    // count
    def carries(rel: String,
                c: org.apache.hadoop.conf.Configuration): Boolean =
      scala.util.Try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(s"$table/$rel"), c))
        try {
          import scala.jdk.CollectionConverters._
          r.getFooter.getFileMetaData.getSchema.getFields.asScala
            .exists(_.getName.equalsIgnoreCase(name))
        } finally r.close()
      }.getOrElse(true)
    if (snap.entries.size <= distributeCarrierCheckAt)
      snap.entries.find(e => carries(e.rel, conf)).map(_.rel)
    else {
      // distributed probe: executors open the footers; RDD take(1)'s
      // incremental job scheduling keeps the early-exit behavior (a
      // carrier in the first partitions stops the sweep)
      val ser = new org.apache.spark.util.SerializableConfiguration(conf)
      val rels = snap.entries.map(_.rel)
      spark.sparkContext.parallelize(rels,
          math.min(rels.size, 256))
        .filter(rel => carries(rel, ser.value))
        .take(1).headOption
    }
  }

  /** The schema a new commit should record: the current snapshot's schema
    * (inferred from data files for pre-evolution v1 manifests) widened by
    * the incoming batch's fields. */
  private def evolvedSchema(spark: SparkSession, table: String,
                            snap: Snapshot, incoming: StructType): StructType = {
    val base = snap.schema.getOrElse {
      allNullable(if (snap.entries.isEmpty) incoming
      else spark.read.parquet(snap.absFiles(table): _*).schema)
    }
    mergeSchemas(base, incoming, snap.dropped)
  }

  /** Align `df` to `target`: missing columns become typed nulls, order
    * follows `target` (parquet readers match by name, but a stable layout
    * keeps staged files uniform). */
  private def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Land `df` as new immutable data files (one directory per call, one
    * file set per bucket) WITHOUT publishing them; returns the entries a
    * commit may reference. Crash after this = invisible orphans.
    *
    * The one-file-set-per-bucket layout comes from a partitionBy on a
    * DUPLICATE of the bucket column, then de-`k=v`-ing the directory names
    * (`__pb=N` → `bucket-N`): partitionBy would strip the real column from
    * the files, and `k=v` parents from different staging roots trip
    * Spark's CONFLICTING_DIRECTORY_STRUCTURES check on any multi-commit
    * read. This way the bucket survives as an ordinary column and no read
    * ever depends on directory-name inference. */
  private def stageFiles(spark: SparkSession, table: String,
                         tagged: DataFrame,
                         maxRecordsPerFile: Long = 0L,
                         snapHint: Option[Snapshot] = None)
      : Seq[FileEntry] = {
    val rel = s"files/${java.util.UUID.randomUUID()}"
    val root = new Path(table, rel)
    // hidden partitioning: when the table declares a transform, derive
    // each row's partition segment texts and split staged files by them —
    // nested `part-<v0>/[part2-<v1>/…]` segments ABOVE the bucket
    // segment, under a `spec-<sid>/` level when the HEAD spec is a
    // post-evolution generation (sid > 0) so readers reconstruct each
    // file's envelopes under the spec that placed it. Reading the head
    // spec from the current snapshot can race a concurrent ALTER
    // evolution, harmlessly: history is APPEND-ONLY, so files stamped
    // with the pre-evolution sid stay exactly interpretable forever —
    // they just belong to the older generation. Staging for a
    // not-yet-committed table (init) has no props and stays
    // unpartitioned. Hyphen (not `=`) directory names keep Spark's
    // path-based partition inference off, same as bucket-N.
    // the caller's already-resolved snapshot (snapHint) saves one log
    // walk per staging on hot write paths (streaming sinks commit every
    // trigger); resolution races an ALTER evolution harmlessly either
    // way — history is append-only, files stay interpretable under the
    // sid that placed them
    val tr: Option[(PartitionTransforms.Spec, Int)] =
      snapHint.orElse(scala.util.Try(snapshot(spark, table)).toOption)
        .flatMap(s => PartitionTransforms.of(s.props)
          .map(sp => (sp, PartitionTransforms.headSid(s.props))))
    val withPart = tr match {
      case Some((spec, _)) =>
        spec.fields.zipWithIndex.foldLeft(tagged) { case (df, (f, i)) =>
          val dt = df.schema.fields.find(_.name == f.column)
            .map(_.dataType).getOrElse(throw new IllegalArgumentException(
              s"$table: batch omits the hidden-partition source column " +
                s"'${f.column}' (${f.render}) — partition placement " +
                "would be undefined"))
          df.withColumn(s"__pp$i", PartitionTransforms.segTextExpr(f, dt))
        }
      case None => tagged
    }
    val writer = withPart.withColumn("__pb", col(LayoutOps.BucketCol)).write
    val writer2 = if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer
    val writeRoot = tr match {
      case Some((_, sid)) if sid > 0 => s"$table/$rel/spec-$sid"
      case _ => s"$table/$rel"
    }
    val ppCols = tr.fold(Seq.empty[String])(_._1.fields.indices
      .map(i => s"__pp$i"))
    writer2.partitionBy((ppCols :+ "__pb"): _*).parquet(writeRoot)
    val fs = fsFor(spark, table)
    def renameBuckets(dir: Path): Unit =
      fs.listStatus(dir).filter(_.getPath.getName.startsWith("__pb="))
        .foreach { st =>
          val b = st.getPath.getName.stripPrefix("__pb=")
          fs.rename(st.getPath, new Path(dir, s"bucket-$b"))
        }
    // de-`k=v` the staging dirs level by level: `__pp<i>=<text>` →
    // `part<i+1>-<text>`. Segment texts are produced path- and
    // Hive-escape-safe by segTextExpr, so the text rides verbatim; the
    // only translated value is Hive's NULL marker — NULL source values
    // land part-null: never pruned, never partition-dropped (the
    // conservative envelope).
    def renameParts(dir: Path, depth: Int, nFields: Int): Unit =
      if (depth == nFields) renameBuckets(dir)
      else fs.listStatus(dir)
        .filter(_.getPath.getName.startsWith(s"__pp$depth="))
        .foreach { st =>
          val v0 = st.getPath.getName.stripPrefix(s"__pp$depth=")
          val v = if (v0 == "__HIVE_DEFAULT_PARTITION__") "null" else v0
          val target = new Path(dir,
            s"${PartitionTransforms.segName(depth)}-$v")
          fs.rename(st.getPath, target)
          renameParts(target, depth + 1, nFields)
        }
    tr match {
      case Some((spec, sid)) =>
        val base = if (sid > 0) new Path(root, s"spec-$sid") else root
        renameParts(base, 0, spec.fields.length)
      case None => renameBuckets(root)
    }
    // plain listStatus, not listFiles: the LocatedFileStatus listFiles
    // builds reads each file's permission, owner and group, which every
    // local FileSystem here (graft.io's included) gets by forking `ls -ld`
    def parquetFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) parquetFiles(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Nil
      }
    val stats = parquetFiles(root)
    val hconf = spark.sparkContext.hadoopConfiguration
    val qrootPath = fs.makeQualified(root).toUri.getPath
    // exact row count from the footer metadata (one small read per newly
    // staged file — O(commit's files), never table size), footers opened
    // in PARALLEL: each open is a latency-bound metadata read, so a
    // 64-file commit pays one round-trip, not sixty-four sequential ones.
    // Best-effort: a failed footer read records None, degrading COUNT(*)
    // to a scan rather than blocking the commit. The file's byte LENGTH
    // rides the same entry (`b:` tagged field) so read planning never
    // re-stats the filesystem — manifest statistics, the Iceberg idea.
    import scala.collection.parallel.CollectionConverters._
    stats.par.map { st =>
      val b = st.getPath.getParent.getName.stripPrefix("bucket-").toInt
      val rows = scala.util.Try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, hconf))
        try r.getRecordCount finally r.close()
      }.toOption
      // table-relative path INCLUDING any part-<v> segment (relativize
      // against the qualified staging root rather than assuming a
      // fixed directory depth)
      val fileRel = st.getPath.toUri.getPath
        .stripPrefix(qrootPath).stripPrefix("/")
      FileEntry(b, s"$rel/$fileRel", rows, bytes = Some(st.getLen))
    }.seq.sortBy(_.rel)
  }

  /** Each bucket in one write task: an exchange on the bucket column puts
    * each bucket's rows in ONE partition, so a staging lands at most one
    * file per bucket (per hidden-partition segment) whatever the input's
    * partitioning — without it a write inherits its input's parallelism
    * (a streaming micro-batch behind a 4-partition state store landed
    * 4 × nBuckets files per commit). The streaming sinks stage through it
    * on every commit and the rewrites ([[compact]], [[purgeDeletes]], …)
    * through it as their layout, so an append lands the layout compaction
    * produces — Iceberg's hash write distribution.
    *
    * A sink passes its `nBuckets`: the exchange then has at most that many
    * partitions (no more can hold rows). AQE does not coalesce this
    * exchange inside a micro-batch, so at the session's 4 shuffle
    * partitions every 2-bucket streambench commit also ran 2 empty write
    * tasks; the cap cut the `stream` workload's micro-batch latency p90 by
    * ~9% (4 alternating pairs, 4-core host). The rewrites leave the count
    * to the session, so AQE coalesces a small maintenance rewrite into one
    * task. */
  private def clusterByBucket(df: DataFrame,
                              nBuckets: Option[Int] = None): DataFrame =
    nBuckets.fold(df.repartition(col(LayoutOps.BucketCol))) { n =>
      df.repartition(
        math.min(n, df.sparkSession.sessionState.conf.numShufflePartitions),
        col(LayoutOps.BucketCol))
    }

  /** Stage an already-bucket-tagged frame as new data files (no commit) —
    * the DSv2 overwrite-by-filter path rewrites partially-covered files'
    * remainders through the same writer the Scala paths use, so staged
    * bytes are identical regardless of entry point. */
  private[graft] def stageRewrite(spark: SparkSession, table: String,
                                  tagged: DataFrame): Seq[FileEntry] =
    stageFiles(spark, table, tagged)

  /** Create the table at version 0 from an initial snapshot. Fails if the
    * table already has a committed version. */
  def init(spark: SparkSession, table: String, df: DataFrame, key: String,
           nBuckets: Int, txn: Option[(String, Long)] = None): Snapshot = {
    val tagged = df.withColumn(LayoutOps.BucketCol,
      LayoutOps.bucketId(col(key), nBuckets))
    // version 0 bypasses commitNext (full manifest, not a delta), so the
    // sequence stamp lands here — equality deletes scope by it
    val entries = stageFiles(spark, table, tagged)
      .map(_.copy(addV = Some(0L)))
    val fs = fsFor(spark, table)
    val schema = mergeSchemas(StructType(Nil), tagged.schema)
    require(!key.contains("\t"), "bucket key column name must not contain a tab")
    require(tryCommit(fs, table, 0L, entries, txn = txn, schema = Some(schema),
        bucketing = Some((key, nBuckets))),
      s"$table already initialized (version 0 exists)")
    // a fresh init at a path deleted OUT-OF-BAND (rm -r, not drop()) must
    // not serve the old table's cached resolutions
    invalidateSnapshots(table)
    Snapshot(0L, entries, Some(schema), Some((key, nBuckets)))
  }

  /** Create an EMPTY table at version 0 — the DDL half of the SQL-only
    * lifecycle (CREATE TABLE / CTAS through the catalog): one manifest
    * commit recording the schema and bucket identity with no data files.
    * The first INSERT/append then evolves from this anchor exactly like
    * any later commit. Fails if the table already has a committed
    * version. */
  def create(spark: SparkSession, table: String, schema: StructType,
             key: String, nBuckets: Int,
             props: Map[String, String] = Map.empty): Snapshot = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(schema.fieldNames.contains(key),
      s"bucket key '$key' is not a column of ${schema.simpleString}")
    require(!key.contains("\t"), "bucket key column name must not contain a tab")
    val full = mergeSchemas(StructType(Nil), StructType(
      schema.filterNot(_.name == LayoutOps.BucketCol)
        :+ StructField(LayoutOps.BucketCol,
          org.apache.spark.sql.types.IntegerType)))
    val fs = fsFor(spark, table)
    require(tryCommit(fs, table, 0L, Seq.empty, txn = None,
        schema = Some(full), bucketing = Some((key, nBuckets)),
        props = props),
      s"$table already initialized (version 0 exists)")
    invalidateSnapshots(table) // same out-of-band re-create defense as init
    Snapshot(0L, Seq.empty, Some(full), Some((key, nBuckets)),
      props = props)
  }

  /** Drop the table: delete its commit log, data directories, and zone-map
    * sidecars. Destructive by definition (DROP TABLE semantics); the
    * enclosing directory itself is left to the caller since the path is
    * caller-owned identity. Returns false when no committed table lives at
    * `table`. */
  def drop(spark: SparkSession, table: String): Boolean = {
    val fs = fsFor(spark, table)
    if (!isTxTable(spark, table)) false
    else {
      fs.delete(new Path(table, "files"), true)
      fs.delete(logDir(table), true)
      invalidateSnapshots(table)
      true
    }
  }

  /** Highest `batchId` a writer identified by `appId` has committed, or
    * None. Scans retained manifest headers (one small file each — bounded
    * by [[vacuum]]'s retention, and a replay check runs once per
    * micro-batch, not per row). */
  def lastCommittedBatch(spark: SparkSession, table: String,
                         appId: String): Option[Long] =
    lastCommittedBatchUpTo(fsFor(spark, table), table, appId, Long.MaxValue)

  /** Replay check bounded to versions ≤ `upTo` — the atomicity anchor for
    * [[appendOnce]]: checking against exactly the snapshot version a
    * commit will build on makes (check, CAS-at-version+1) race-free; any
    * concurrent duplicate either sits at a version ≤ upTo (seen here) or
    * committed after, in which case OUR CAS at upTo+1 loses and we
    * re-check.
    *
    * Walks versions DESCENDING and stops at the app's first (= newest)
    * txn header: batch ids are monotone per appId BY CONTRACT (they are
    * streaming epoch ids / maintenance cursors), so the newest commit
    * carries the app's max batch and the scan is O(commits since the
    * app's last write), not O(retained log) — the difference between a
    * replay check that stays flat and one that degrades as a table ages
    * between vacuums. */
  private[graft] def lastCommittedBatchUpTo(fs: FileSystem, table: String,
                                     appId: String, upTo: Long): Option[Long] =
    listVersions(fs, table).filter(_ <= upTo).sorted.reverseIterator
      .flatMap(v => parseTxn(readBytes(fs, versionPath(table, v))))
      .collectFirst { case (app, batch) if app == appId => batch }

  /** True when `path` carries at least one committed TxTable manifest. */
  def isTxTable(spark: SparkSession, path: String): Boolean =
    listVersions(fsFor(spark, path), path).nonEmpty

  /** Read `path` as a TxTable when a commit log exists, else as plain
    * parquet — the dispatch that lets TxTable-backed side-indexes coexist
    * with legacy staged directories: probes keep working across the
    * upgrade, and the snapshot-resolved file list replaces the fragile
    * "file listing pinned before the append" invariant (a TxTable read
    * plans exactly one committed version's files, no matter what lands
    * concurrently). */
  def readAny(spark: SparkSession, path: String): DataFrame =
    if (isTxTable(spark, path)) read(spark, path)
    else spark.read.parquet(path)

  /** Exactly-once append for a streaming SIDE-INDEX table (MinHash band
    * index, span-gram index, SRP embed index — the per-micro-batch
    * artifacts that otherwise accrete one plain-parquet file set per
    * batch forever, the classic streaming small-files failure):
    *
    *   - first batch BOOTSTRAPS the table ([[init]] with the txn recorded
    *     in version 0, so a crash between init and the stream checkpoint
    *     replays as a detected duplicate, not a double-init);
    *   - later batches go through [[appendOnce]] keyed by (appId,
    *     batchId) — a torn batch (index committed, checkpoint lost)
    *     replays to a no-op commit instead of duplicate index rows;
    *   - rows are pre-partitioned one-task-per-bucket so each commit
    *     lands AT MOST `nBuckets` files regardless of input parallelism;
    *   - every `autoCompactEvery`-th batch runs [[compact]], so the live
    *     file count stays O(nBuckets · (maxFilesPerBucket +
    *     autoCompactEvery)) at any ingest age — bounded maintenance
    *     inside the landing job itself, no external scheduler;
    *   - a directory that predates the log (legacy staged index with
    *     plain parquet files) degrades to the old `mode("append")` write
    *     — never silently hides the pre-upgrade slice behind a fresh log.
    *
    * Returns true when the batch committed (or legacy-appended), false on
    * a detected replay. */
  def appendIndexOnce(spark: SparkSession, table: String, rows: DataFrame,
                      key: String, nBuckets: Int, appId: String,
                      batchId: Long, autoCompactEvery: Int = 16,
                      maxFilesPerBucket: Int = 4): Boolean = {
    val fs = fsFor(spark, table)
    val root = new Path(table)
    if (rows.isEmpty) return false // nothing to commit; replay-idempotent
    val aligned = rows.repartition(nBuckets,
      LayoutOps.bucketId(col(key), nBuckets))
    val committed =
      if (isTxTable(spark, table)) {
        // appendOnce clusters by bucket itself
        val ok = appendOnce(spark, table, rows, key, nBuckets, appId, batchId)
        if (autoCompactEvery > 0 &&
            batchId % autoCompactEvery == autoCompactEvery - 1)
          compact(spark, table, maxFilesPerBucket)
        ok
      } else if (fs.exists(root) && fs.listStatus(root).nonEmpty) {
        // legacy staged directory: keep appending plainly — initializing a
        // log here would make TxTable.read hide the pre-upgrade files
        aligned.write.mode("append").parquet(table)
        true
      } else {
        init(spark, table, aligned, key, nBuckets,
          txn = Some((appId, batchId)))
        true
      }
    committed
  }

  /** Idempotent append for streaming sinks — the Delta `txnAppId` /
    * `txnVersion` pattern: the (appId, batchId) of the writing query rides
    * the manifest header, and a REPLAYED micro-batch (foreachBatch re-runs
    * after a crash between sink write and checkpoint commit) is detected
    * and skipped, making parquet-append streaming exactly-once instead of
    * at-least-once. Returns true when the batch committed, false when it
    * was already in the log (replay) or staged no rows. Lost commit
    * races re-stage and retry like [[upsert]]. Each commit lands at most
    * one file per bucket ([[clusterByBucket]]). */
  def appendOnce(spark: SparkSession, table: String, batch: DataFrame,
                 key: String, nBuckets: Int, appId: String, batchId: Long,
                 maxRetries: Int = 5): Boolean = {
    val fs = fsFor(spark, table)
    if (lastCommittedBatch(spark, table, appId).exists(_ >= batchId))
      return false
    val taggedLogical = clusterByBucket(enforceConstraints(spark, table,
      batch).withColumn(LayoutOps.BucketCol,
        LayoutOps.bucketId(col(key), nBuckets)), Some(nBuckets))
    // staged bytes store PHYSICAL names (column mapping); capture the
    // map used, so a RENAME racing this append restages instead of
    // landing files whose field names drift from the committed map
    var snapHint = snapshot(spark, table)
    var stagedRenames = snapHint.renames
    var tagged = toPhysical(taggedLogical,
      Snapshot(-1L, Seq.empty, renames = stagedRenames))
    // appended files are independent of the base snapshot, so stage ONCE;
    // a lost race only needs a fresh manifest over the winner's snapshot
    // (append conflicts auto-resolve — no re-merge, unlike upsert)
    var newEntries = stageFiles(spark, table, tagged,
      snapHint = Some(snapHint))
    // an empty micro-batch (a watermark's no-data batch) has nothing to
    // publish: no version, like a replay
    if (newEntries.isEmpty) return false
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, table)
      if (snap.renames != stagedRenames) {
        // a rename committed while we staged: restage under the new map
        newEntries.map(_.rel.split('/')(1)).distinct
          .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
        stagedRenames = snap.renames
        snapHint = snap
        tagged = toPhysical(taggedLogical, snap)
        newEntries = stageFiles(spark, table, tagged,
          snapHint = Some(snapHint))
      }
      // replay check bound to THIS snapshot version: with the CAS landing
      // at exactly version+1, a concurrent duplicate either already shows
      // up here, or commits in between and our CAS loses — either way the
      // duplicate can never co-commit (two racing replays of one batch id
      // was a real bug this closes; spec-pinned)
      if (lastCommittedBatchUpTo(fs, table, appId, snap.version)
          .exists(_ >= batchId)) {
        newEntries.map(_.rel.split('/')(1)).distinct
          .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
        return false
      }
      if (commitNext(fs, table, snap, adds = newEntries, removes = Set.empty,
          txn = Some((appId, batchId)),
          schema = Some(evolvedSchema(spark, table, snap, tagged.schema)),
          bucketing = Some((snap.physicalName(key), nBuckets))))
        return true
      attempt += 1
      if (attempt > maxRetries) {
        newEntries.map(_.rel.split('/')(1)).distinct
          .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
        throw new java.util.ConcurrentModificationException(
          s"$table: append lost the commit race $maxRetries times; giving up")
      }
    }
    false // unreachable
  }

  /** MERGE-analog upsert with file-level pruning and optimistic
    * concurrency: last-writer-wins per `key` by `orderCol` (ties prefer
    * the update). Only files of buckets the update batch touches are
    * read and rewritten; untouched entries carry into the new manifest
    * verbatim. A lost commit race
    * re-merges against the winner's snapshot and retries (the merge must
    * re-run: its inputs changed), up to `maxRetries`. Returns the
    * post-merge row count of the touched buckets. */
  def upsert(spark: SparkSession, table: String, updates: DataFrame,
             key: String, orderCol: String, nBuckets: Int,
             maxRetries: Int = 5, txn: Option[(String, Long)] = None): Long = {
    val fs = fsFor(spark, table)
    val tagged0 = enforceConstraints(spark, table, updates)
      .withColumn(LayoutOps.BucketCol,
        LayoutOps.bucketId(col(key), nBuckets))
    val touched: Set[Int] = tagged0.select(col(LayoutOps.BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet // bounded by nBuckets
    if (touched.isEmpty) return 0L
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, table)
      // txn doubles as an idempotence token (appendOnce's replay check):
      // if this (appId, batchId) already committed at or below THIS
      // snapshot, a replay or a lost race must NOT re-apply the merge —
      // two racing incremental maintainers folding the same delta would
      // otherwise double-count on the loser's retry.
      txn.foreach { case (appId, batchId) =>
        if (lastCommittedBatchUpTo(fs, table, appId, snap.version)
            .exists(_ >= batchId))
          return 0L
      }
      val (touchedEntries, untouched) =
        snap.entries.partition(e => touched(e.bucket))
      // the merge runs in PHYSICAL name space (file bytes + recorded
      // schema): updates arrive logical, convert per-snapshot so a
      // racing rename re-merges under the fresh map on the CAS retry
      val tagged = toPhysical(tagged0, snap)
      // schema evolution: updates may carry NEW columns (old rows surface
      // them as null); a type change on an existing column throws in
      // mergeSchemas. Both sides align to the widened schema, so the merge
      // window runs over one uniform layout.
      val evolved = evolvedSchema(spark, table, snap, tagged.schema)
      val tracked = snap.props.get(RowTrackingProp).contains("true")
      val current =
        if (touchedEntries.isEmpty) {
          val e = alignTo(tagged.filter(lit(false)), evolved)
          if (tracked)
            e.withColumn(RidCol, lit(null).cast("long"))
              .withColumn(RcvCol, lit(null).cast("long"))
          else e
        }
        // live rows only: a merge window over dead rows would resurrect
        // them into the rewrite
        else liveRows(spark, table, snap, touchedEntries, Some(evolved),
          tracked)
      val cols = evolved.fieldNames.toSeq
      val lineageCols =
        if (tracked) Seq(col(s"`$RidCol`"), col(s"`$RcvCol`"))
        else Seq.empty
      val unioned = current
        .select((cols.map(col) ++ lineageCols): _*)
        .withColumn("__src", lit(0))
        .unionByName {
          val t = alignTo(tagged, evolved).withColumn("__src", lit(1))
          if (tracked)
            t.withColumn(RidCol, lit(null).cast("long"))
              .withColumn(RcvCol, lit(null).cast("long"))
          else t
        }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(s"`${snap.physicalName(key)}`"))
        .orderBy(col(s"`${snap.physicalName(orderCol)}`").desc,
          col("__src").desc)
      // row tracking: an UPDATE (a source row replacing a same-key old
      // row) KEEPS the old row's _row_id and takes a fresh
      // _row_commit_version (RcvCol stays null → the new file's anchor
      // answers); a genuinely new key gets a fresh implicit id (both
      // null); an untouched old row keeps id AND commit version
      val inherited =
        if (!tracked) unioned
        else unioned.withColumn("__oldrid",
          max(when(col("__src") === 0, col(s"`$RidCol`")))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col(s"`${snap.physicalName(key)}`"))))
      val merged0 = inherited
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      val merged =
        if (!tracked) merged0.select(cols.map(col): _*)
        else merged0
          .withColumn(RidCol,
            coalesce(col(s"`$RidCol`"), col("__oldrid")))
          .select((cols.map(col) ++ lineageCols): _*)
      val newEntries = stageFiles(spark, table, merged)
      if (commitNext(fs, table, snap, adds = newEntries,
          removes = touchedEntries.map(_.rel).toSet,
          txn = txn, schema = Some(evolved),
          bucketing = Some((snap.physicalName(key), nBuckets)))) {
        return spark.read
          .parquet(newEntries.map(e => s"$table/${e.rel}"): _*).count()
      }
      // lost the race: our staged files reference a stale base — drop the
      // orphans and re-merge against the winner's snapshot
      newEntries.map(_.rel.split('/')(1)).distinct
        .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
      attempt += 1
      if (attempt > maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"$table: lost the commit race $maxRetries times; giving up")
    }
    0L // unreachable
  }

  /** MERGE-ON-READ delete: mark matching rows dead in per-file deletion
    * vectors instead of rewriting data files — the public Delta/Iceberg
    * DV design over this log. One scan over `candidates` (defaults to
    * every live file; the SQL path narrows it to the partially-covered
    * files via zone-map coverage) collects the matching physical row
    * positions per file into compressed bitmaps, merges them with any
    * EXISTING vectors (a second delete on the same file unions, never
    * resets), stages one DV sidecar parquet, and publishes one delta
    * commit re-adding each touched entry with its [[DvRef]]. No data file
    * is written; untouched files aren't even read.
    *
    * At 100 TB: a DELETE touching one row in each of 10k files writes a
    * few KB of bitmaps and one manifest, where copy-on-write would
    * rewrite 10k files. The read-side price — bitmap filters on exactly
    * the DV'd files — is reclaimed by the next [[compact]], which folds
    * vectors away. Returns the number of newly deleted rows. */
  def deleteWhereMor(spark: SparkSession, table: String,
                     cond: org.apache.spark.sql.Column,
                     candidates: Option[Seq[FileEntry]] = None,
                     maxRetries: Int = 5): Long = {
    val fs = fsFor(spark, table)
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, table)
      // candidates narrow by REL only — the entries themselves re-resolve
      // from the fresh snapshot so a concurrent delete's grown DvRef is
      // merged, never shadowed by the caller's stale copy
      val cand = candidates match {
        case None => snap.entries
        case Some(cs) =>
          val rels = cs.map(_.rel).toSet
          snap.entries.filter(e => rels(e.rel))
      }
      stageMorDelete(spark, table, snap, cand, cond) match {
        case None => return 0L
        case Some((adds, removes, ndel)) =>
          if (commitNext(fs, table, snap, adds = adds, removes = removes,
              schema = snap.schema, bucketing = snap.bucketing))
            return ndel
          // lost the race: drop the staged DV sidecar and re-resolve
          adds.headOption.flatMap(_.dv).foreach(d =>
            fs.delete(new Path(table, d.rel.split('/').take(2)
              .mkString("/")), true))
      }
      attempt += 1
      if (attempt > maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"$table: MOR delete lost the commit race $maxRetries times")
    }
    0L // unreachable
  }

  /** MOR delete addressed by a RELATION instead of a predicate: rows to
    * delete are selected by `doomed` — typically a semi-join against a
    * dead-key set or an anti-join against a live-key set (the index-
    * vacuum shape, [[DedupOps.vacuumIndex]]). Same optimistic protocol,
    * DV sidecar staging, and race recovery as [[deleteWhereMor]]; I/O is
    * one column-pruned scan of the candidate files plus the join, and
    * the commit is ONE manifest CAS whose re-adds are bounded by the
    * files that actually hold doomed rows. */
  def deleteRelMor(spark: SparkSession, table: String,
                   doomed: DataFrame => DataFrame,
                   maxRetries: Int = 5): Long = {
    val fs = fsFor(spark, table)
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, table)
      stageMorDeleteWith(spark, table, snap, snap.entries, doomed) match {
        case None => return 0L
        case Some((adds, removes, ndel)) =>
          if (commitNext(fs, table, snap, adds = adds, removes = removes,
              schema = snap.schema, bucketing = snap.bucketing))
            return ndel
          adds.headOption.flatMap(_.dv).foreach(d =>
            fs.delete(new Path(table, d.rel.split('/').take(2)
              .mkString("/")), true))
      }
      attempt += 1
      if (attempt > maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"$table: relational MOR delete lost the commit race " +
            s"$maxRetries times")
    }
    0L // unreachable
  }

  /** The DV build shared by [[deleteWhereMor]] and the SQL DELETE path:
    * scan `candidates` (already-deleted rows excluded), collect matching
    * positions per file, merge with existing vectors, stage ONE sidecar.
    * Returns (re-adds with fresh DvRefs, removed rels, newly deleted
    * rows) — or None when nothing matched. */
  private[graft] def stageMorDelete(spark: SparkSession, table: String,
                                    snap: Snapshot,
                                    candidates: Seq[FileEntry],
                                    cond: org.apache.spark.sql.Column)
      : Option[(Seq[FileEntry], Set[String], Long)] =
    stageMorDeleteWith(spark, table, snap, candidates, _.filter(cond))

  /** Core of [[stageMorDelete]] with a RELATIONAL doomed-row selector:
    * `doomed` shapes the live candidate read into the rows to delete —
    * a Column filter for predicate deletes, a semi/anti JOIN for
    * set-addressed maintenance ([[deleteRelMor]], index vacuum). The
    * `__dv_rel`/`__dv_pos` bookkeeping columns must survive the shape. */
  private[graft] def stageMorDeleteWith(spark: SparkSession, table: String,
                                        snap: Snapshot,
                                        candidates: Seq[FileEntry],
                                        doomed: DataFrame => DataFrame)
      : Option[(Seq[FileEntry], Set[String], Long)] = {
    if (candidates.isEmpty) return None
    val schema = snap.schema
    val existing = DeletionVectors.loadBitmaps(spark, table, candidates)
    val raw = DeletionVectors.entriesFrame(spark, table, candidates, schema)
      .withColumn("__dv_rel", DeletionVectors.manifestRel(candidates))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    // `doomed` speaks LOGICAL names (every caller is user-facing); the
    // raw read is physical — translate before shaping (the __dv_*
    // columns are never in the map, so they pass through untouched)
    val fresh: Seq[(String, Array[Byte], Long)] = doomed(
      fromPhysical(raw, snap)
        .filter(DeletionVectors.liveFilter(spark, existing)))
      .groupBy(col("__dv_rel"))
      .agg(DeletionVectors.dvUdaf(col("__dv_pos")).as("dv"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getLong(2)))
      .toSeq
    if (fresh.isEmpty) return None
    val byRel = candidates.map(e => e.rel -> e).toMap
    val merged = fresh.map { case (rel, bytes, n) =>
      val bm = DeletionVectors.deserialize(bytes)
      existing.get(rel).foreach { case (_, old) =>
        bm.or(DeletionVectors.deserialize(old))
      }
      (rel, DeletionVectors.serialize(bm), bm.getLongCardinality, n)
    }
    val dvRel = DeletionVectors.stageDvFile(spark, table,
      merged.map { case (rel, bytes, total, _) => (rel, bytes, total) })
    val adds = merged.map { case (rel, _, total, _) =>
      byRel(rel).copy(dv = Some(DvRef(dvRel, total)))
    }
    Some((adds, merged.map(_._1).toSet, merged.map(_._4).sum))
  }

  /** EQUALITY DELETE (the Iceberg v2 MOR write shape the log lacked):
    * commit KEY TUPLES instead of row positions — ZERO data files read
    * or written on the write path. A positional DV needs the scan first
    * (find the positions); an equality delete just states "rows with
    * these keys, in files that predate me, are dead", and every reader
    * anti-joins the key sidecar scoped by the files' [[FileEntry.addV]]
    * sequence — a LATER append's rows (or a rewrite's restaged
    * survivors, whose files carry the rewrite's version) are never
    * re-deleted. This is the write shape a streaming CDC upsert sink
    * needs to avoid read-before-write per micro-batch. The read tax
    * (one broadcast anti-join per distinct key-column set) lasts until
    * [[foldEqDeletes]] / any covering rewrite folds the registry entry
    * away — commitNext GCs an entry the moment no live file predates
    * it. Null keys are dropped (equality can never address NULL).
    * Returns the number of registered key tuples (matching ROWS are
    * unknown by design — counting them would be the read this verb
    * exists to avoid). */
  def deleteWhereEq(spark: SparkSession, table: String, keys: DataFrame,
                    maxRetries: Int = 5): Long = {
    val fs = fsFor(spark, table)
    val distinctKeys = keys.na.drop().dropDuplicates()
    val n = distinctKeys.count()
    if (n == 0) return 0L
    var staged: Option[(String, Seq[String])] = None
    var attempt = 0
    while (attempt <= maxRetries) {
      val snap = snapshot(spark, table)
      requireEqDeletable(table, snap)
      val (rel, physCols) = staged.getOrElse {
        val cols = distinctKeys.columns.toSeq.map(snap.physicalName)
        val schemaCols = snap.schema.map(_.fieldNames.toSet)
          .getOrElse(Set.empty[String])
        cols.foreach(c => require(schemaCols(c),
          s"$table: equality-delete key column '$c' is not in the " +
            "table schema"))
        val r = stageEqKeys(spark, table, toPhysical(distinctKeys, snap), n)
        staged = Some((r, cols))
        (r, cols)
      }
      val existingDels = parseEqDeletes(snap.props)
      val budgeted =
        try enforceEqBudget(spark, table, existingDels, n)
        catch { case e: IllegalStateException =>
          staged.foreach { case (r, _) =>
            fs.delete(new Path(table, s"files/${r.split('/')(1)}"), true)
          }
          throw e
        }
      if (budgeted eq existingDels) {
        val v = snap.version + 1
        val dels = existingDels :+ EqDelete(v, rel, physCols, n)
        if (commitNext(fs, table, snap, adds = Seq.empty,
            removes = Set.empty, schema = snap.schema,
            props = Some(snap.props +
              (EqDeletesProp -> renderEqDeletes(dels)))))
          return n
        attempt += 1
      }
      // else: the budget fold advanced the table — re-enter against the
      // folded head without burning a retry (the fold is progress)
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: equality delete lost the commit race $maxRetries times")
  }

  /** The CDC micro-batch verb: ONE atomic commit that (a) registers an
    * equality delete for the batch's keys and (b) appends the batch's
    * new row images — upsert semantics with ZERO read amplification on
    * the write path (the classic MOR upsert reads the touched buckets to
    * rewrite them; the positional-DV path scans for positions; this
    * writes exactly the batch). The appended files carry the commit's
    * own addV, so the batch's delete can never kill the batch's own
    * rows. Exactly-once via the (appId, batchId) replay token, like
    * [[appendOnce]], and like it at most one row file per bucket.
    * `rows` may be empty (a delete-only batch);
    * `deleteKeys`' columns name the equality key. Returns false on a
    * replayed batch, and on one that stages no rows and no keys. */
  def appendWithEqDelete(spark: SparkSession, table: String,
                         rows: DataFrame, deleteKeys: DataFrame,
                         key: String, nBuckets: Int,
                         appId: String, batchId: Long,
                         maxRetries: Int = 5): Boolean = {
    val fs = fsFor(spark, table)
    if (lastCommittedBatch(spark, table, appId).exists(_ >= batchId))
      return false
    val distinctKeys = deleteKeys.na.drop().dropDuplicates()
    var nDel = 0L
    val taggedLogical = clusterByBucket(enforceConstraints(spark, table,
      rows).withColumn(LayoutOps.BucketCol,
        LayoutOps.bucketId(col(key), nBuckets)), Some(nBuckets))
    var snapHint = snapshot(spark, table)
    var stagedRenames = snapHint.renames
    def stage(renames: Map[String, String])
        : (Seq[FileEntry], Option[(String, Seq[String])]) = {
      val rn = Snapshot(-1L, Seq.empty, renames = renames)
      val entries = stageFiles(spark, table, toPhysical(taggedLogical, rn),
        snapHint = Some(snapHint))
      // ONE pass over the delete side: stage it and take the exact count
      // from the write's own footers. A zero count (the common
      // insert-only CDC micro-batch) unstages the empty sidecar and
      // registers nothing — no separate emptiness-probe job, so every
      // trigger pays exactly one job per staged side regardless of shape.
      val (r, n) = stageEqKeysCounted(spark, table,
        toPhysical(distinctKeys, rn))
      nDel = n
      val del =
        if (n == 0L) {
          fs.delete(new Path(table, r.split('/').take(2).mkString("/")),
            true)
          None
        } else
          Some((r, distinctKeys.columns.toSeq
            .map(c => renames.getOrElse(c, c))))
      (entries, del)
    }
    var (newEntries, stagedDel) = stage(stagedRenames)
    // no rows staged and no key registered: nothing to publish
    if (newEntries.isEmpty && stagedDel.isEmpty) return false
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, table)
      if (stagedDel.isDefined) requireEqDeletable(table, snap)
      if (snap.renames != stagedRenames) {
        (newEntries.map(_.rel.split('/')(1)) ++
          stagedDel.map(_._1.split('/')(1))).distinct
          .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
        stagedRenames = snap.renames
        snapHint = snap
        val restaged = stage(stagedRenames)
        newEntries = restaged._1
        stagedDel = restaged._2
      }
      if (lastCommittedBatchUpTo(fs, table, appId, snap.version)
          .exists(_ >= batchId)) {
        (newEntries.map(_.rel.split('/')(1)) ++
          stagedDel.map(_._1.split('/')(1))).distinct
          .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
        return false
      }
      val existingDels = parseEqDeletes(snap.props)
      val budgeted =
        if (stagedDel.isEmpty) existingDels
        else try enforceEqBudget(spark, table, existingDels, nDel)
        catch { case e: IllegalStateException =>
          (newEntries.map(_.rel.split('/')(1)) ++
            stagedDel.map(_._1.split('/')(1))).distinct
            .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
          throw e
        }
      // when the budget check folded the registry inline, the table
      // advanced: loop back to the new head WITHOUT burning a retry —
      // the fold is progress, not a commit race
      if (budgeted eq existingDels) {
        val v = snap.version + 1
        val props = stagedDel.fold(snap.props) { case (rel, cols) =>
          snap.props + (EqDeletesProp -> renderEqDeletes(
            existingDels :+ EqDelete(v, rel, cols, nDel)))
        }
        val committed = commitNext(fs, table, snap, adds = newEntries,
            removes = Set.empty, txn = Some((appId, batchId)),
            schema = Some(evolvedSchema(spark, table, snap,
              toPhysical(taggedLogical,
                Snapshot(-1L, Seq.empty, renames = stagedRenames)).schema)),
            bucketing = Some((snap.physicalName(key), nBuckets)),
            props = Some(props))
        if (committed)
          return true
        attempt += 1
        if (attempt > maxRetries) {
          (newEntries.map(_.rel.split('/')(1)) ++
            stagedDel.map(_._1.split('/')(1))).distinct
            .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
          throw new java.util.ConcurrentModificationException(
            s"$table: CDC eq-delete append lost the commit race " +
              s"$maxRetries times; giving up")
        }
      }
    }
    false // unreachable
  }

  private def requireEqDeletable(table: String, snap: Snapshot): Unit = {
    val unstamped = snap.entries.filter(_.addV.isEmpty)
    require(unstamped.isEmpty,
      s"$table: ${unstamped.size} live file(s) predate sequence " +
        s"stamping (e.g. ${unstamped.head.rel}) — an equality delete " +
        "could not scope them. Run compact() once to restamp, then " +
        "retry")
  }

  /** THE live-row read kernel: the live rows of `entries` as of `snap`,
    * in PHYSICAL name space — deletion vectors first (clean files keep
    * the plain scan, DV'd files a position filter), then the snapshot's
    * unfolded equality deletes (identity when the registry is empty).
    * `lineage` materializes [[RidCol]]/[[RcvCol]] for every live row.
    * Every read verb (`read`, `readLineage`, `readKeys`, `readWhereAll`,
    * `readStaged`, `changesSince`) wraps it in [[fromPhysical]]; every
    * rewrite that restages live rows (upsert's merge window, rebucket,
    * compaction/purge/fold, REPLACE WHERE remainders) stages it as is —
    * so no surface can disagree on which rows are dead. */
  private[graft] def liveRows(spark: SparkSession, table: String,
                              snap: Snapshot, entries: Seq[FileEntry],
                              physSchema: Option[StructType],
                              lineage: Boolean = false): DataFrame =
    applyEqDeletes(spark, table, snap, DeletionVectors.readEntries(spark,
      table, entries, physSchema, lineage))

  /** Apply the snapshot's UNFOLDED equality deletes to a frame read from
    * its files (PHYSICAL name space): attach each row's file sequence
    * (one tiny broadcast keyed by the rel suffix), then one broadcast
    * LEFT ANTI join per distinct key-column set against the delete key
    * sidecars — a row dies iff its keys match a delete registered AFTER
    * its file was added. Identity (same plan) when the registry is
    * empty, which is the steady state commitNext's fold-GC drives
    * toward. Reads call it through [[liveRows]]. */
  private def applyEqDeletes(spark: SparkSession, table: String,
                             snap: Snapshot, df: DataFrame): DataFrame = {
    val dels = parseEqDeletes(snap.props)
    if (dels.isEmpty) return df
    snap.entries.find(_.addV.isEmpty).foreach { e =>
      throw new IllegalStateException(
        s"$table: ${e.rel} carries no sequence stamp under a live " +
          "equality delete — the registration invariant is broken")
    }
    val addvDf = spark.createDataFrame(snap.entries.map(e =>
        (DeletionVectors.relKey(e.rel), e.addV.get)).distinct)
      .toDF("__eqrk2", "__eqaddv")
    var out = df
      .withColumn("__eqrk",
        regexp_extract(input_file_name(), DeletionVectors.RelPattern, 0))
      .join(broadcast(addvDf), col("__eqrk") === col("__eqrk2"), "left")
    // key-column types come from the recorded table schema (the key
    // frame was staged FROM those columns), so the sidecar reads skip
    // schema inference — no footer round-trip per registry entry at
    // plan time; schema-less legacy snapshots fall back to inference
    def keyReader(cols: Seq[String]) = snap.schema
      .map(ps => StructType(ps.fields.filter(f => cols.contains(f.name))))
      .filter(_.size == cols.size)
      .fold(spark.read)(spark.read.schema)
    dels.groupBy(_.cols).toSeq.sortBy(_._1.mkString(","))
      .foreach { case (cols, ds) =>
        val reader = keyReader(cols)
        val keysDf = ds.map(d =>
            reader.parquet(s"$table/${d.rel}")
              .withColumn("__eqdelv", lit(d.version)))
          .reduce(_.unionByName(_))
        val cond = cols.map(c => out(c) === keysDf(c))
          .reduce(_ && _) && col("__eqaddv") < keysDf("__eqdelv")
        // small backlog → forced broadcast (zero added shuffles); past
        // the key budget → AQE decides, so a 10⁸-key backlog shuffles
        // instead of OOMing the driver
        out = out.join(eqMaybeBroadcast(spark, keysDf, eqKnownKeys(ds)),
          cond, "left_anti")
      }
    out.drop("__eqrk", "__eqrk2", "__eqaddv")
  }

  /** Fold every unfolded equality delete into data: rewrite exactly the
    * files a registry entry can still address (addV < its version) —
    * the rewrite's read path drops the matched rows, the restaged files
    * carry the rewrite's sequence, and commitNext's GC retires the
    * registry entries in the same commit. After the fold every surface
    * (including the DSv2 metadata shortcuts) is tax-free again. Returns
    * the number of files rewritten. */
  def foldEqDeletes(spark: SparkSession, table: String,
                    maxRetries: Int = 5): Int = {
    rewriteWith(spark, table, maxRetries,
      clusterByBucket(_), 0L,
      raceName = "eq-delete fold") { snap =>
      val dels = parseEqDeletes(snap.props)
      val affected = snap.entries.filter(e =>
        dels.exists(d => e.addV.forall(_ < d.version)))
      (affected, affected.size)
    }
  }

  /** Incremental change feed: the rows in data files ADDED after
    * `sinceVersion`, up to the newest commit (or `untilVersion`) — the
    * Delta change-data-feed read shape that lets a downstream job consume
    * a 100 TB table incrementally: I/O ∝ new files since the last cursor,
    * never a table rescan. Returns (df, highWatermark) — the caller
    * persists the watermark as its next cursor. Append and upsert commits
    * both surface their new files; for upserts that means the POST-MERGE
    * rows of rewritten buckets (last-writer-wins state, not a row-level
    * diff — downstream MERGEs idempotently on the key, same as any CDC
    * snapshot consumer). */
  def changesSince(spark: SparkSession, table: String, sinceVersion: Long,
                   untilVersion: Option[Long] = None): (DataFrame, Long) = {
    val fs = fsFor(spark, table)
    val upTo = untilVersion.getOrElse(snapshot(spark, table).version)
    require(upTo >= sinceVersion,
      s"until ($upTo) must be >= since ($sinceVersion)")
    val snapUpTo = snapshot(spark, table, Some(upTo))
    val added = addedBetween(spark, fs, table, sinceVersion, upTo, snapUpTo)
    val df =
      if (added.isEmpty) {
        // empty frame with the table schema (from the current snapshot)
        read(spark, table, Some(upTo)).filter(lit(false))
      } else fromPhysical(
        liveRows(spark, table, snapUpTo, added, snapUpTo.schema), snapUpTo)
    (df, upTo)
  }

  /** ONE commit's file changes (adds, removes) straight from its
    * manifest: a delta parses as written — O(its changes), no snapshot
    * resolution; a FULL manifest (v0 of init/clone, sharded or not)
    * returns its complete entry list with no removes. The metadata
    * primitive behind incremental consumers: per-trigger planning cost
    * must scale with the commit, never the table. */
  private[graft] def commitChanges(spark: SparkSession, fs: FileSystem,
                                   table: String, v: Long)
      : (Seq[FileEntry], Set[String]) = {
    val p = versionPath(table, v)
    require(fs.exists(p),
      s"version $v does not exist under $table — it predates the " +
        "vacuumed log retention")
    val bytes = readBytes(fs, p)
    if (isDelta(bytes)) parseDelta(bytes)
    else {
      val entries: Seq[FileEntry] = parseShardRefs(bytes) match {
        case Some((refs, rms)) =>
          materializeShards(fs, ShardedEntries(table, refs, removes = rms))
        case None => parseManifest(bytes)
      }
      if (v == 0) (entries, Set.empty[String])
      else {
        // a FULL manifest past v0 exists only on legacy (pre-delta-era)
        // logs — its changes need the parent's rel set (rare path, one
        // snapshot diff, exactly the old planning cost)
        val prevRels = snapshot(spark, table, Some(v - 1)).entries
          .map(_.rel).toSet
        val curRels = entries.map(_.rel).toSet
        (entries.filterNot(e => prevRels(e.rel)), prevRels -- curRels)
      }
    }
  }

  /** Files added in (since, upTo] and still live at upTo, from the
    * window's DELTA manifests alone — metadata cost O(changed in the
    * window), never a two-snapshot rel-set diff (which materializes the
    * FULL entry list twice: at 10⁸ files that is the dominant cost of an
    * incremental cursor read, dwarfing the data it actually ships).
    * Event algebra per rel, exactly the set-diff's answer:
    *   - first in-window event ADD, survives to upTo  → in (new file;
    *     later remove+re-add pairs keep the LATEST incarnation, so a DV
    *     attached to an in-window file rides along like the snapshot
    *     entry would);
    *   - first in-window event REMOVE → existed at the baseline; any
    *     later re-add of that rel is a DV re-add / restore of a file the
    *     consumer already has → out (rels are uuid-pathed, never reused
    *     for new data).
    * A non-delta manifest mid-window (legacy pre-delta-era logs) costs
    * that one version a parent-snapshot diff via [[commitChanges]]. */
  private def addedBetween(spark: SparkSession, fs: FileSystem,
                           table: String, since: Long, upTo: Long,
                           snapUpTo: Snapshot): Seq[FileEntry] = {
    val state =
      scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    val baselineDead = scala.collection.mutable.HashSet[String]()
    var v = since + 1
    while (v <= upTo) {
      val (adds, removes) = commitChanges(spark, fs, table, v)
      removes.foreach { r =>
        if (state.remove(r).isEmpty) baselineDead += r
      }
      adds.foreach { e =>
        if (!baselineDead.contains(e.rel)) state.put(e.rel, e)
      }
      v += 1
    }
    state.values.toSeq
  }

  /** Compact fragmented buckets: every bucket whose file count exceeds
    * `maxFilesPerBucket` (streaming CDC lands one file set per commit, so
    * counts grow per micro-batch) is re-read and rewritten as one fresh
    * file set, published as a normal commit. Runs safely CONCURRENT with
    * upserts via the same optimistic protocol — a lost race re-reads the
    * winner's snapshot and re-compacts, and readers of older versions are
    * untouched until [[vacuum]]. Returns the number of buckets compacted
    * at the version that finally committed. */
  /** `maxBuckets` bounds ONE maintenance slice (the incremental-OPTIMIZE
    * budget knob): only the `maxBuckets` MOST fragmented buckets rewrite
    * this call, so a 100 TB table's compaction runs as scheduled
    * fixed-size slices instead of one unbounded job — repeated calls
    * converge because each slice removes the worst offenders. Default
    * unbounded (the round-9 behavior). */
  def compact(spark: SparkSession, table: String,
              maxFilesPerBucket: Int = 4, maxRetries: Int = 5,
              maxBuckets: Int = Int.MaxValue): Int = {
    require(maxBuckets >= 1, s"maxBuckets must be >= 1, got $maxBuckets")
    compactWith(spark, table, maxFilesPerBucket, maxRetries,
      clusterByBucket(_), 0L, maxBuckets)
  }

  /** The partition-addressed maintenance verbs take a LONG partition
    * value, but an identity field over a STRING column has string-valued
    * partitions — no head-generation file would ever yield a long
    * envelope, so the verb would silently match nothing and report 0
    * instead of refusing ("never a silent wrong answer"). Refuse up
    * front and point at the value-addressed verbs. */
  private def refuseStringIdentityHead(snap: Snapshot,
                                       f0: PartitionTransforms.Field,
                                       verb: String): Unit = {
    val isStr = f0.fn == "identity" && snap.schema.exists(_.fields.exists(
      f => f.name == f0.column &&
        f.dataType == org.apache.spark.sql.types.StringType))
    if (isStr) throw new IllegalArgumentException(
      s"$verb: head partition field ${f0.render} is identity over a " +
        "STRING column — its partition values are strings, not longs, " +
        "so a Long-addressed slice can never match. Use DELETE WHERE " +
        s"${f0.column} = '<value>' (metadata-only under this layout) " +
        "or compact() instead")
  }

  /** PARTITION-ALIGNED compaction (the hidden-partitioning maintenance
    * unit): rewrite exactly ONE partition value's fragmented buckets —
    * "compact yesterday", not "compact the globally worst bucket". The
    * natural schedule for a time-partitioned 100 TB table is one slice
    * per closed partition right after its day/month rolls over: the
    * slice's I/O is bounded by that partition alone, and rewritten files
    * re-split by the transform by construction (the rows' values are
    * unchanged), so the partition stays prunable. Same optimistic
    * protocol + cheap-re-commit liveness as [[compact]]. Returns the
    * number of buckets rewritten within the partition. */
  def compactPartition(spark: SparkSession, table: String, part: Long,
                       maxFilesPerBucket: Int = 1,
                       maxRetries: Int = 5): Int = {
    val snap0 = snapshot(spark, table)
    val head = PartitionTransforms.of(snap0.props).getOrElse(
      throw new IllegalArgumentException(
        s"$table declares no partition transform — use compact()"))
    val f0 = head.fields.head
    refuseStringIdentityHead(snap0, f0, s"compact_partition($part)")
    rewriteWith(spark, table, maxRetries,
      clusterByBucket(_), 0L,
      raceName = s"partition-compaction($part)") { snap =>
      val hist = PartitionTransforms.history(snap.props)
      val headSid = hist.length - 1
      val isDate = snap.schema.exists(_.fields.exists(f =>
        f.name == f0.column &&
          f.dataType == org.apache.spark.sql.types.DateType))
      val (lo, hi) = PartitionTransforms.longEnvelope(f0.fn, part, isDate)
      // the slice = every file whose OWN-generation envelope over the
      // head field-0 column INTERSECTS the addressed partition's range.
      // Old-generation files intersecting the slice are rewritten even
      // when unfragmented — the rewrite re-splits their rows under the
      // HEAD spec, so compact_partition doubles as the per-slice
      // spec-migration verb after an ALTER evolution.
      val inPart = snap.entries.filter { e =>
        PartitionTransforms.resolve(e.rel, hist)
          .flatMap(_.longEnvelopeFor(f0.column, isDate))
          .exists { case (l, h) => l <= hi && h >= lo }
      }
      val oldGen: Set[Int] = inPart.filter(e =>
          PartitionTransforms.resolve(e.rel, hist).exists(_.sid != headSid))
        .map(_.bucket).toSet
      val fragmented: Set[Int] = inPart.groupBy(_.bucket)
        .filter(_._2.size > maxFilesPerBucket).keySet ++ oldGen
      (inPart.filter(e => fragmented(e.bucket)), fragmented.size)
    }
  }

  /** DROP PARTITION (the direct retention verb over hidden
    * partitioning): remove every file of ONE partition value from the
    * manifest — metadata-only at any scale, no predicate math, no file
    * read. Sound because a `part-<v>/` file holds ONLY rows whose
    * transform value is v (the write-side placement invariant), so the
    * drop is exactly `DELETE WHERE <source col in the partition's
    * range>` — which the change feed accordingly surfaces as
    * file-granular deletes. `part-null/` files are not addressable here
    * (their rows have NULL source values — delete them with
    * `WHERE col IS NULL`). Returns the number of files dropped (0 when
    * the partition is empty — idempotent). */
  def dropPartition(spark: SparkSession, table: String, part: Long,
                    maxRetries: Int = 5): Int = {
    val snap0 = snapshot(spark, table)
    val head = PartitionTransforms.of(snap0.props)
      .getOrElse(throw new IllegalArgumentException(
        s"$table declares no partition transform"))
    val f0 = head.fields.head
    refuseStringIdentityHead(snap0, f0, s"drop_partition($part)")
    val fs = fsFor(spark, table)
    var attempt = 0
    while (attempt <= maxRetries) {
      val snap = snapshot(spark, table)
      val hist = PartitionTransforms.history(snap.props)
      val headSid = hist.length - 1
      val isDate = snap.schema.exists(_.fields.exists(f =>
        f.name == f0.column &&
          f.dataType == org.apache.spark.sql.types.DateType))
      val (lo, hi) = PartitionTransforms.longEnvelope(f0.fn, part, isDate)
      // spec-aware verdict per file: the drop is sound only when every
      // live file is PROVABLY inside or outside the addressed slice.
      // Head-generation files decide by value equality (their envelope
      // is the slice or disjoint from it); an OLD generation's file
      // decides by envelope containment over the SAME source column —
      // e.g. dropping a month under a months() head cleanly takes the
      // days() generation's day files inside that month. A file whose
      // envelope STRADDLES the slice (days head, months-generation file)
      // or whose generation partitions a different column entirely
      // cannot be metadata-dropped — refuse loudly and point at the
      // migration verbs rather than silently under- or over-deleting.
      val doomed = Seq.newBuilder[FileEntry]
      val blocked = Seq.newBuilder[String]
      snap.entries.foreach { e =>
        PartitionTransforms.resolve(e.rel, hist) match {
          case None =>
            // pre-partitioning file: rows unknowable by path — only safe
            // when the table never mixed generations (kept by contract)
            if (hist.length > 1) blocked += e.rel
          case Some(res) =>
            res.longEnvelopeFor(f0.column, isDate) match {
              case Some((l, h)) if h < lo || l > hi => () // disjoint
              case Some((l, h)) if l >= lo && h <= hi => doomed += e
              case Some(_) => blocked += e.rel // straddles the slice
              case None =>
                // no envelope over the head column: part-null files keep
                // (their rows are NULL there — outside any range); a
                // generation partitioning different columns blocks
                if (res.fieldFor(f0.column).isEmpty) blocked += e.rel
            }
        }
      }
      val blockedRels = blocked.result()
      if (blockedRels.nonEmpty)
        throw new IllegalStateException(
          s"$table: drop_partition($part) under head ${f0.render} cannot " +
            s"decide ${blockedRels.size} file(s) from earlier partition " +
            s"generations (e.g. ${blockedRels.head}) — their envelopes " +
            "straddle the slice or cover other columns. Migrate them " +
            "first (CALL compact_partition rewrites a slice under the " +
            "head spec) or use DELETE WHERE")
      val doomedEntries = doomed.result()
      if (doomedEntries.isEmpty) return 0
      if (commitNext(fs, table, snap, adds = Seq.empty,
          removes = doomedEntries.map(_.rel).toSet, schema = snap.schema))
        return doomedEntries.size
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: drop_partition($part) lost the commit race " +
        s"$maxRetries times")
  }

  /** Targeted deletion-vector fold (the public Delta `REORG … APPLY
    * (PURGE)` idea): rewrite EXACTLY the files whose deleted fraction
    * reaches `minDeletedFraction`, staging their live rows and dropping
    * the vectors — every other file is untouched. [[compact]] folds
    * vectors too, but only where a bucket is FRAGMENTED; a lightly-
    * fragmented, heavily-deleted file would otherwise pay the bitmap
    * read tax (and the row-based scan downgrade on the DSv2 path)
    * forever. Rewrite I/O is bounded by the chosen threshold — the knob
    * that turns "maintenance someday" into a scheduled O(dirty files)
    * job at 100 TB. A DV'd file with no recorded physical count purges
    * unconditionally (its tax is real even if unquantified). Returns the
    * number of files purged. */
  def purgeDeletes(spark: SparkSession, table: String,
                   minDeletedFraction: Double = 0.1,
                   maxRetries: Int = 5): Int = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction <= 1.0,
      s"minDeletedFraction must be in [0,1], got $minDeletedFraction")
    // keep the bucket layout (same co-location guarantees as compact —
    // one task per touched bucket)
    rewriteWith(spark, table, maxRetries,
      clusterByBucket(_), 0L, raceName = "purge") {
      snap =>
        val targets = snap.entries.filter(e => e.dv.exists(d =>
          e.rows.fold(true)(r =>
            r == 0L || d.ndel.toDouble / r >= minDeletedFraction)))
        (targets, targets.size)
    }
  }

  /** [[compact]] with a Z-ORDER layout — the OPTIMIZE ZORDER BY idea from
    * the public Delta playbook, both halves of which already existed here
    * separately ([[LayoutOps.morton2]] clustering, the zone-map sidecar):
    * fragmented buckets are rewritten clustered by the Morton interleave
    * of `(aCol, bCol)` (normalized onto the 16-bit grid by the given
    * layout-metadata bounds), and the (min, max) sidecars for BOTH
    * columns are refreshed right after the commit, so [[readWhere]] /
    * [[readWhereAll]] pruning improves as part of the same maintenance
    * call.
    *
    * The rewrite keeps the bucket partitioning (key-pruned reads are
    * untouched) and sorts by z WITHIN each bucket; `maxRecordsPerFile`
    * rolls each bucket's sorted stream into several files, each covering
    * a narrow z-range — which is precisely what makes the per-file
    * (min, max) tight enough to skip. Same optimistic commit protocol as
    * [[compact]]: concurrent writers retry, readers of older versions are
    * untouched until [[vacuum]]. */
  def compactZOrdered(spark: SparkSession, table: String,
                      aCol: String, aLo: Double, aHi: Double,
                      bCol: String, bLo: Double, bHi: Double,
                      maxFilesPerBucket: Int = 4,
                      maxRecordsPerFile: Long = 0L,
                      maxRetries: Int = 5): Int =
    compactZOrderedN(spark, table,
      Seq((aCol, aLo, aHi), (bCol, bLo, bHi)),
      maxFilesPerBucket, maxRecordsPerFile, maxRetries)

  /** [[compactZOrdered]] over N columns — Delta's OPTIMIZE ZORDER BY
    * takes any column list; so does this. Each `(col, lo, hi)` bound is
    * layout metadata normalizing that column onto the interleave grid
    * ([[LayoutOps.mortonN]]); the rewrite keeps the bucket partitioning,
    * sorts by the N-D curve within each bucket, rolls files at
    * `maxRecordsPerFile`, and refreshes ALL N zone-map sidecars in the
    * same maintenance call, so [[readWhereAll]] conjunctions over any
    * subset of the columns prune immediately after the commit. */
  /** [[compactZOrderedN]] with AUTO-derived layout bounds: each column's
    * (lo, hi) comes from its zone-map sidecar's global min/max (ANALYZE
    * runs footer-first when the sidecar is missing — O(files) metadata,
    * no data scan), so `OPTIMIZE ZORDER BY (x, y)` needs no hand-fed
    * normalization metadata. Bounds derived from a superset of the live
    * files only WIDEN (a coarser interleave grid, never a wrong one);
    * equal lo==hi degenerates to a constant dimension, also correct.
    * Numeric columns only — the Morton grid is numeric. */
  def compactZOrderedAuto(spark: SparkSession, table: String,
                          cols: Seq[String],
                          maxFilesPerBucket: Int = 4,
                          maxRecordsPerFile: Long = 0L,
                          maxRetries: Int = 5): Int =
    compactZOrderedN(spark, table, zOrderAutoBounds(spark, table, cols),
      maxFilesPerBucket, maxRecordsPerFile, maxRetries)

  private[graft] def zOrderAutoBounds(spark: SparkSession, table: String,
                                      cols: Seq[String])
      : Seq[(String, Double, Double)] = {
    require(cols.size >= 2,
      s"z-order needs at least 2 columns, got ${cols.size}")
    val snap = snapshot(spark, table)
    cols.map { c =>
      val cp = snap.physicalName(c)
      val dt = snap.schema.flatMap(_.fields.find(_.name == cp))
        .map(_.dataType).getOrElse(throw new IllegalArgumentException(
          s"$table: no column '$c'"))
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"$table: z-order auto-bounds need a numeric column, '$c' is " +
          dt.sql)
      if (fileStats(spark, table, cp).isEmpty) computeStats(spark, table, c)
      val stats = fileStats(spark, table, cp)
      require(stats.nonEmpty,
        s"$table: column '$c' has no zone-map stats even after ANALYZE " +
          "(all-null or unprofilable) — pass explicit bounds")
      def toD(a: Any): Double = a match {
        case n: java.lang.Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"$table: non-numeric zone-map bound $other for '$c'")
      }
      val los = stats.values.map(v => toD(v._1))
      val his = stats.values.map(v => toD(v._2))
      (c, los.min, his.max)
    }
  }

  def compactZOrderedN(spark: SparkSession, table: String,
                       colBounds: Seq[(String, Double, Double)],
                       maxFilesPerBucket: Int = 4,
                       maxRecordsPerFile: Long = 0L,
                       maxRetries: Int = 5): Int = {
    require(colBounds.size >= 2,
      s"z-order needs at least 2 columns, got ${colBounds.size}")
    // the rewrite operates on raw (PHYSICAL-named) file bytes — translate
    // the caller's logical column names once (physical names are stable,
    // so a rename racing the compaction cannot invalidate this)
    val snap0 = snapshot(spark, table)
    val n = compactWith(spark, table, maxFilesPerBucket, maxRetries,
      df => df
        .withColumn("__z", LayoutOps.mortonN(colBounds.map {
          case (c, lo, hi) =>
            LayoutOps.normalize16(col(s"`${snap0.physicalName(c)}`"), lo, hi) }))
        .repartition(col(LayoutOps.BucketCol))
        .sortWithinPartitions(col(LayoutOps.BucketCol), col("__z"))
        .drop("__z"),
      maxRecordsPerFile)
    if (n > 0) // incremental: profiles only the files the rewrite added
      colBounds.foreach { case (c, _, _) => computeStats(spark, table, c) }
    n
  }

  /** Change the table's bucket count in ONE commit — partition evolution
    * for the bucketed layout (the rebucket/OPTIMIZE migration every
    * bucketed table format eventually needs): every live file is read
    * once, re-hashed on the SAME key into `newBuckets` buckets, staged as
    * a fresh file set, and published via the optimistic protocol with
    * every old file removed. (key, nBuckets) is part of the table's
    * identity (see [[readKeys]]); this is the migration that changes it —
    * callers switch their nBuckets after the commit, readers of OLDER
    * versions keep the old layout (time travel intact until [[vacuum]]),
    * and a concurrent writer that wins the commit race is re-read and
    * re-bucketed on retry. Cost: one full table rewrite — the explicit,
    * unhidden price of re-partitioning; schedule it like any maintenance
    * commit. Returns the version the migration committed at. */
  def rebucket(spark: SparkSession, table: String, key: String,
               newBuckets: Int, maxRetries: Int = 5): Long = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    val fs = fsFor(spark, table)
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, table)
      // the rewrite runs over raw (PHYSICAL-named) bytes; the caller's
      // key is logical — identity is recorded physically, so renaming
      // the key never forces a rebucket
      val physKey = snap.physicalName(key)
      // eq-deletes fold through (restaged files postdate the registry,
      // so a plain read would resurrect); tracked identities materialize
      val tracked = snap.props.get(RowTrackingProp).contains("true")
      val re = liveRows(spark, table, snap, snap.entries, snap.schema,
          tracked)
        .withColumn(LayoutOps.BucketCol,
          LayoutOps.bucketId(col(s"`$physKey`"), newBuckets))
        .repartition(col(LayoutOps.BucketCol))
      val newEntries = stageFiles(spark, table, re)
      if (commitNext(fs, table, snap, adds = newEntries,
          removes = snap.entries.map(_.rel).toSet, schema = snap.schema,
          bucketing = Some((physKey, newBuckets)), allowRebucket = true,
          dataChange = false)) // same live rows, new layout
        return snap.version + 1
      newEntries.map(_.rel.split('/')(1)).distinct
        .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
      attempt += 1
      if (attempt > maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"$table: rebucket lost the commit race $maxRetries times")
    }
    0L // unreachable
  }

  private def compactWith(spark: SparkSession, table: String,
                          maxFilesPerBucket: Int, maxRetries: Int,
                          layout: DataFrame => DataFrame,
                          maxRecordsPerFile: Long,
                          maxBuckets: Int = Int.MaxValue): Int =
    rewriteWith(spark, table, maxRetries, layout, maxRecordsPerFile,
      raceName = "compaction") { snap =>
      // worst-first under the slice budget: the most fragmented buckets
      // buy the most read-amplification relief per rewritten byte
      val fragmented: Set[Int] = snap.entries.groupBy(_.bucket)
        .filter(_._2.size > maxFilesPerBucket)
        .toSeq.sortBy { case (b, es) => (-es.size, b) }
        .take(maxBuckets).map(_._1).toSet
      (snap.entries.filter(e => fragmented(e.bucket)), fragmented.size)
    }

  /** The shared optimistic rewrite loop behind [[compactWith]] and
    * [[purgeDeletes]]: `select` picks the files to rewrite from each
    * attempt's FRESH snapshot (plus the success return value); their live
    * rows restage through `layout` (DV-aware read — rewriting is exactly
    * the moment deletion vectors FOLD AWAY: the fresh entries carry no
    * dv) and one commit swaps them; a lost race deletes this attempt's
    * staged files and retries. */
  /** Liveness under write contention (the 100 TB operational reality: a
    * streaming sink lands a commit every trigger while maintenance
    * runs): a lost CAS whose winner left every target file UNTOUCHED —
    * the append-during-maintenance steady state — re-commits the SAME
    * staged rewrite against the new head: O(one manifest) per retry,
    * never a re-stage, with a small jittered backoff so the rewriter
    * does not stampede the very next trigger's CAS. `maxRetries` bounds
    * only the expensive path (a winner that touched a target file —
    * delete, DV change, rebucket — invalidates the staged bytes and
    * forces re-select + re-stage); cheap re-commits get a generous
    * fixed budget of their own. The re-commit carries the NEW head's
    * schema (an interleaved append may have union-evolved it — stamping
    * the stale schema would silently revert the evolution). */
  private def rewriteWith(spark: SparkSession, table: String,
                          maxRetries: Int, layout: DataFrame => DataFrame,
                          maxRecordsPerFile: Long, raceName: String)
                         (select: Snapshot => (Seq[FileEntry], Int)): Int = {
    val fs = fsFor(spark, table)
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, table)
      val (toRewrite, result) = select(snap)
      if (toRewrite.isEmpty) return 0
      // row tracking: a rewrite is a MOVE, not a change — stage through
      // the lineage read so every surviving row's (_row_id,
      // _row_commit_version) materializes into the new files; without
      // it a compaction would mint fresh identities for 100 TB of
      // unchanged rows
      val tracked = snap.props.get(RowTrackingProp).contains("true")
      // equality deletes FOLD here: the rewrite's read drops the matched
      // rows, the restaged files carry the rewrite's sequence (so the
      // registry entry stops addressing them), and commitNext GCs
      // fully-covered entries in the same commit
      val merged = layout(liveRows(spark, table, snap, toRewrite,
        snap.schema, tracked))
      val newEntries = stageFiles(spark, table, merged, maxRecordsPerFile)
      val removes = toRewrite.map(_.rel).toSet
      // live rows are identical before and after: a rewrite commit is
      // dataChange=false, so change feeds and streaming subscribers skip
      // it instead of replaying the reorganized files
      var cur = snap
      var recommits = 0
      var stagedValid = true
      while (stagedValid) {
        if (commitNext(fs, table, cur, adds = newEntries,
            removes = removes, schema = cur.schema,
            dataChange = false))
          return result
        val fresh = snapshot(spark, table)
        val live = fresh.entries.map(e => e.rel -> e).toMap
        val intact = toRewrite.forall(e => live.get(e.rel).contains(e)) &&
          fresh.bucketing == snap.bucketing &&
          // an equality-delete REGISTRATION interleaving is a props-only
          // commit that leaves every target file untouched — but it
          // still invalidates the staged bytes: the rewrite baked the
          // OLD registry into its rows (liveRows at staging), and
          // re-committing them would stamp addV PAST the new entry's
          // version, so the new delete would retire via the GC without
          // ever applying — silently resurrecting its keys (caught by
          // EqFoldRaceSpec). A registry drift forces the expensive
          // re-stage, which re-reads through the fresh registry.
          parseEqDeletes(fresh.props) == parseEqDeletes(snap.props)
        if (intact && recommits < 30) {
          recommits += 1
          Thread.sleep(10L + scala.util.Random.nextInt(60))
          cur = fresh
        } else stagedValid = false
      }
      newEntries.map(_.rel.split('/')(1)).distinct
        .foreach(u => fs.delete(new Path(table, s"files/$u"), true))
      attempt += 1
      if (attempt > maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"$table: $raceName lost the commit race $maxRetries times " +
            "(targets kept drifting — concurrent row-level writes " +
            "touched the slice every attempt)")
    }
    0 // unreachable
  }

  /** The scheduled-maintenance driver (closes the analyze_layout loop):
    * ONE call derives the table's outstanding maintenance actions — the
    * same per-bucket verdicts `CALL analyze_layout` reports — and
    * APPLIES them under the bounded-slice controls: fold any unfolded
    * equality deletes, compact the `maxBuckets` WORST fragmented
    * buckets (worst-first, so repeated calls converge), and purge
    * heavily-deleted files past `maxDeletedFraction`. Every constituent
    * commit is a dataChange=false rewrite (change feeds and streaming
    * subscribers see nothing), each with the optimistic-retry + jittered
    * backoff liveness the rewrite loop already carries. Returns the
    * applied counts plus `remaining_actions` — 0 means the layout
    * converged and the scheduler can back off. At 100 TB this is the
    * one cron entry per table: bounded I/O per call, convergent across
    * calls. */
  def autoMaintain(spark: SparkSession, table: String,
                   maxFilesPerBucket: Int = 4,
                   maxDeletedFraction: Double = 0.1,
                   maxBuckets: Int = 8): Map[String, Int] = {
    require(maxFilesPerBucket >= 1 && maxBuckets >= 1,
      "maxFilesPerBucket and maxBuckets must be >= 1")
    require(maxDeletedFraction >= 0.0 && maxDeletedFraction <= 1.0,
      s"maxDeletedFraction must be in [0,1], got $maxDeletedFraction")
    def actionsOf(snap: Snapshot): Int = {
      val fragmented = snap.entries.groupBy(_.bucket)
        .count(_._2.size > maxFilesPerBucket)
      val dirty = snap.entries.count(e => e.dv.exists(d =>
        e.rows.fold(true)(r =>
          r == 0L || d.ndel.toDouble / r >= maxDeletedFraction)))
      val eq = if (parseEqDeletes(snap.props).nonEmpty) 1 else 0
      fragmented + dirty + eq
    }
    val snap0 = snapshot(spark, table)
    val folded =
      if (parseEqDeletes(snap0.props).nonEmpty) foldEqDeletes(spark, table)
      else 0
    val compacted = compact(spark, table, maxFilesPerBucket,
      maxBuckets = maxBuckets)
    val purged = purgeDeletes(spark, table, maxDeletedFraction)
    Map(
      "eq_folded_files" -> folded,
      "compacted_buckets" -> compacted,
      "purged_files" -> purged,
      "remaining_actions" -> actionsOf(snapshot(spark, table)))
  }

  /** Remove data directories no retained manifest references and drop
    * manifests (and checkpoints) older than the newest `keepVersions`
    * (time travel shrinks accordingly — a vacuumed version fails loudly on
    * read). Before pruning, the oldest retained version is materialized as
    * a `.checkpoint` so the surviving log is self-contained: retained
    * delta manifests resolve against it instead of walking into the
    * deleted range. Orphans from crashed writers (including aborted or
    * crashed DSv2 INSERTs/epochs, which stage under `files/<uuid>` and
    * never publish) are exactly the unreferenced directories.
    *
    * `orphanRetentionMs` is the in-flight protection horizon (the Delta
    * vacuum-retention idea): an unreferenced directory younger than it is
    * presumed to be a RACING writer's stage — between staging and its CAS
    * commit every writer's files are unreferenced by design — and is left
    * alone. Production sweeps set it comfortably above the longest
    * stage-to-commit window; 0 (the default here) sweeps everything and is
    * only safe when no writer can be in flight. Returns the deleted
    * paths. */
  // --- named tags (version pins) ----------------------------------------

  /** RESTORE (the public Delta rollback idea): make the table's head a
    * NEW commit whose content is exactly the snapshot at `version` —
    * metadata-only, no data rewrite, history preserved (the rollback is
    * itself a version, so it can be inspected, time-traveled past, or
    * undone by a second restore). The delta is ENTRY-exact, not
    * path-exact: a file present in both head and target but with a
    * different deletion vector is removed+re-added, so restoring past a
    * merge-on-read delete genuinely resurrects the rows.
    *
    * Contracts held across the rollback:
    *  - dropped-column tombstones are PERMANENT: the restored schema
    *    sheds any column the current head has tombstoned (its bytes in
    *    the restored files stay projected away), and the tombstone sets
    *    union — restore can bring data back, never a dropped column.
    *  - bucket identity travels FROM THE TARGET manifest (a restore
    *    across a rebucket resurrects the old layout, correctly labeled);
    *    a target that predates identity recording under an identity-
    *    recorded head is REFUSED — its files' layout cannot be proven,
    *    and committing them under the head's identity would rebuild the
    *    silent-mixed-layout race the log exists to kill.
    *  - restore-vs-vacuum: files only the target references may be
    *    swept by a concurrent vacuum. Narrowed from both ends, the same
    *    pattern as tag(): existence-checked immediately before the
    *    commit here, re-verified immediately after; vacuum re-resolves
    *    the head right before its destructive step.
    *
    * Returns the new head version. */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val fs = fsFor(spark, table)
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val base = snapshot(spark, table)
      val target = snapshot(spark, table, Some(version))
      if (target.bucketing.isEmpty && base.bucketing.isDefined)
        throw new IllegalStateException(
          s"$table: version $version predates bucket-identity recording " +
            "but the current head declares an identity — the target " +
            "files' layout cannot be proven, and restoring them would " +
            "risk a silent mixed-bucket table. Restore to an identity-" +
            "recorded version instead.")
      val baseBy = base.entries.map(e => e.rel -> e).toMap
      val targetBy = target.entries.map(e => e.rel -> e).toMap
      val removes = base.entries
        .filterNot(e => targetBy.get(e.rel).contains(e)).map(_.rel).toSet
      val adds = target.entries.filterNot(e => baseBy.get(e.rel).contains(e))
      def missingOf(es: Seq[FileEntry]): Seq[String] = es
        .flatMap(e => e.rel +: e.dv.map(_.rel).toSeq)
        .filterNot(rel => fs.exists(new Path(s"$table/$rel")))
      val missing = missingOf(adds)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"$table: cannot restore to version $version — ${missing.size} " +
            s"file(s) it references were vacuumed (e.g. ${missing.head}). " +
            "Tag versions that must stay restorable.")
      val restoredSchema = target.schema.map { sch =>
        StructType(sch.fields.filterNot(f =>
          base.dropped.exists(_.equalsIgnoreCase(f.name))))
      }.orElse(base.schema)
      // metadata (properties, incl. constraints) restores WITH the data —
      // the target state is self-consistent under its own constraints,
      // the Delta RESTORE posture. Column-mapping renames roll back with
      // the schema (minus entries whose physical column the tombstone
      // shed — a dangling map entry would alias a non-column).
      val restoredRenames = target.renames.filter { case (_, p) =>
        restoredSchema.exists(_.fieldNames.contains(p)) }
      val ok = commitNext(fs, table, base, adds, removes, txn = None,
        schema = restoredSchema,
        bucketing = target.bucketing.orElse(base.bucketing),
        allowRebucket = true,
        dropped = Some(base.dropped ++ target.dropped),
        props = Some(target.props),
        renames = Some(restoredRenames))
      if (ok) {
        val gone = missingOf(adds)
        if (gone.nonEmpty)
          throw new IllegalStateException(
            s"$table: a vacuum swept ${gone.size} restored file(s) (e.g. " +
              s"${gone.head}) while the restore to v$version was " +
              "committing — the new head v" + (base.version + 1) +
              " is dangling; restore again to a retained version.")
        committed = base.version + 1
      } else {
        attempt += 1
        require(attempt < 50,
          s"$table: restore lost the commit race $attempt times — giving up")
      }
    }
    committed
  }

  // --- write-audit-publish (WAP) staged commits -------------------------

  private def stagedSuffix = ".staged"

  private def stagedName(id: String): String =
    s"staged-$id-${java.util.UUID.randomUUID()}$stagedSuffix"

  private val WapId = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r

  /** Staged manifests of a WAP id (newest naming scheme only): each
    * staging is its own immutable file, so concurrent stagers under one
    * id never race a merge. */
  private def stagedFiles(fs: FileSystem, table: String,
                          id: Option[String]): Seq[Path] = {
    val dir = logDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(stagedSuffix))
      .filter(p => id.forall(i =>
        p.getName.stripPrefix("staged-").stripSuffix(stagedSuffix)
          .dropRight(37) == i))
  }

  /** Distinct WAP ids with staged-but-unpublished commits. */
  def stagedIds(spark: SparkSession, table: String): Seq[String] =
    stagedFiles(fsFor(spark, table), table, None)
      .map(_.getName.stripPrefix("staged-").stripSuffix(stagedSuffix)
        .dropRight(37))
      .distinct.sorted

  /** The union of a WAP id's staged adds: (entries, per-staging schemas,
    * per-staging bucket identities). */
  private[graft] def stagedAdds(spark: SparkSession, table: String,
                                id: String)
      : (Seq[FileEntry], Seq[StructType], Seq[(String, Int)]) = {
    val fs = fsFor(spark, table)
    val files = stagedFiles(fs, table, Some(id))
    val parsed = files.sortBy(_.getName).map(p => readBytes(fs, p))
    (parsed.flatMap(b => parseDelta(b)._1),
      parsed.flatMap(parseSchema),
      parsed.flatMap(parseBucketing))
  }

  /** Record already-staged data files as a PENDING (write-audit-publish)
    * commit under `wapId` — invisible to every reader of the table until
    * [[publishStaged]], but protected from [[vacuum]]'s orphan sweep and
    * readable through [[readStaged]] (or SQL `t@wap.<id>`) for audits.
    * The Iceberg WAP flow on this log. Each call lands one immutable
    * staged manifest, so concurrent stagers under one id compose. */
  private[graft] def stagePublish(spark: SparkSession, table: String,
                                  wapId: String, adds: Seq[FileEntry],
                                  schema: StructType,
                                  bucketing: (String, Int)): Unit = {
    require(WapId.matches(wapId),
      s"invalid WAP id '$wapId': [A-Za-z0-9][A-Za-z0-9._-]*")
    val fs = fsFor(spark, table)
    require(atomicPublish(fs, table,
      new Path(logDir(table), stagedName(wapId)),
      renderDelta(adds, Seq.empty, txn = None, schema = Some(schema),
        bucketing = Some(bucketing))),
      s"$table: staged-manifest publish collided (uuid reuse?) — retry")
  }

  /** Stage a batch under a WAP id (the Scala write half of
    * write-audit-publish): constraints enforce NOW (an auditor must see
    * the rows that would land), files stage like any append, and one
    * staged manifest records them — the table's readers see nothing
    * until [[publishStaged]]. */
  def stageAppend(spark: SparkSession, table: String, batch: DataFrame,
                  key: String, nBuckets: Int, wapId: String): Unit = {
    val snap = snapshot(spark, table)
    val tagged = toPhysical(
      enforceConstraints(spark, table, batch)
        .withColumn(LayoutOps.BucketCol,
          LayoutOps.bucketId(col(key), nBuckets)), snap)
    val physKey = snap.physicalName(key)
    snap.bucketing.foreach { case (k, n) =>
      require(k == physKey && n == nBuckets,
        s"$table is bucketed as (key=${snap.logicalName(k)}, nBuckets=$n)" +
          s" but stageAppend was called with (key=$key, nBuckets=$nBuckets)")
    }
    val entries = stageFiles(spark, table, tagged)
    stagePublish(spark, table, wapId, entries,
      mergeSchemas(StructType(Nil), tagged.schema), (physKey, nBuckets))
  }

  /** The AUDIT view of a WAP id: the table's head plus the id's staged
    * rows — what the table WOULD contain after [[publishStaged]]. */
  def readStaged(spark: SparkSession, table: String,
                 wapId: String): DataFrame = {
    val snap = snapshot(spark, table)
    val (adds, schemas, _) = stagedAdds(spark, table, wapId)
    require(adds.nonEmpty || schemas.nonEmpty,
      s"$table: nothing staged under WAP id '$wapId' (have: " +
        s"${stagedIds(spark, table).mkString(", ")})")
    val merged = schemas.foldLeft(snap.schema.getOrElse(StructType(Nil)))(
      (acc, sc) => mergeSchemas(acc, sc, snap.dropped))
    // equality-delete-aware on the HEAD portion: the audit must show
    // what a post-publish read would serve, and that read anti-joins
    // any unfolded registry. Staged files are absent from snap.entries,
    // so their rows join a null addV and the kill condition is never
    // true for them — exactly right, since a publish lands at a version
    // AFTER every registered delete.
    fromPhysical(
      liveRows(spark, table, snap, snap.entries ++ adds, Some(merged)),
      snap)
  }

  /** PUBLISH a WAP id: every staging under the id lands as ONE atomic
    * commit on the current head (schema union-evolves; the staged bucket
    * identity must still match — a rebucket between stage and publish
    * fails loudly via the identity check, exactly like any racing
    * writer). The staged manifests are deleted after the commit, so a
    * re-publish of the same id finds nothing and throws. Returns the new
    * version. */
  def publishStaged(spark: SparkSession, table: String, wapId: String,
                    maxRetries: Int = 5): Long = {
    val fs = fsFor(spark, table)
    val files = stagedFiles(fs, table, Some(wapId))
    require(files.nonEmpty,
      s"$table: nothing staged under WAP id '$wapId' (have: " +
        s"${stagedIds(spark, table).mkString(", ")})")
    val parsed = files.sortBy(_.getName).map(p => readBytes(fs, p))
    val adds = parsed.flatMap(b => parseDelta(b)._1)
    val schemas = parsed.flatMap(parseSchema)
    val identities = parsed.flatMap(parseBucketing).distinct
    require(identities.size <= 1,
      s"$table: WAP id '$wapId' staged under conflicting bucket " +
        s"identities ${identities.mkString(", ")} — drop and re-stage")
    var attempt = 0
    while (attempt <= maxRetries) {
      val snap = snapshot(spark, table)
      val merged = schemas.foldLeft(snap.schema.getOrElse(
        schemas.headOption.getOrElse(StructType(Nil))))(
        (acc, sc) => mergeSchemas(acc, sc, snap.dropped))
      if (commitNext(fs, table, snap, adds = adds, removes = Set.empty,
          txn = Some((s"wap:$wapId", 0L)),
          schema = Some(merged),
          bucketing = identities.headOption.orElse(snap.bucketing))) {
        files.foreach(p => fs.delete(p, false))
        return snap.version + 1
      }
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: publish of WAP id '$wapId' lost the commit race " +
        s"$maxRetries times")
  }

  /** Abandon a WAP id: its staged manifests delete and the staged data
    * files become ordinary orphans for [[vacuum]]. Returns the number of
    * stagings dropped. */
  def dropStaged(spark: SparkSession, table: String, wapId: String): Int = {
    val fs = fsFor(spark, table)
    val files = stagedFiles(fs, table, Some(wapId))
    files.foreach(p => fs.delete(p, false))
    files.size
  }

  // --- column mapping (ALTER TABLE RENAME COLUMN) ----------------------

  /** RENAME a column as ONE metadata-only commit — the Delta
    * column-mapping design: the stored files, the manifest's recorded
    * schema, the bucket identity, and every zone-map/bloom sidecar keep
    * the column's PHYSICAL (birth) name forever; only the logical→
    * physical map in the commit header changes. No data file is
    * rewritten, no sidecar re-ANALYZEs, time travel serves each version
    * under its own names, and renaming the BUCKET KEY is safe because
    * layout identity is physical.
    *
    * Refuses when a CHECK constraint references the column (the stored
    * predicate SQL would silently stop resolving — drop the constraint
    * first, the DROP COLUMN posture) and on any logical-name collision
    * (case-insensitive, matching Spark's resolver). Returns the new
    * version. */
  def renameColumn(spark: SparkSession, table: String,
                   oldName: String, newName: String): Long = {
    require(oldName != newName, s"rename to the same name '$oldName'")
    require(newName.nonEmpty && !newName.contains('\t') &&
      !newName.contains('\n'), "column names must be non-empty single-line")
    require(oldName != LayoutOps.BucketCol && newName != LayoutOps.BucketCol,
      s"${LayoutOps.BucketCol} is the internal layout column")
    val fs = fsFor(spark, table)
    var attempt = 0
    while (attempt <= 5) {
      val snap = snapshot(spark, table)
      require(snap.schema.isDefined,
        s"$table carries no recorded schema (pre-v2 manifest) — cannot " +
          "RENAME COLUMN")
      val next = renamedMap(table, snap, oldName, newName)
      if (commitNext(fs, table, snap, adds = Seq.empty, removes = Set.empty,
          txn = None, schema = snap.schema, bucketing = snap.bucketing,
          renames = Some(next)))
        return snap.version + 1
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: RENAME COLUMN lost the commit race 6 times")
  }

  /** The rename-map update for `oldName` → `newName`, with every
    * validity check (shared by the Scala API and the SQL ALTER path,
    * which re-derives it on each CAS attempt's fresh snapshot). */
  private[graft] def renamedMap(table: String, snap: Snapshot,
                                oldName: String, newName: String)
      : Map[String, String] = {
    require(oldName != newName, s"rename to the same name '$oldName'")
    require(newName.nonEmpty && !newName.contains('\t') &&
      !newName.contains('\n'), "column names must be non-empty single-line")
    require(oldName != LayoutOps.BucketCol && newName != LayoutOps.BucketCol,
      s"${LayoutOps.BucketCol} is the internal layout column")
    val logicalNames = snap.logicalSchema.get.fieldNames.toSeq
    require(logicalNames.exists(_ == oldName),
      s"column '$oldName' does not exist in $table (have: " +
        s"${logicalNames.filterNot(_ == LayoutOps.BucketCol).mkString(", ")})")
    require(!logicalNames.exists(n => n != oldName &&
        n.equalsIgnoreCase(newName)),
      s"cannot rename '$oldName' to '$newName': a column of that name " +
        s"already exists in $table")
    constraintsOf(snap).toSeq.sortBy(_._1).foreach { case (cn, sql) =>
      require(!constraintRefNames(sql).exists(_.equalsIgnoreCase(oldName)),
        s"cannot rename '$oldName': CHECK constraint '$cn' references " +
          "it — drop the constraint first")
    }
    val phys = snap.physicalName(oldName)
    val next = snap.renames - oldName
    if (newName == phys) next else next + (newName -> phys)
  }

  /** Column names a CHECK predicate references (top-level) — used by
    * DROP/RENAME COLUMN refusals. */
  private[graft] def constraintRefNames(sql: String): Seq[String] =
    SparkSession.active.sessionState.sqlParser.parseExpression(sql).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.nameParts.head
    }.distinct

  // --- table properties & CHECK constraints (log-versioned metadata) ---

  /** Property-key namespace for CHECK constraints: `constraint.<name>`
    * maps to the constraint's boolean SQL predicate. */
  val ConstraintPrefix = "constraint."

  /** The head version's table-property map. */
  def properties(spark: SparkSession, table: String): Map[String, String] =
    snapshot(spark, table).props

  /** The CHECK constraints of a snapshot: name → boolean SQL predicate. */
  def constraintsOf(snap: Snapshot): Map[String, String] =
    snap.props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** SET/UNSET user table properties as ONE metadata-only commit (the
    * `ALTER TABLE SET TBLPROPERTIES` kernel). Constraint keys are
    * managed by [[addConstraint]]/[[dropConstraint]] — setting one here
    * would skip data validation, so it refuses. */
  def setProperties(spark: SparkSession, table: String,
                    set: Map[String, String] = Map.empty,
                    unset: Set[String] = Set.empty): Long = {
    require((set.keySet ++ unset).forall(!_.startsWith(ConstraintPrefix)),
      s"'$ConstraintPrefix*' properties are managed by addConstraint/" +
        "dropConstraint (they validate data; a raw SET would not)")
    require(set.keySet.forall(k => k.nonEmpty && !k.contains('\t') &&
      !k.contains('\n')), "property keys must be non-empty single-line")
    commitProps(spark, table)(p => p -- unset ++ set)
  }

  /** ADD a CHECK constraint as one metadata commit. SQL-standard
    * semantics: a row violates only when the predicate evaluates FALSE
    * (NULL passes — express NOT NULL as `col IS NOT NULL`). The
    * predicate must resolve against the current schema; unless
    * `validate=false` (the caller — e.g. Spark's own ADD CONSTRAINT
    * exec — already scanned), existing rows are validated with ONE
    * bounded scan that stops at the first violation. Enforced from then
    * on by every writer: per-row during the write pass in the Scala
    * paths, and by Spark's native CheckInvariant on the DSv2 SQL
    * paths (the table reports its constraints). */
  def addConstraint(spark: SparkSession, table: String, name: String,
                    predicateSql: String, validate: Boolean = true): Long = {
    require(TagName.matches(name),
      s"invalid constraint name '$name': [A-Za-z0-9][A-Za-z0-9._-]*")
    val pass = coalesce(expr(predicateSql), lit(true))
    val head = read(spark, table)
    if (validate) {
      val bad = head.filter(!pass).limit(1).count()
      if (bad > 0) throw new IllegalStateException(
        s"$table: cannot add constraint '$name': existing rows violate " +
          s"CHECK ($predicateSql)")
    } else {
      // resolution probe only — analysis throws on an unresolvable or
      // non-boolean predicate without touching data
      head.limit(0).filter(pass).queryExecution.analyzed
    }
    commitProps(spark, table) { p =>
      val key = ConstraintPrefix + name
      if (p.contains(key)) throw new IllegalStateException(
        s"$table: constraint '$name' already exists (drop it first)")
      p + (key -> predicateSql)
    }
  }

  /** DROP a CHECK constraint as one metadata commit. */
  def dropConstraint(spark: SparkSession, table: String, name: String,
                     ifExists: Boolean = false): Long =
    commitProps(spark, table) { p =>
      val key = ConstraintPrefix + name
      if (!p.contains(key) && !ifExists)
        throw new IllegalArgumentException(
          s"$table: no constraint named '$name'")
      p - key
    }

  /** CAS loop for metadata-only property commits; a no-op change commits
    * nothing and returns the current version. */
  private def commitProps(spark: SparkSession, table: String)
                         (f: Map[String, String] => Map[String, String])
      : Long = {
    val fs = fsFor(spark, table)
    var attempt = 0
    while (attempt < 20) {
      val snap = snapshot(spark, table)
      require(snap.schema.isDefined,
        s"$table carries no recorded schema (pre-v2 manifest) — cannot " +
          "hold table properties")
      val next = f(snap.props)
      if (next == snap.props) return snap.version
      if (commitNext(fs, table, snap, adds = Seq.empty, removes = Set.empty,
          txn = None, schema = snap.schema, bucketing = snap.bucketing,
          props = Some(next)))
        return snap.version + 1
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: property commit lost the race 20 times — giving up")
  }

  /** Wrap `df` so every row is CHECKed against the table's constraints
    * DURING the write pass — zero extra jobs, the row-local projection
    * rides the staging scan; a violating row fails the write with the
    * constraint name and the row's JSON. Applied by the Scala write
    * paths; the DSv2 SQL paths get the same checks natively from Spark
    * because [[graft.sources.TxSparkTable]] reports the constraints. */
  /** GENERATED ALWAYS AS computation for the Scala write paths (the
    * DSv2 task writers resolve the same semantics executor-side in
    * TxDataWriter): a batch omitting the generated column gets it
    * computed; NULL provided → computed; a non-null provided value must
    * EQUAL the computed value or the row fails the write loudly. The
    * expression speaks LOGICAL names, like CHECK constraints. */
  private[graft] def applyGenerated(spark: SparkSession, snap: Snapshot,
                                    df: DataFrame): DataFrame = {
    val gens = snap.schema.toSeq.flatMap(_.fields)
      .filter(f => f.metadata.contains("GENERATION_EXPRESSION") &&
        !snap.dropped.exists(_.equalsIgnoreCase(f.name)))
      .map(f => (snap.logicalName(f.name),
        f.metadata.getString("GENERATION_EXPRESSION"), f.dataType))
    gens.foldLeft(df) { case (d, (name, sql, dt)) =>
      val computed = expr(sql).cast(dt)
      if (!d.columns.exists(_.equalsIgnoreCase(name)))
        d.withColumn(name, computed)
      else {
        val c = col(s"`$name`")
        d.withColumn(name,
          when(c.isNull, computed)
            .when(c === computed, c)
            .otherwise(raise_error(concat(
              lit(s"GENERATED column conflict ($name := $sql): computed "),
              computed.cast("string"), lit(" but the write provided "),
              c.cast("string"))).cast(dt)))
      }
    }
  }

  private[graft] def enforceConstraints(spark: SparkSession, table: String,
                                        df0: DataFrame): DataFrame = {
    if (!isTxTable(spark, table)) return df0
    val snap = snapshot(spark, table)
    val df = applyGenerated(spark, snap, df0)
    // NOT NULL enforcement for the Scala write paths (the DSv2 SQL paths
    // get it natively from Spark's TableOutputResolver because the
    // catalog reports the recorded nullability): a union-evolving batch
    // MISSING a non-nullable column would store NULL in every row —
    // refuse at plan time; a PRESENT column gets the same zero-extra-job
    // ride-along row check as CHECK constraints below.
    val present0 = df.columns.map(_.toLowerCase).toSet
    val notNull = snap.schema.toSeq.flatMap(_.fields)
      .filter(f => !f.nullable && f.name != LayoutOps.BucketCol)
      .map(f => snap.logicalName(f.name))
    val (nnPresent, nnMissing) =
      notNull.partition(c => present0(c.toLowerCase))
    require(nnMissing.isEmpty,
      s"$table: batch omits non-nullable column(s) " +
        s"${nnMissing.mkString(", ")} — the stored value would be NULL")
    val df1 = nnPresent.foldLeft(df)((d, c) =>
      d.filter(col(s"`$c`").isNotNull ||
        isnull(raise_error(concat(
          lit(s"NOT NULL constraint on '$c' violated by row: "),
          to_json(struct(df.columns.toIndexedSeq.map(col): _*)))))))
    val cons = constraintsOf(snap).toSeq.sortBy(_._1)
    if (cons.isEmpty) return df1
    // a union-evolving batch may omit a constrained column — the stored
    // value will be NULL, so the check must SEE null there (SQL CHECK
    // passes on NULL, and expressions like coalesce(b,-1)>0 must still
    // evaluate), not fail analysis on an unresolvable name
    val schemaType: Map[String, org.apache.spark.sql.types.DataType] =
      snap.schema.toSeq.flatMap(_.fields)
        .map(f => f.name.toLowerCase -> f.dataType).toMap
    val present = present0
    cons.foldLeft(df1) { case (d, (name, sql)) =>
      val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          ua.nameParts.head
      }.distinct
      val missing = refs.filterNot(r => present(r.toLowerCase))
      val widened = missing.foldLeft(d)((dd, m) => dd.withColumn(m,
        lit(null).cast(schemaType.getOrElse(m.toLowerCase,
          org.apache.spark.sql.types.StringType))))
      val checked = widened.filter(coalesce(expr(sql), lit(true)) ||
        isnull(raise_error(concat(
          lit(s"CHECK constraint '$name' ($sql) violated by row: "),
          to_json(struct(df.columns.toIndexedSeq.map(col): _*))))))
      if (missing.isEmpty) checked
      else checked.select(d.columns.toIndexedSeq.map(col): _*)
    }
  }

  private def tagPath(table: String, name: String) =
    new Path(logDir(table), s"tag-$name")

  private val TagName = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r

  /** Pin a committed version under an immutable NAME (the public Iceberg
    * tag idea): `tag(t, "train-v1")` makes the exact corpus snapshot a
    * training run consumed addressable forever — readable as
    * `spark.table("txcat.\`/t@train-v1\`")` — and [[vacuum]] keeps the
    * tagged version's manifests and files alive regardless of the
    * retention horizon. Tags are immutable (re-tagging a name throws;
    * [[untag]] releases the pin); the `v<digits>` shape is reserved for
    * direct version addressing. Returns the pinned version. */
  def tag(spark: SparkSession, table: String, name: String,
          version: Option[Long] = None): Long = {
    require(TagName.matches(name) && !name.matches("^v\\d+$") &&
        !name.startsWith("wap.") && !name.startsWith("branch."),
      s"invalid tag name '$name': [A-Za-z0-9][A-Za-z0-9._-]*; " +
        "'v<digits>' is reserved for version addressing, 'wap.*' for " +
        "staged-commit audit reads, and 'branch.*' for branch reads")
    val fs = fsFor(spark, table)
    val v = version.getOrElse(snapshot(spark, table).version)
    snapshot(spark, table, Some(v)) // must be resolvable — throws if not
    val p = tagPath(table, name)
    if (!atomicPublish(fs, table, p,
        s"$v\n".getBytes(StandardCharsets.UTF_8)))
      throw new IllegalStateException(
        s"$table: tag '$name' already exists (tags are immutable — " +
          "untag first to move it)")
    // close the tag-vs-vacuum window: a vacuum that listed tags before
    // this one landed may have collected the version — re-validate after
    // publishing and withdraw the dangling pin loudly (vacuum's own
    // second listing right before manifest deletion narrows the window
    // from the other side)
    try snapshot(spark, table, Some(v))
    catch {
      case e: Exception =>
        fs.delete(p, false)
        throw new IllegalStateException(
          s"$table: version $v was vacuumed while tag '$name' was being " +
            "created — the pin was withdrawn; re-run against a retained " +
            "version", e)
    }
    v
  }

  /** All tags of the table: name -> pinned version. A malformed or
    * half-written tag file is SKIPPED (never bricks tag lookups or
    * vacuum); [[tag]]'s atomic publish makes well-formedness the normal
    * case. */
  def tags(spark: SparkSession, table: String): Map[String, Long] = {
    val fs = fsFor(spark, table)
    val dir = logDir(table)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("tag-"))
      .flatMap { st =>
        val name = st.getPath.getName.stripPrefix("tag-")
        scala.util.Try(new String(readBytes(fs, st.getPath),
          StandardCharsets.UTF_8).trim.toLong).toOption.map(name -> _)
      }.toMap
  }

  /** Release a tag's pin. The version stays readable until a later
    * [[vacuum]] collects it. */
  def untag(spark: SparkSession, table: String, name: String): Boolean =
    fsFor(spark, table).delete(tagPath(table, name), false)

  // --- shallow clone (zero-copy table fork) -------------------------------

  /** Props recording a clone's provenance: the source path, the pinned
    * source version, and the name of the pin tag this clone holds in the
    * SOURCE's log. */
  private[graft] val CloneSourceProp = "graft.clone.source"
  private[graft] val CloneVersionProp = "graft.clone.version"
  private[graft] val CloneTagProp = "graft.clone.tag"

  /** SHALLOW CLONE (the Delta CLONE / Iceberg snapshot-export idea): a
    * NEW table at `target` whose v0 manifest REFERENCES the source's
    * live files at `version` — zero bytes read or copied at create. The
    * cross-table references are ordinary manifest rels, relativized from
    * the clone's own directory (`../…/files/…`), so every reader
    * resolves them through the same `$table/$rel` join as native files;
    * hidden-partition segments survive inside the rel, so partition
    * pruning keeps working on day one. Zone-map/bloom sidecars are NOT
    * inherited (they key by the source's rel forms) — the clone starts
    * stats-less and re-ANALYZEs on demand.
    *
    * Both sides then diverge independently: clone appends/deletes/
    * compactions land CLONE-LOCAL files and never touch the source;
    * source commits never appear in the clone. Branches cover same-table
    * forks; CLONE covers the dev-against-prod-data and experiment-
    * snapshot shapes that need an independent lifecycle and their own
    * maintenance schedule.
    *
    * Vacuum contract: the clone pins the source VERSION with an
    * immutable `clone.<token>` tag in the SOURCE's log — the exact pin
    * tags and branch bases already use — so source vacuum retains the
    * version's files (visible in the source's `#refs`) until
    * [[releaseClone]] drops the pin. The clone's own vacuum walks only
    * the clone's directory, so the shared files are structurally out of
    * its reach; clone-side rewrites (compact/Z-order/purge) naturally
    * LOCALIZE rows into the clone, shrinking the dependency over time.
    *
    * Requires source and target on the SAME filesystem (the relative
    * reference must resolve). Cloning a clone composes (the new clone
    * pins the intermediate clone's version; rel chains of `..` resolve
    * normally). */
  def cloneTable(spark: SparkSession, source: String, target: String,
                 version: Option[Long] = None): Snapshot = {
    val sfs = fsFor(spark, source)
    val tfs = fsFor(spark, target)
    require(sfs.getUri == tfs.getUri,
      s"shallow clone requires one filesystem: source is ${sfs.getUri}, " +
        s"target is ${tfs.getUri} — use a deep copy across filesystems")
    require(!isTxTable(spark, target),
      s"$target already holds a TxTable — clone refuses to overwrite")
    val v = version.getOrElse(snapshot(spark, source).version)
    val snap = snapshot(spark, source, Some(v))
    // a clone remaps ENTRY rels into the source's tree, but the
    // equality-delete registry's key-sidecar rels live in PROPS — a
    // cloned registry would point at paths the clone does not hold.
    // Refuse until the source folds (never a silent wrong answer).
    require(parseEqDeletes(snap.props).isEmpty,
      s"$source@v$v carries unfolded equality deletes — run " +
        "foldEqDeletes (CALL fold_eq_deletes) on the source, then clone")
    // pin FIRST: once the tag is up, vacuum cannot collect the version
    // (tag() itself re-validates against the vacuum race)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tagName = s"clone.$token"
    tag(spark, source, tagName, Some(v))
    try {
      val srcAbs = java.nio.file.Paths.get(
        sfs.makeQualified(new Path(source)).toUri.getPath)
      val tgtAbs = java.nio.file.Paths.get(
        tfs.makeQualified(new Path(target)).toUri.getPath)
      val prefix = tgtAbs.relativize(srcAbs).toString
      def reref(rel: String) = s"$prefix/$rel"
      val entries = snap.entries.map(e => e.copy(rel = reref(e.rel),
        dv = e.dv.map(d => d.copy(rel = reref(d.rel)))))
      val props = snap.props ++ Map(
        CloneSourceProp -> source, CloneVersionProp -> v.toString,
        CloneTagProp -> tagName)
      require(tryPublishFull(tfs, target, 0L, entries,
          txn = Some((s"clone:$source", v)),
          schema = snap.schema, bucketing = snap.bucketing,
          dropped = snap.dropped, props = props,
          renames = snap.renames),
        s"$target already initialized (version 0 exists)")
      Snapshot(0L, entries, snap.schema, snap.bucketing, snap.dropped,
        props, snap.renames)
    } catch {
      case e: Throwable => untag(spark, source, tagName); throw e
    }
  }

  /** Rewrite a clone's still-SHARED files (rels crossing out of the
    * table, `../…`) into table-local bytes — the incremental deep copy.
    * One dataChange=false commit through the same DV-aware rewrite
    * kernel as compaction (deletion vectors fold away; the bucket and
    * hidden-partition layout recompute from the rows). Returns the
    * number of files localized; after it returns 0 the clone references
    * nothing outside its own directory and [[releaseClone]] is safe
    * regardless of any later source vacuum. Bounded by the shared files
    * alone — run it in slices on a huge clone by compacting first. */
  def localizeClone(spark: SparkSession, target: String,
                    maxRetries: Int = 5): Int = {
    val shared = snapshot(spark, target).entries
      .count(_.rel.startsWith(".."))
    if (shared == 0) return 0
    rewriteWith(spark, target, maxRetries,
      clusterByBucket(_), 0L,
      raceName = "localize") { snap =>
      val targets = snap.entries.filter(_.rel.startsWith(".."))
      (targets, targets.size)
    }
  }

  /** Drop the pin a clone holds in its source's log — after this, a
    * source vacuum may collect the cloned version's files and the clone
    * keeps working only for rows it has since localized. Call when the
    * clone is dropped or fully rewritten (`#files` shows no `../` rels).
    * Returns false when the clone carries no pin (already released). */
  def releaseClone(spark: SparkSession, target: String): Boolean = {
    val snap = snapshot(spark, target)
    (snap.props.get(CloneSourceProp), snap.props.get(CloneTagProp)) match {
      case (Some(src), Some(t)) => untag(spark, src, t)
      case _ => false
    }
  }

  // --- branches (writable named refs) ------------------------------------
  //
  // The Iceberg branching model on this commit log: a branch is a named
  // ref that FORKS from a pinned main version (its base) and accumulates
  // its own chain of delta commits in the log directory
  // (`branch-<name>.base` + `branch-<name>.d<k>`, every file immutable
  // and CAS-published like the main log). Branch commits never occupy
  // main version numbers, so main writers are completely undisturbed;
  // branch readers resolve base-snapshot + deltas through the same fold
  // kernel as the main log. `publishBranch` is the FAST-FORWARD merge:
  // one atomic main commit carrying the branch's net entry delta,
  // refused loudly when main has moved past the base (a diverged branch
  // must be re-created — rebasing data files is a policy decision, not a
  // log primitive). Write-audit-publish is exactly the one-staged-commit
  // special case of this (a WAP id = an anonymous single-commit branch).

  private def branchBasePath(table: String, name: String) =
    new Path(logDir(table), s"branch-$name.base")
  private def branchDeltaPath(table: String, name: String, k: Int) =
    new Path(logDir(table), s"branch-$name.d$k")
  // publish fence (see publishBranch): `.publish` is CAS-created FIRST
  // and deleted LAST, so its absence after a successful delta CAS proves
  // the delta landed before any publish could freeze; `.frozen` records
  // the delta count the publish will carry, so a racing appender can
  // decide inclusion exactly instead of guessing
  private def branchPublishMarker(table: String, name: String) =
    new Path(logDir(table), s"branch-$name.publish")
  private def branchFrozenPath(table: String, name: String) =
    new Path(logDir(table), s"branch-$name.frozen")

  private def requireBranchName(name: String): Unit =
    require(TagName.matches(name) && !name.matches("^v\\d+$") &&
        !name.startsWith("wap.") && !name.contains("@"),
      s"invalid branch name '$name': [A-Za-z0-9][A-Za-z0-9._-]*")

  /** Fork a branch at `version` (default: the current head). The base is
    * vacuum-pinned like a tag until the branch publishes or drops. */
  def createBranch(spark: SparkSession, table: String, name: String,
                   version: Option[Long] = None): Long = {
    requireBranchName(name)
    val fs = fsFor(spark, table)
    val v = version.getOrElse(snapshot(spark, table).version)
    snapshot(spark, table, Some(v)) // must be resolvable
    // clear strays from a crashed previous lifecycle of this name
    // (delta files past a chain gap, an orphaned publish fence) BEFORE
    // the base CAS — while no base exists nothing can legally append,
    // so the cleanup cannot race a legitimate delta
    if (!fs.exists(branchBasePath(table, name))) {
      // STRICT match only: branch names may contain dots, so a bare
      // startsWith("branch-$name.d") would also hit a LIVE sibling
      // branch 'name.dev' ("branch-name.dev.base" starts with
      // "branch-name.d") — only delete THIS name's numeric delta files
      // and its exact fence refs
      scala.util.Try(fs.listStatus(logDir(table)).toSeq
        .map(_.getPath.getName)
        .filter(n => (n.startsWith(s"branch-$name.d") &&
            n.stripPrefix(s"branch-$name.d").matches("\\d+")) ||
          n == s"branch-$name.frozen" || n == s"branch-$name.publish")
        .foreach(n => fs.delete(new Path(logDir(table), n), false)))
    }
    if (!atomicPublish(fs, table, branchBasePath(table, name),
        s"$v\n".getBytes(StandardCharsets.UTF_8)))
      throw new IllegalStateException(
        s"$table: branch '$name' already exists — drop it first")
    // same vacuum-race narrowing as tag(): re-validate after publishing
    try snapshot(spark, table, Some(v))
    catch {
      case e: Exception =>
        fs.delete(branchBasePath(table, name), false)
        throw new IllegalStateException(
          s"$table: version $v was vacuumed while branch '$name' was " +
            "being created — the ref was withdrawn", e)
    }
    v
  }

  /** All branches: name -> base version. Malformed refs are skipped. */
  def branches(spark: SparkSession, table: String): Map[String, Long] = {
    val fs = fsFor(spark, table)
    val dir = logDir(table)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.startsWith("branch-") &&
        st.getPath.getName.endsWith(".base"))
      .flatMap { st =>
        val name = st.getPath.getName.stripPrefix("branch-")
          .stripSuffix(".base")
        scala.util.Try(new String(readBytes(fs, st.getPath),
          StandardCharsets.UTF_8).trim.toLong).toOption.map(name -> _)
      }.toMap
  }

  /** The branch's delta manifests in commit order (k = 1..head). */
  private def branchDeltas(fs: FileSystem, table: String,
                           name: String): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var k = 1
    var p = branchDeltaPath(table, name, k)
    while (fs.exists(p)) {
      out += readBytes(fs, p)
      k += 1
      p = branchDeltaPath(table, name, k)
    }
    out.result()
  }

  /** Resolve the branch head: base snapshot + the branch's deltas folded
    * through the same kernel as the main log. The returned `version` is
    * base + |branch commits| — a branch-local coordinate, never a main
    * version. */
  def branchSnapshot(spark: SparkSession, table: String,
                     name: String): Snapshot = {
    val fs = fsFor(spark, table)
    val base = branches(spark, table).getOrElse(name,
      throw new IllegalArgumentException(
        s"$table: no branch named '$name' (have: " +
          s"${branches(spark, table).keys.toSeq.sorted.mkString(", ")})"))
    branchDeltas(fs, table, name)
      .foldLeft(snapshot(spark, table, Some(base)))(foldDelta)
  }

  /** CAS-publish `adds` as the branch's next delta commit (the branch
    * analog of commitNext): schema union-evolves against the branch
    * head, bucket identity must match. Returns the branch-local commit
    * index. Used by [[appendToBranch]] and the catalog's branch INSERT. */
  private[graft] def publishBranchDelta(spark: SparkSession, table: String,
                                        name: String, adds: Seq[FileEntry],
                                        writeSchema: StructType,
                                        bucketing: (String, Int),
                                        maxRetries: Int = 5): Int = {
    val fs = fsFor(spark, table)
    var attempt = 0
    while (true) {
      val head = branchSnapshot(spark, table, name)
      head.bucketing.foreach { cur =>
        require(cur == bucketing,
          s"$table@branch.$name: staged for (${bucketing._1}, " +
            s"${bucketing._2}) but the branch is (${cur._1}, ${cur._2})")
      }
      val merged = mergeSchemas(
        head.schema.getOrElse(allNullable(writeSchema)),
        writeSchema, head.dropped)
      val base = branches(spark, table)(name)
      val k = (head.version - base).toInt + 1
      // refuse early while a publish is fencing the branch — cheap, and
      // it shrinks the post-CAS arbitration below to the in-flight race
      if (fs.exists(branchPublishMarker(table, name)))
        throw new IllegalStateException(
          s"$table: branch '$name' is being published — the append " +
            "refuses rather than race the fast-forward; retry after " +
            "the publish completes (then the branch is gone: append " +
            "to main or a new branch)")
      if (atomicPublish(fs, table, branchDeltaPath(table, name, k),
          renderDelta(adds, Seq.empty, None, Some(merged),
            head.bucketing.orElse(Some(bucketing)), head.dropped,
            head.props, head.renames))) {
        arbitrateAppendVsPublish(fs, table, name, base, k)
        return k
      }
      attempt += 1
      if (attempt > maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"$table: branch '$name' commit lost the CAS race " +
            s"$maxRetries times")
    }
    0 // unreachable
  }

  /** Post-CAS inclusion check for a branch append that may have raced a
    * concurrent [[publishBranch]]. The fence invariant: the publisher
    * creates `.publish` BEFORE freeze-listing the deltas it will carry
    * and deletes it LAST, so
    *   - no marker now, base intact  → any in-flight publish must
    *     freeze-list AFTER this check, so delta `k` is included either
    *     way — success;
    *   - no marker, base gone/moved  → a publish completed without this
    *     delta (it landed after the drop began) — roll the tail delta
    *     back and fail LOUDLY (the rows never reached main);
    *   - marker present → consult `.frozen` (the publish's carried
    *     count d): k ≤ d is included (success), k > d is not — roll
    *     back and fail loudly. `.frozen` not yet written → poll briefly
    *     (the publisher writes it right after the marker); if the
    *     marker disappears instead, the publish aborted and the branch
    *     (with this delta) lives on. */
  private[graft] def arbitrateAppendVsPublish(fs: FileSystem, table: String,
                                       name: String, expectedBase: Long,
                                       k: Int): Unit = {
    val marker = branchPublishMarker(table, name)
    val frozen = branchFrozenPath(table, name)
    def rollbackAndFail(why: String): Nothing = {
      // only ever deletes OUR OWN delta file — every appender with an
      // index past the frozen count does the same, so no mid-chain hole
      // survives (a crashed one's stray file is removed by the
      // publisher's final cleanup)
      scala.util.Try(fs.delete(branchDeltaPath(table, name, k), false))
      throw new IllegalStateException(
        s"$table: branch '$name' append (delta $k) raced a concurrent " +
          s"publish and was NOT included: $why. The append did not " +
          "land anywhere — retry on main or a new branch")
    }
    var waited = 0
    while (true) {
      if (!fs.exists(marker)) {
        val nowBase = scala.util.Try(new String(
          readBytes(fs, branchBasePath(table, name)),
          StandardCharsets.UTF_8).trim.toLong).toOption
        if (nowBase.contains(expectedBase)) return // included or no publish
        // base gone/moved: a publish finished (marker cleaned, ref
        // dropped) BEFORE we arbitrated. That publish may still have
        // CARRIED this delta — the freeze list is taken after the
        // marker, so a delta CAS'd just before the freeze lands on main
        // even though every branch ref is gone by the time we look.
        // Consult the main log: publishBranch commits txn
        // `branch:<name>:<base>` with epoch = frozen delta count d;
        // d >= k proves our rows reached main — failing here would
        // invite a retry and double-apply them.
        if (lastCommittedBatchUpTo(fs, table,
            s"branch:$name:$expectedBase", Long.MaxValue)
            .exists(_ >= k)) return
        rollbackAndFail(
          if (nowBase.isEmpty) "the publish completed and dropped the ref"
          else s"the branch was re-created at a different base ($nowBase)")
      }
      scala.util.Try(new String(readBytes(fs, frozen),
          StandardCharsets.UTF_8).trim.toInt).toOption match {
        case Some(d) =>
          if (k <= d) return // inside the frozen prefix the publish carries
          rollbackAndFail(s"the publish froze at delta $d")
        case None =>
          // marker up, freeze not recorded yet — the publisher writes it
          // immediately after the marker, so this window is tiny
          if (waited > 200) // ~10 s: publisher died between the two refs
            throw new IllegalStateException(
              s"$table: branch '$name' has a publish marker but no " +
                "frozen count after 10 s — a publisher likely crashed " +
                "between its two fence writes. The append IS delta " +
                s"$k of the branch chain; recover the branch with " +
                "abortBranchPublish, or finish the publish")
          Thread.sleep(50)
          waited += 1
      }
    }
  }

  /** Clear a crashed publish's fence so the branch accepts appends and
    * publishes again. Refuses when the fenced publish actually LANDED on
    * main (its txn marker is in the log) — then the branch refs are
    * stale leftovers and are cleaned up instead. */
  def abortBranchPublish(spark: SparkSession, table: String,
                         name: String): Unit = {
    val fs = fsFor(spark, table)
    val base = branches(spark, table).getOrElse(name,
      throw new IllegalArgumentException(
        s"$table: no branch named '$name'"))
    if (lastCommittedBatchUpTo(fs, table, s"branch:$name:$base",
        Long.MaxValue).isDefined) {
      // the publish committed; finish its cleanup
      dropBranch(spark, table, name)
    } else {
      fs.delete(branchFrozenPath(table, name), false)
      fs.delete(branchPublishMarker(table, name), false)
    }
  }

  /** Append `batch` to the branch — invisible on main until
    * [[publishBranch]]. Constraints enforce against the branch head's
    * property map; staged files are vacuum-protected through the
    * branch's delta manifests. Returns the branch-local commit index. */
  def appendToBranch(spark: SparkSession, table: String, name: String,
                     batch: DataFrame): Int = {
    val head = branchSnapshot(spark, table, name)
    val (key, n) = head.bucketing.getOrElse(throw new IllegalStateException(
      s"$table@branch.$name records no bucket identity"))
    val gened = applyGenerated(spark, head, batch)
    val cons = constraintsOf(head).toSeq.sortBy(_._1)
    val checked = cons.foldLeft(gened) { case (d, (cn, sql)) =>
      // same contract as the main-path enforceConstraints: violating
      // rows fail the append before anything publishes
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val bad = d.filter(not(coalesce(expr(sql), lit(true)))).limit(1)
      require(bad.isEmpty,
        s"$table@branch.$name: CHECK constraint '$cn' ($sql) rejected " +
          "a row of the branch append")
      d
    }
    val tagged = toPhysical(checked
      .withColumn(LayoutOps.BucketCol,
        LayoutOps.bucketId(col(s"`${head.logicalName(key)}`"), n)),
      head)
    val entries = stageFiles(spark, table, tagged)
    publishBranchDelta(spark, table, name, entries,
      StructType(tagged.schema.fields), (key, n))
  }

  /** FAST-FORWARD publish: land the branch's net entry delta on main as
    * ONE atomic commit, then delete the ref. Refuses loudly when main
    * has moved past the branch's base (diverged) — including a race
    * discovered at CAS time.
    *
    * Concurrent-append safety (the fence protocol shared with
    * [[arbitrateAppendVsPublish]]): the branch chain and the main log
    * are disjoint CAS domains, so without a fence a delta CAS-published
    * between this method's delta listing and its ref cleanup would
    * report success and then be silently discarded. The publish
    * therefore (1) CAS-creates `.publish` FIRST — new appends refuse up
    * front, in-flight ones arbitrate; (2) freeze-lists the chain and
    * records the carried count in `.frozen` — an in-flight append past
    * that count rolls itself back and fails loudly; (3) commits main
    * with txn id `branch:<name>:<base>` so a crash after the commit is
    * recoverable ([[abortBranchPublish]] detects the landed txn and
    * finishes the cleanup); (4) deletes the refs, the marker LAST. */
  def publishBranch(spark: SparkSession, table: String,
                    name: String): Long = {
    val fs = fsFor(spark, table)
    val base = branches(spark, table).getOrElse(name,
      throw new IllegalArgumentException(
        s"$table: no branch named '$name'"))
    if (!atomicPublish(fs, table, branchPublishMarker(table, name),
        "publishing\n".getBytes(StandardCharsets.UTF_8)))
      throw new IllegalStateException(
        s"$table: branch '$name' already has a publish in flight (or a " +
          "crashed one) — wait for it, or run abortBranchPublish")
    def abortFence(): Unit = {
      fs.delete(branchFrozenPath(table, name), false)
      fs.delete(branchPublishMarker(table, name), false)
    }
    val newVersion: Long = try {
      // freeze AFTER the marker: deltas CAS-landing from here on carry
      // indexes past `d` and self-arbitrate to a loud failure
      val deltas = branchDeltas(fs, table, name)
      val d = deltas.size
      require(d > 0,
        s"$table: branch '$name' has no commits — drop it instead")
      if (!atomicPublish(fs, table, branchFrozenPath(table, name),
          s"$d\n".getBytes(StandardCharsets.UTF_8)))
        throw new IllegalStateException(
          s"$table: branch '$name' publish found a stale frozen ref — " +
            "run abortBranchPublish and retry")
      val main = snapshot(spark, table)
      if (main.version != base)
        throw new IllegalStateException(
          s"$table: branch '$name' DIVERGED — main moved v$base -> " +
            s"v${main.version} since the fork. Fast-forward publish " +
            "refuses; re-create the branch from the current head and " +
            "re-apply its changes")
      // fold exactly the frozen prefix — never a re-listed chain that a
      // racing append could have extended past the fence
      val head = deltas.foldLeft(snapshot(spark, table, Some(base)))(foldDelta)
      val mainByRel = main.entries.map(e => e.rel -> e).toMap
      val headByRel = head.entries.map(e => e.rel -> e).toMap
      val adds = head.entries.filterNot(e => mainByRel.get(e.rel).contains(e))
      val removes = main.entries
        .filterNot(e => headByRel.get(e.rel).contains(e)).map(_.rel).toSet
      if (!commitNext(fs, table, main, adds = adds, removes = removes,
          txn = Some((s"branch:$name:$base", d.toLong)), schema = head.schema,
          bucketing = head.bucketing, dropped = Some(head.dropped),
          props = Some(head.props), renames = Some(head.renames)))
        throw new IllegalStateException(
          s"$table: branch '$name' publish lost the commit race — main " +
            "moved during the publish (diverged); re-create and re-apply")
      main.version + 1
    } catch {
      case e: Throwable => abortFence(); throw e
    }
    dropBranch(spark, table, name) // deletes deltas+base+fence, marker last
    newVersion
  }

  /** Delete the branch ref, its delta manifests (INCLUDING strays past a
    * chain gap left by a crashed, arbitration-rolled-back appender), and
    * any publish fence; the branch's staged data files become ordinary
    * orphans for [[vacuum]]. The marker goes LAST so the fence invariant
    * ("no marker ⇒ base state is authoritative") holds through a crash
    * mid-drop. */
  def dropBranch(spark: SparkSession, table: String, name: String): Int = {
    val fs = fsFor(spark, table)
    val chain = branchDeltas(fs, table, name).size
    val all = scala.util.Try(fs.listStatus(logDir(table)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(s"branch-$name.d"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(s"branch-$name.d").toInt).toOption))
      .getOrElse(Seq.empty)
    all.sorted.reverseIterator.foreach { k =>
      // newest-first so a crash leaves a valid chain prefix
      fs.delete(branchDeltaPath(table, name, k), false)
    }
    fs.delete(branchBasePath(table, name), false)
    fs.delete(branchFrozenPath(table, name), false)
    fs.delete(branchPublishMarker(table, name), false)
    chain
  }

  /** `dryRun = true` (the Delta `VACUUM ... DRY RUN` shape) reports
    * exactly what a real run would delete — orphan directories past the
    * retention horizon and prunable manifests/checkpoints — without
    * deleting anything or writing checkpoint anchors. The report uses
    * the same listings and the same pin/reference logic as the real
    * sweep, so "dry-run then vacuum" sees the same set modulo racing
    * commits.
    *
    * LISTING-COST AUDIT (what the driver touches at 10⁸-file scale —
    * every step is manifest-bounded or ONE-LEVEL, never a recursive
    * data-file walk):
    *   - `listVersions` / tag / branch / staged-WAP listings: one
    *     `_txlog` directory scan each — O(retained manifests + refs),
    *     governed by the retention policy, not by data size.
    *   - the `referenced` set: folded from retained MANIFESTS (plus one
    *     head re-resolution before the destructive step) — O(live file
    *     entries) driver memory with zero filesystem walking; this is
    *     the bound the commit-log design buys.
    *   - the orphan sweep: ONE `listStatus` of `files/` at STAGING-DIR
    *     depth — O(staging dirs) = O(commits ever landed), one status
    *     per `files/<uuid>`, never descending into partition/bucket
    *     levels driver-side. Individual data files are only ever
    *     touched by `delete(recursive)`, which recurses FS-side.
    *   - the deletes themselves are the one step that grows with orphan
    *     COUNT: past `distributeDeletesAt` orphan dirs they fan out as
    *     one Spark job (each task resolves the filesystem from the path
    *     and deletes its slice), so sweeping a crashed backfill's 10⁵
    *     staging dirs is a cluster-parallel operation instead of a
    *     driver-serial stall. Dry runs never delete, so they never
    *     distribute. */
  def vacuum(spark: SparkSession, table: String,
             keepVersions: Int = 1,
             orphanRetentionMs: Long = 0L,
             keepMs: Option[Long] = None,
             dryRun: Boolean = false,
             distributeDeletesAt: Int = 64): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the newest version")
    val fs = fsFor(spark, table)
    val versions = listVersions(fs, table).sorted
    // tagged versions are PINNED: they survive the retention horizon
    // (with their manifests, files, and DV sidecars) until untagged —
    // what makes a tag a reproducible training-corpus snapshot. A
    // branch's BASE version pins identically: the branch head resolves
    // base + deltas, so sweeping the base would brick the branch
    val tagged = tags(spark, table).values.toSet ++
      branches(spark, table).values
    // TIME-BASED retention (the expire-snapshots-older-than shape, the
    // retention contract streaming/CDF consumers size their lag
    // against): every version PUBLISHED within the window survives —
    // publication time is the log file's mtime, the same clock
    // TIMESTAMP AS OF resolves against. Composes with the count floor:
    // a version survives if EITHER keeps it.
    val timeFloor: Long = keepMs.fold(Long.MaxValue) { ms =>
      require(ms >= 0, s"keepMs must be non-negative, got $ms")
      val cutoff = System.currentTimeMillis() - ms
      versions.find(v => scala.util.Try(
          fs.getFileStatus(versionPath(table, v)).getModificationTime)
        .getOrElse(Long.MinValue) >= cutoff).getOrElse(versions.last)
    }
    val minKeep = math.min(versions.takeRight(keepVersions).head, timeFloor)
    val retained = (versions.filter(_ >= minKeep) ++
      versions.filter(tagged)).distinct.sorted
    // anchor the retained log BEFORE deleting anything below it (resolve
    // needs the pre-prune chain); idempotent — checkpoint bytes are a pure
    // function of the log
    if (!dryRun && versions.head < minKeep &&
        !fs.exists(checkpointPath(table, minKeep))) {
      val snapMin = snapshot(spark, table, Some(minKeep))
      // the anchor must carry EVERYTHING resolution needs — dropping the
      // bucket identity here would strip the table's layout from every
      // post-vacuum read that resolves through this checkpoint (found by
      // the SQL-procedures spec: vacuum then read threw "no identity")
      // … and likewise the dropped-column tombstones: an anchor without
      // them would let post-vacuum writers resurrect a dropped column —
      // and the property map (constraints would silently stop enforcing)
      writeCheckpoint(fs, table, minKeep, snapMin.entries, snapMin.schema,
        snapMin.bucketing, snapMin.dropped, snapMin.props, snapMin.renames)
    }
    // each pinned version below the horizon gets its own anchor too —
    // the manifests BETWEEN it and its old anchor are about to go, and a
    // checkpoint makes the tag resolve standalone forever after
    if (!dryRun) versions.filter(v => tagged(v) && v < minKeep).foreach { v =>
      if (!fs.exists(checkpointPath(table, v))) {
        val s = snapshot(spark, table, Some(v))
        writeCheckpoint(fs, table, v, s.entries, s.schema, s.bucketing,
          s.dropped, s.props, s.renames)
      }
    }
    val referenced: Set[String] = (retained
      .flatMap(v => snapshot(spark, table, Some(v)).entries)
      // a referenced entry pins BOTH its data directory and (when a
      // merge-on-read delete marked it) its deletion-vector sidecar's
      // directory — sweeping a live DV would resurrect deleted rows
      .flatMap(e => e.rel +: e.dv.map(_.rel).toSeq)
      // ... and a retained commit's update-classification sidecar (the
      // row-level CDF would silently downgrade to delete/insert if swept)
      ++ retained.flatMap(v => commitCdfRel(fs, table, v))
      // ... and every retained version's UNFOLDED equality-delete key
      // sidecars — sweeping one would resurrect its deleted rows
      ++ retained.flatMap(v =>
        parseEqDeletes(snapshot(spark, table, Some(v)).props).map(_.rel))
      // ... and every staged-but-unpublished (write-audit-publish) file:
      // a long-running audit must never lose its staged rows to the
      // orphan sweep — dropStaged is the explicit release
      ++ stagedFiles(fs, table, None)
        .flatMap(p => parseDelta(readBytes(fs, p))._1.map(_.rel))
      // ... and every live branch's delta adds (+ their DV sidecars):
      // a branch is unpublished work by definition — dropBranch is the
      // explicit release
      ++ branches(spark, table).keys.toSeq
        .flatMap(n => branchDeltas(fs, table, n))
        .flatMap(b => parseDelta(b)._1)
        .flatMap(e => e.rel +: e.dv.map(_.rel).toSeq))
      .map(_.split('/')(1)).toSet
    val deleted = Seq.newBuilder[String]
    val filesRoot = new Path(table, "files")
    val sweepBefore = System.currentTimeMillis() - orphanRetentionMs
    // second head resolution right before the destructive step: a
    // RESTORE that committed since the first listing re-references files
    // that were only reachable through pre-horizon versions — its head
    // must survive this sweep (restore() existence-checks from the other
    // side; the two narrow the window from both ends, like tag())
    val headNowRefs: Set[String] =
      scala.util.Try(snapshot(spark, table)).toOption.toSeq
        .flatMap(s => s.entries
          .flatMap(e => e.rel +: e.dv.map(_.rel).toSeq) ++
          parseEqDeletes(s.props).map(_.rel))
        .map(_.split('/')(1)).toSet
    val referencedNow = referenced ++ headNowRefs
    if (fs.exists(filesRoot)) {
      val orphans = fs.listStatus(filesRoot).filter { st =>
        !referencedNow(st.getPath.getName) &&
          st.getModificationTime <= sweepBefore
      }.map(_.getPath.toString).toSeq
      if (!dryRun && orphans.size >= distributeDeletesAt) {
        // cluster-parallel sweep: each task resolves the FS from its
        // own path (works for any scheme) and recursively deletes its
        // slice of staging dirs — the only vacuum step whose cost grows
        // with orphan count
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        spark.sparkContext
          .parallelize(orphans, math.min(orphans.size, 64))
          .foreach { p =>
            val pp = new Path(p)
            pp.getFileSystem(hconf.value).delete(pp, true)
            ()
          }
      } else if (!dryRun) {
        orphans.foreach(p => fs.delete(new Path(p), true))
      }
      deleted ++= orphans
    }
    // second tag listing right before the destructive step: a tag that
    // landed since the first read still saves its version (tag() itself
    // re-validates after publishing — the two sides narrow the window
    // from both ends)
    val taggedNow = tagged ++ tags(spark, table).values ++
      branches(spark, table).values
    versions.filter(_ < minKeep).filterNot(taggedNow).foreach { v =>
      if (dryRun) {
        deleted += versionPath(table, v).toString
        if (fs.exists(checkpointPath(table, v)))
          deleted += checkpointPath(table, v).toString
      } else {
        fs.delete(versionPath(table, v), false)
        deleted += versionPath(table, v).toString
        if (fs.delete(checkpointPath(table, v), false))
          deleted += checkpointPath(table, v).toString
      }
    }
    // shard GC is REFERENCE-counted, not version-prefixed: reusing
    // checkpoints carry older versions' shard files forward by
    // reference, so a shard lives exactly as long as some RETAINED
    // checkpoint names it. Below-horizon unreferenced shards (pruned
    // anchors' exclusives, crashed writers' orphans) go; at-or-above
    // horizon names are kept unconditionally — an in-flight checkpoint
    // writer stages its shards before publishing, and those carry the
    // current head's version
    val referencedShards: Set[String] = retained.flatMap { v =>
      // both anchor kinds can reference shards: checkpoints, and FULL
      // manifests (a sharded init/clone v0)
      Seq(checkpointPath(table, v), versionPath(table, v)).flatMap { p =>
        if (!fs.exists(p)) Seq.empty
        else parseShardRefs(readBytes(fs, p)).toSeq
          .flatMap(_._1.map(_._1))
      }
    }.toSet
    scala.util.Try(fs.listStatus(logDir(table)).toSeq.map(_.getPath))
      .getOrElse(Seq.empty)
      .foreach { p =>
        val n = p.getName
        val i = math.max(n.indexOf(".checkpoint.s"),
          n.indexOf(".manifest."))
        val vOf = if (i <= 0 || !n.drop(i).matches(
            "\\.(checkpoint\\.s\\d+|manifest\\.[0-9a-f-]+\\.s\\d+)")) None
          else scala.util.Try(n.take(i).toLong).toOption
        vOf.foreach { v =>
          if (v < minKeep && !referencedShards(n)) {
            if (dryRun) deleted += p.toString
            else if (fs.delete(p, false)) deleted += p.toString
          }
        }
      }
    deleted.result()
  }
}
