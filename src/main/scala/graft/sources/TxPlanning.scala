package graft.sources

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.ops.{PartitionTransforms, TxTable}

/** Per-file pruning verdicts, shared verbatim by the driver-side walk and
  * the distributed planning job — ONE implementation so the two paths
  * cannot drift (the parity the Iceberg distributed-planning design
  * hinges on). Each verdict answers "may this file hold a matching row?"
  * from the file's own evidence (zone-map row, partition path, bloom,
  * bucket id) plus a tiny per-query context; every unknown keeps the
  * file (over-keep, never wrong). */
private[graft] object TxPruneVerdicts extends Serializable {

  /** One range bound: (lower value + strict?, upper value + strict?). */
  type Bound = (Option[(Any, Boolean)], Option[(Any, Boolean)])

  /** Zone-map verdict: `stat` is the file's (lo, hi) sidecar row (None =
    * file unknown to the sidecar → keep; both null = an ALL-NULL file,
    * which cannot satisfy a range predicate → drop; half-null → keep).
    * Incomparable types keep. */
  def zoneKeep(stat: Option[(Any, Any)], bs: Seq[Bound]): Boolean =
    stat match {
      case Some((l, h)) if l != null && h != null =>
        bs.forall { case (lo, hi) =>
          Try {
            lo.forall { case (v, strict) =>
              val c = TxTable.cmpAny(h, v)
              if (strict) c > 0 else c >= 0
            } && hi.forall { case (v, strict) =>
              val c = TxTable.cmpAny(l, v)
              if (strict) c < 0 else c <= 0
            }
          }.getOrElse(true)
        }
      case Some((l, h)) if l == null && h == null => false
      case _ => true
    }

  /** Hidden-partition envelope verdict over the file's OWN generation's
    * spec (history + `spec-<sid>/` stamp). Pre-partitioning files, null
    * segments, and unknown sids keep. */
  def envelopeKeep(rel: String,
                   hist: IndexedSeq[PartitionTransforms.Spec],
                   bs: Seq[(String, Bound)],
                   pe: Seq[(String, Seq[Any])]): Boolean =
    PartitionTransforms.resolve(rel, hist) match {
      case Some(res) =>
        bs.forall { case (c, (lo, hi)) =>
          Try {
            val v = lo.orElse(hi).get._1
            PartitionTransforms.envelopeFor(res, c, v) match {
              case Some((envLo, envHi)) =>
                lo.forall { case (x, strict) =>
                  val cc = TxTable.cmpAny(envHi, x)
                  if (strict) cc > 0 else cc >= 0
                } && hi.forall { case (x, strict) =>
                  val cc = TxTable.cmpAny(envLo, x)
                  if (strict) cc < 0 else cc <= 0
                }
              case None => true
            }
          }.getOrElse(true)
        } && pe.forall { case (c, vs) =>
          // IN / = over a partition source: keep iff ANY probed value
          // lands inside the envelope
          Try {
            vs.exists { v =>
              PartitionTransforms.envelopeFor(res, c, v) match {
                case Some((envLo, envHi)) =>
                  TxTable.cmpAny(v, envLo) >= 0 &&
                    TxTable.cmpAny(v, envHi) <= 0
                case None => true
              }
            }
          }.getOrElse(true)
        }
      case None => true
    }

  /** Bloom verdict: keep iff the filter might contain ANY probed hash.
    * A false positive only over-keeps. */
  def bloomKeep(bloom: org.apache.spark.util.sketch.BloomFilter,
                hashes: Seq[Long]): Boolean =
    hashes.exists(bloom.mightContainLong)
}

/** Read-side fold of UNFOLDED equality deletes for the DSv2 scan path:
  * the write path committed KEY TUPLES (zero reads); a columnar catalog
  * scan cannot anti-join inside the stock parquet reader, so at PLAN
  * time the matching rows' PHYSICAL POSITIONS are computed once (one
  * key-column-pruned Spark job over exactly the affected files — the
  * read half of the MOR contract) and ride the existing per-partition
  * deletion-vector machinery (bitmap payloads, row-based degraded
  * reads, position-exact synthesis). Memoized per (table, version) —
  * a snapshot's registry is immutable, and commitNext GCs entries as
  * rewrites fold them, so the steady state pays nothing. A re-create at
  * the same path reuses version numbers, so [[TxTable.invalidateSnapshots]]
  * clears the table's memo through [[invalidate]]. */
private[graft] object TxEqFold {
  import org.roaringbitmap.RoaringBitmap

  import graft.ops.DeletionVectors

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long),
        Map[String, (String, Array[Byte])]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long),
            Map[String, (String, Array[Byte])]]): Boolean = size() > 64
    })

  /** Forget every memoized fold of `path`. */
  def invalidate(path: String): Unit = cache.synchronized {
    cache.keySet().removeIf(_._1 == path)
    ()
  }

  /** Per-MANIFEST-rel (cache key, serialized bitmap) of the rows the
    * snapshot's registry kills — empty when the registry is. */
  def bitmapsFor(spark: SparkSession, path: String,
                 snap: TxTable.Snapshot)
      : Map[String, (String, Array[Byte])] = {
    val dels = TxTable.parseEqDeletes(snap.props)
    if (dels.isEmpty) return Map.empty
    val key = (path, snap.version)
    val hit = cache.get(key)
    if (hit != null) return hit
    val affected = snap.entries.filter(e =>
      dels.exists(d => e.addV.forall(_ < d.version)))
    val out: Map[String, (String, Array[Byte])] =
      if (affected.isEmpty) Map.empty
      else {
        val physSchema = snap.schema.getOrElse(
          throw new IllegalStateException(
            s"$path: equality deletes need a recorded schema"))
        val needCols = dels.flatMap(_.cols).distinct.toSet
        val readSchema = org.apache.spark.sql.types.StructType(
          physSchema.fields.filter(f => needCols.contains(f.name)))
        val raw = DeletionVectors.entriesFrame(spark, path, affected,
            Some(readSchema))
          .withColumn("__rk", org.apache.spark.sql.functions
            .regexp_extract(org.apache.spark.sql.functions
              .input_file_name(), DeletionVectors.RelPattern, 0))
          .withColumn("__pos", col("_metadata.row_index"))
        val addvDf = spark.createDataFrame(affected.map(e =>
            (DeletionVectors.relKey(e.rel), e.addV.getOrElse(
              throw new IllegalStateException(
                s"$path: ${e.rel} unstamped under a live equality " +
                  "delete")))))
          .toDF("__rk2", "__addv")
        val joined = raw.join(
          org.apache.spark.sql.functions.broadcast(addvDf),
          col("__rk") === col("__rk2"), "left")
        val markedDf = dels.groupBy(_.cols).toSeq
          .sortBy(_._1.mkString(",")).map { case (cols, ds) =>
            val keysDf = ds.map(d =>
                spark.read.parquet(s"$path/${d.rel}")
                  .withColumn("__delv", lit(d.version)))
              .reduce(_.unionByName(_))
            val cond = cols.map(c => joined(c) === keysDf(c))
              .reduce(_ && _) && col("__addv") < keysDf("__delv")
            // same key-budgeted strategy switch as the Scala read path:
            // forced broadcast only while the group's known key count
            // fits spark.graft.eqdelete.broadcastKeyLimit; past it AQE
            // picks the join, so a huge backlog shuffles instead of
            // OOMing the driver at plan time
            joined.join(
              TxTable.eqMaybeBroadcast(spark, keysDf,
                TxTable.eqKnownKeys(ds)), cond,
              "left_semi").select(col("__rk"), col("__pos"))
          }.reduce(_.union(_)).distinct()
        // the fold rides DRIVER memory as per-file bitmaps, and ONE
        // low-cardinality key can address unboundedly many rows — so
        // the position count (a cheap distributed aggregate) gates the
        // collect: past the bound the scan refuses LOUDLY toward the
        // maintenance verb instead of OOMing the driver. The Scala
        // read path (a pure anti-join, nothing collected) keeps
        // serving any backlog size
        val maxPos = scala.util.Try(spark.conf
          .get(TxTable.EqMaxFoldPositionsConf).toLong)
          .getOrElse(TxTable.DefaultEqMaxFoldPositions)
        // ONE bounded materialization gates AND feeds the fold: take
        // maxPos+1 rows — overflow proves the registry addresses more
        // positions than the driver may hold, without running the
        // position pipeline twice (the count-then-collect double pass)
        // or ever collecting more than the bound. executeTake stops
        // scheduling partitions once the limit is met, and its final
        // stage reuses the distinct's shuffle output, so upstream work
        // runs exactly once either way.
        val limit = (math.min(maxPos, Int.MaxValue - 2L) + 1).toInt
        val limited = markedDf.limit(limit).collect()
        if (limited.length >= limit) throw new IllegalStateException(
          s"$path@v${snap.version}: the unfolded equality-delete " +
            s"registry addresses more than $maxPos row positions — past " +
            s"the ${TxTable.EqMaxFoldPositionsConf} bound the plan-time " +
            "position fold would exhaust planner memory. A read of the " +
            "current version: run foldEqDeletes()/CALL fold_eq_deletes " +
            "(or auto_maintain) first, or read through the Scala path " +
            "(TxTable.read), which anti-joins without collecting. A " +
            "change-feed or time-travel read of past versions: folding " +
            s"the head does not reach them; raise " +
            s"${TxTable.EqMaxFoldPositionsConf} for the read")
        val marked = limited.map(r => (r.getString(0), r.getLong(1)))
        val relByKey = affected.map(e =>
          DeletionVectors.relKey(e.rel) -> e.rel).toMap
        marked.groupBy(_._1).flatMap { case (rk, ps) =>
          relByKey.get(rk).map { rel =>
            val bm = new RoaringBitmap()
            ps.foreach { case (_, p) =>
              require(p <= DeletionVectors.MaxPos,
                s"$path: position $p exceeds the bitmap domain")
              bm.add(p.toInt)
            }
            rel -> ((s"eqfold#$path@${snap.version}#$rel",
              DeletionVectors.serialize(bm)))
          }
        }
      }
    cache.put(key, out)
    out
  }

  /** Merge a file's DV payload with its eq-fold payload (bitmap OR);
    * content-addressed composite key so the executor bitmap cache can
    * never serve a half-merged entry. */
  def merge(dv: Option[(String, Array[Byte])],
            eq: Option[(String, Array[Byte])])
      : Option[(String, Array[Byte])] = (dv, eq) match {
    case (Some((k1, b1)), Some((k2, b2))) =>
      val m = RoaringBitmap.or(DeletionVectors.deserialize(b1),
        DeletionVectors.deserialize(b2))
      Some((s"$k1+$k2", DeletionVectors.serialize(m)))
    case (d, e) => d.orElse(e)
  }
}

/** THE file-pruning planner: every TxTable read surface (the DSv2 scan's
  * static and runtime filters, the SQL-view optimizer rule, `readWhereAll`,
  * `readKeys`) translates its predicate into a [[TxFilePlanner.Probe]] in
  * PHYSICAL column names and asks this object which of a snapshot's files
  * may hold a matching row. The probe's stages (zone maps, hidden-partition
  * envelopes per generation, blooms, bucket identity) are built ONCE here;
  * below `spark.graft.planning.distributeAt` files the driver walks them
  * over the entry list, past it [[TxDistributedPrune]] evaluates the SAME
  * stage object as one Spark job. Every unknown keeps the file. */
private[graft] object TxFilePlanner {
  import org.apache.spark.sql.catalyst.CatalystTypeConverters
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.util.sketch.BloomFilter

  import graft.ops.LayoutOps

  /** A range bound on one column: (value, strict?) per side, values in
    * EXTERNAL Scala types (what the zone-map sidecars hold). `tag` names
    * the caller's source predicate for [[plan]]'s used set. */
  final case class Range(column: String, lo: Option[(Any, Boolean)],
                         hi: Option[(Any, Boolean)], tag: Int = -1)

  /** Equality / IN on one column, values as Catalyst literals of the
    * column's type — exactly what the writers hashed (UTF8String for
    * strings, micros for timestamps). */
  final case class Eq(column: String, values: Seq[Literal], tag: Int = -1)

  final case class Probe(ranges: Seq[Range], eqs: Seq[Eq]) {
    def isEmpty: Boolean = ranges.isEmpty && eqs.isEmpty
  }

  /** Zone-map stage: all range bounds over one sidecar-profiled column. */
  final case class ZoneStage(column: String, bs: Seq[TxPruneVerdicts.Bound])

  /** Bloom stage: pre-hashed probe values for one bloom-profiled column. */
  final case class BloomStage(column: String, hashes: Seq[Long])

  /** Partition-envelope stage over the snapshot's spec history. */
  final case class EnvStage(hist: IndexedSeq[PartitionTransforms.Spec],
                            bs: Seq[(String, TxPruneVerdicts.Bound)],
                            pe: Seq[(String, Seq[Any])])

  /** The per-query stage context both evaluation paths run. */
  final case class Stages(zones: Seq[ZoneStage], env: Option[EnvStage],
                          blooms: Seq[BloomStage],
                          buckets: Seq[Set[Int]]) {
    def isEmpty: Boolean =
      zones.isEmpty && env.isEmpty && blooms.isEmpty && buckets.isEmpty

    /** The conjunction of every stage's verdict for one file; `zone(i)`
      * / `bloom(i)` are the file's rows in the i-th zone / bloom
      * sidecar (None = unknown to the sidecar), and a negative `bucket`
      * is an unknown one. */
    def keep(rel: String, bucket: Int, zone: Int => Option[(Any, Any)],
             bloom: Int => Option[BloomFilter]): Boolean =
      (bucket < 0 || buckets.forall(_.contains(bucket))) &&
        zones.indices.forall(i =>
          TxPruneVerdicts.zoneKeep(zone(i), zones(i).bs)) &&
        env.forall(e =>
          TxPruneVerdicts.envelopeKeep(rel, e.hist, e.bs, e.pe)) &&
        blooms.indices.forall(i =>
          bloom(i).forall(TxPruneVerdicts.bloomKeep(_, blooms(i).hashes)))
  }

  /** The entries of `snap` that may hold a row matching `probe`, and the
    * tags of the probe items some stage used. Bucket identity comes from
    * `snap.bucketing`. An empty stage set returns `snap.entries` as is. */
  def plan(spark: SparkSession, path: String, snap: TxTable.Snapshot,
           probe: Probe): (Seq[TxTable.FileEntry], Set[Int]) = {
    val (st, used) = stages(spark, path, snap, probe)
    val kept =
      if (st.isEmpty) snap.entries
      else if (snap.entries.size >= TxDistributedPrune.threshold(spark))
        snap.entries match {
          // shard-backed: the job reads entry lines from the checkpoint's
          // shard files and only the survivors come back
          case le: TxTable.LazyEntries =>
            TxDistributedPrune.runSharded(spark, path, le, st)
          case es =>
            val keptRels = TxDistributedPrune.run(spark, path, es, st)
            es.filter(e => keptRels(e.rel))
        }
      else {
        val zoneMaps = st.zones.map(z => TxTable.fileStats(spark, path,
          z.column))
        val bloomMaps = st.blooms.map(b => TxTable.fileBlooms(spark, path,
          b.column))
        TxTable.primeEntries(spark, snap).entries.filter(e =>
          st.keep(e.rel, e.bucket, i => zoneMaps(i).get(e.rel),
            i => bloomMaps(i).get(e.rel)))
      }
    (kept, used)
  }

  /** Build the stages: a zone stage per column with a stats sidecar, one
    * envelope stage over the partition source columns, a bloom stage per
    * equality on a bloom-profiled column, a bucket stage per equality on
    * the bucket key. Presence is one filesystem stat per sidecar; a value
    * that cannot be hashed disables its stage (it could live anywhere). */
  private def stages(spark: SparkSession, path: String,
                     snap: TxTable.Snapshot,
                     probe: Probe): (Stages, Set[Int]) = {
    val used = Set.newBuilder[Int]
    val zones = probe.ranges.groupBy(_.column).toSeq.sortBy(_._1).flatMap {
      case (c, rs) =>
        if (Try(TxTable.statsMtime(spark, path, c)).getOrElse(-1L) < 0)
          None
        else {
          used ++= rs.map(_.tag)
          Some(ZoneStage(c, rs.map(r => (r.lo, r.hi))))
        }
    }
    val hist = PartitionTransforms.history(snap.props)
    val partCols = hist.flatMap(_.fields.map(_.column)).toSet
    val ebs = probe.ranges.filter(r => partCols(r.column))
    val epe = probe.eqs.filter(q => partCols(q.column))
    val env =
      if (hist.isEmpty || (ebs.isEmpty && epe.isEmpty)) None
      else {
        used ++= ebs.map(_.tag) ++ epe.map(_.tag)
        Some(EnvStage(hist, ebs.map(r => (r.column, (r.lo, r.hi))),
          epe.map(q => (q.column, q.values.map(l =>
            CatalystTypeConverters.convertToScala(l.value, l.dataType))))))
      }
    def hashAll[H](q: Eq)(h: Literal => H): Option[Seq[H]] = {
      val hs = q.values.flatMap(l => Try(h(l)).toOption)
      if (hs.nonEmpty && hs.size == q.values.size) {
        used += q.tag
        Some(hs)
      } else None
    }
    val blooms = probe.eqs.flatMap { q =>
      if (!Try(TxTable.bloomExists(spark, path, q.column)).getOrElse(false))
        None
      else hashAll(q)(l => LayoutOps.bloomHash(l.value, l.dataType))
        .map(BloomStage(q.column, _))
    }
    val buckets = snap.bucketing.toSeq.flatMap { case (key, n) =>
      probe.eqs.filter(_.column == key).flatMap(q =>
        hashAll(q)(l => LayoutOps.bucketOf(l.value, l.dataType, n))
          .map(_.toSet))
    }
    (Stages(zones, env, blooms, buckets), used.result())
  }
}

/** Distributed scan planning (the public Iceberg idea): past a
  * file-count threshold [[TxFilePlanner]]'s stages evaluate as a SPARK
  * JOB over the manifest's entry set instead of a driver-side O(files)
  * walk — the driver ships only the tiny per-query stage context,
  * executors read the zone-map / bloom sidecars directly (never collected
  * into driver maps) and join them to the entries on `rel`, and only the
  * KEPT rels return to the driver.
  *
  * Engaged when `snap.entries.size >= spark.graft.planning.distributeAt`
  * (default 100000 — sandbox-scale tables never pay the job-scheduling
  * overhead; a 100 TB table's scans always amortize it). The job calls
  * [[TxFilePlanner.Stages.keep]], the same verdict the driver walk calls,
  * so the two paths keep the same files. */
private[graft] object TxDistributedPrune {
  import TxFilePlanner.Stages

  val DistributeAtConf = "spark.graft.planning.distributeAt"
  val DefaultDistributeAt = 100000

  /** Spec-observable engagement counter. */
  val runs = new java.util.concurrent.atomic.AtomicLong(0)

  def threshold(spark: SparkSession): Int =
    Try(spark.conf.get(DistributeAtConf).toInt)
      .getOrElse(DefaultDistributeAt)

  /** Evaluate `st` as one Spark job; returns the kept rels. */
  def run(spark: SparkSession, path: String,
          entries: Seq[TxTable.FileEntry], st: Stages): Set[String] = {
    import spark.implicits._
    val df = entries.map(e => (e.rel, e.bucket)).toDF("__rel", "__bucket")
    evaluate(spark, path, df, st)
      .select(col("__rel")).as[String].collect().toSet
  }

  /** [[run]] for a SHARD-BACKED snapshot: the entry lines parse
    * EXECUTOR-side straight from the checkpoint's shard files — the
    * driver ships only shard paths + the O(interval) net delta changes,
    * and receives back the SURVIVORS as full entries. */
  def runSharded(spark: SparkSession, path: String,
                 le: TxTable.LazyEntries,
                 st: Stages): Seq[TxTable.FileEntry] = {
    import spark.implicits._
    val sh = le.shards
    // removes are versioned (see ShardedEntries): a rel is dead in a
    // shard only when some removal is NEWER than the shard file's
    // name-encoded write version — a re-added incarnation living in a
    // later shard survives the @rm that killed its predecessor
    val rmMax = TxTable.rmMaxOf(sh.removes)
    val shardDf = spark.read
      .text(TxTable.shardFilePaths(sh): _*)
      .select(org.apache.spark.sql.functions.input_file_name().as("__f"),
        col("value").as("__l"))
      .as[(String, String)]
      .filter(_._2.nonEmpty)
      .map { case (f, line) =>
        val e = TxTable.parseEntryLine(line)
        val shardV = TxTable.shardVersionOf(
          f.substring(f.lastIndexOf('/') + 1))
        (e.rel, e.bucket, line, shardV)
      }
      .filter(r => !rmMax.get(r._1).exists(_ > r._4))
      .map(r => (r._1, r._2, r._3))
    val addDf = spark.createDataset(
      sh.adds.map(e => (e.rel, e.bucket, TxTable.renderEntryLine(e))))
    val entryDf = shardDf.union(addDf).toDF("__rel", "__bucket", "__line")
    evaluate(spark, path, entryDf, st)
      .select(col("__line")).as[String].collect()
      .map(TxTable.parseEntryLine(_)).toSeq
      .sortBy(e => (e.bucket, e.rel))
  }

  /** The job behind [[run]] and [[runSharded]]: one left join per
    * sidecar-profiled column, then one mapPartitions filter running
    * [[TxFilePlanner.Stages.keep]] over whatever entry frame the caller
    * built. Extra input columns (the sharded path's `__line`) pass
    * through untouched. */
  private def evaluate(spark: SparkSession, path: String,
                       entryDf: DataFrame, st: Stages): DataFrame = {
    runs.incrementAndGet()
    var df = entryDf
    // the sidecar parquet is read DISTRIBUTED (rel, lo, hi / rel, bloom);
    // duplicates from racing refresh appends carry identical values by
    // construction (immutable files, deterministic footers), so an
    // arbitrary dropDuplicates pick matches the driver path's dedup
    st.zones.zipWithIndex.foreach { case (z, i) =>
      val sp = TxTable.statsPath(path, z.column).toString
      val s = spark.read.parquet(sp)
        .select(col("rel").as(s"__zr$i"), col("lo").as(s"__lo$i"),
          col("hi").as(s"__hi$i"))
        .dropDuplicates(s"__zr$i")
        .withColumn(s"__zs$i", lit(true))
      df = df.join(s, df("__rel") === s(s"__zr$i"), "left")
        .drop(s"__zr$i")
    }
    st.blooms.zipWithIndex.foreach { case (b, i) =>
      val sp = TxTable.bloomPath(path, b.column).toString
      val s = spark.read.parquet(sp)
        .select(col("rel").as(s"__br$i"), col("bloom").as(s"__bm$i"))
        .dropDuplicates(s"__br$i")
      df = df.join(s, df("__rel") === s(s"__br$i"), "left")
        .drop(s"__br$i")
    }
    val schema = df.schema
    val relIdx = schema.fieldIndex("__rel")
    val bucketIdx = schema.fieldIndex("__bucket")
    val zIdx = st.zones.indices.map(i => (schema.fieldIndex(s"__lo$i"),
      schema.fieldIndex(s"__hi$i"), schema.fieldIndex(s"__zs$i")))
    val bmIdx = st.blooms.indices.map(i => schema.fieldIndex(s"__bm$i"))
    df.mapPartitions { it =>
      it.filter { r =>
        st.keep(r.getString(relIdx), r.getInt(bucketIdx),
          i => {
            val (li, hi, si) = zIdx(i)
            if (r.isNullAt(si)) None else Some((r.get(li), r.get(hi)))
          },
          i => if (r.isNullAt(bmIdx(i))) None
            else Some(org.apache.spark.util.sketch.BloomFilter.readFrom(
              r.getAs[Array[Byte]](bmIdx(i)))))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
      .toDF()
  }
}
