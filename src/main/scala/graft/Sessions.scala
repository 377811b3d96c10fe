package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** Shared engine tuning for every driver main (Bench / Verify / Explain /
  * Profile / Demo), the streambench driver and the test session: one
  * place, one recipe, so the measured session and the correctness session
  * run identical configs.
  *
  *   - `spark.shuffle.sort.bypassMergeThreshold = 1` (guide §2.2): always
  *     use the sort-based shuffle writer (one data file + one index per map
  *     task). The bypass writer opens R partition files with R write buffers
  *     per map task; at `local[32]` with `shuffle.partitions = 32` that is
  *     32 files × 32 tasks = 1024 file creates per tiny shuffle — measured
  *     at ~300 ms of executor time PER TASK on ext_embed_meanpool
  *     (stage run time 11.1 s → 0.78 s with the sort writer; this single
  *     constant was the round-15 "32 cores slower than 8 cores" inversion).
  *     Production shuffles run with R > 200 where bypass is already
  *     disabled, so the setting is scale-neutral: it changes nothing for a
  *     production-sized job.
  *   - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` (as
  *     `spark.hadoop.*`): the local `file:` FileSystem of the `FileSystem`
  *     and the `FileContext` API is the process-free one in `graft.io`
  *     ([[graft.io.NioRawLocalFileSystem]]). Without the native
  *     `libhadoop`, stock Hadoop forks a `chmod` for every file and
  *     directory it creates and two `readlink`s for every
  *     `FileContext.rename` (Spark's offset, commit and state-store
  *     publishes): 13,669 forks in one ~50 s run of the streambench
  *     `stream` workload, 8 with it. Its micro-batch latency p50 went
  *     2.58 s → 1.19 s (medians of 10 alternating pairs, 4-core host).
  *     Hadoop caches `FileSystem` instances per scheme and user, NOT per
  *     configuration: the entries take effect only if this session is
  *     built before anything in the JVM calls `FileSystem.get` for
  *     `file:` (every driver main and the test suite build their session
  *     first).
  *   - `spark.sql.codegen.cache.maxEntries = 1000` (a static conf; Spark's
  *     default is 100): the JVM-wide cache of compiled generated classes
  *     holds the engine's working set. At 100 it was smaller than the
  *     classes of the four silver legs plus the Gold refresh, so every
  *     micro-batch and every refresh compiled its whole-stage code again:
  *     1,038 Janino compiles (~23 ms each) in the ~24 s steady phase of
  *     the streambench `stream` workload, 109 with this entry (seed 11,
  *     4-core host). Caches of 250, 500 and 4,000 entries gave 99, 95 and
  *     109: that is the floor no size removes (84 of the 109 are Spark's
  *     watermark eviction predicate, which inlines each batch's
  *     watermark; 25 compile four unchanged Gold stages again). Gold
  *     refresh ~3.0 s → ~2.2 s; `stream`
  *     freshness p50 6.35 s → 4.66 s and latency p50 1.66 s → 1.20 s
  *     (medians of 10 alternating pairs). 1000 is 10× the default, leaves
  *     room for the 174-query Bench JVM and the test JVM, and is still a
  *     cap: the per-batch watermark predicates can pin at most 1000
  *     compiled entries (and their metaspace). `CodeGenerator` sizes its
  *     cache the first time it is used in the JVM, from the conf active
  *     then: the entry takes effect only if this session is built before
  *     anything generates code (every driver main and the test suite
  *     build their session first).
  *
  * Measured and deliberately NOT set:
  *   - `spark.sql.files.minPartitionNum = 1` (size-based split planning)
  *     removed the 31-empty-splits-per-single-row-group-scan overhead
  *     (−0.6 s over 20 fixture-heavy queries) but serialized multi-file
  *     TxTable reads — many small bucket files bin-packed into one split
  *     read their file-open latency sequentially (TxTable-family subset
  *     20.2 s vs 11.8 s at the default). Net loss; the default floor
  *     (= default parallelism) stays.
  */
object Sessions {
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.hadoop.fs.file.impl",
        classOf[io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[io.NioLocalFs].getName)
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        CodegenCacheMaxEntries.toLong)

  /** Entries of the JVM-wide generated-class cache (see above). */
  val CodegenCacheMaxEntries = 1000

  /** Drop every cached Dataset and persisted RDD — the between-queries
    * reset of the driver mains, so no query is timed against another's
    * cache. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }
}
