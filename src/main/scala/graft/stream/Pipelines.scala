package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.ops.{BronzeOps, GoldOps, TxTable}
import graft.schemas.Schemas

/** Structured-Streaming assembly of the medallion pipeline
  * (SURVEY §2.8 T1–T10).
  *
  * The reference runs 4 bronze + 8 silver concurrent micro-batch queries
  * over Kafka (`Bronze1.py:151-181`, `Silver1.py:133-157`). This module
  * keeps the same topology but:
  *   - sources are injectable (Kafka in production, MemoryStream/file in
  *     tests — the env has no broker);
  *   - the stateful dedup is **watermarked** (`withWatermark` +
  *     `dropDuplicatesWithinWatermark`): the reference's bare
  *     `dropDuplicates` grows state without bound (SURVEY §2.10/T3), which
  *     is exactly what kills a long-running job at scale. Bounded state is
  *     a deliberate, documented semantic change: duplicates arriving later
  *     than the watermark delay are re-admitted.
  *   - Delta sinks are parquet (no Delta jars in env; the reference uses no
  *     Delta-specific features — SURVEY §1.5).
  *
  * Every transform is the same pure batch function used by the oracle-gated
  * queries; streaming is wiring, not logic.
  */
object Pipelines {

  val Topics = Map(
    "profiles" -> "cdc_dbserver1.public.customer_profile",
    "usage" -> "cdc_dbserver1.public.app_usage",
    "churn" -> "churn_transactions",
    "support" -> "support_tickets")

  /** Parse with the silver-typed schemas: the reference's bronze keeps
    * `timestamp` as a string (`Bronze1.py:111-116`) and its silver re-parses
    * the same Kafka bytes with TimestampType (`Silver1.py:79-84`); our
    * silver consumes bronze's parse directly, so bronze parses typed —
    * same JSON, same rows, one parse instead of two. */
  private val schemas: Map[String, StructType] = Map(
    "profiles" -> Schemas.customerProfileBronze,
    "usage" -> Schemas.appUsageSilver,
    "churn" -> Schemas.transactionsSilver,
    "support" -> Schemas.supportTickets)

  /** Bronze: route a multi-topic wire stream (value/topic) into the four
    * parsed entity streams (`Bronze1.py:130-145`). */
  def bronze(wire: DataFrame): Map[String, DataFrame] =
    Topics.map { case (entity, topic) =>
      entity -> BronzeOps.parseTopic(BronzeOps.castWire(wire), topic, schemas(entity))
    }

  // --- silver streaming cleansers: reference predicates + bounded dedup ---

  /** customer_profile (`Silver1.py:34-43`), watermarked dedup on
    * (customer_id, event_time). */
  def silverCustomer(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    df.withColumn("signup_date", to_date(col("signup_date")))
      .na.drop(Seq("customer_id", "email"))
      .filter(col("age") > 0)
      .filter(col("gender").isin("Male", "Female", "Other"))
      .filter(!col("email").contains("test"))
      .filter(!col("name").rlike("test|dummy|xyz"))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(Seq("customer_id", "event_time"))

  /** app_usage (`Silver1.py:62-67`). The reference's dedup key event_time is
    * null for every producer row (§2.10.4); null event-times can't carry a
    * watermark, so the streaming dedup keys on customer_id + last_login with
    * the watermark on last_login. */
  def silverAppUsage(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    df.na.drop(Seq("customer_id"))
      .filter(col("sessions_last_30d") >= 0)
      .withWatermark("last_login", watermark)
      .dropDuplicatesWithinWatermark(Seq("customer_id", "last_login"))

  /** churn_transactions (`Silver1.py:86-91`). */
  def silverTransactions(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    df.na.drop(Seq("customer_id", "timestamp"))
      .filter(col("value") > 0)
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark(Seq("customer_id", "timestamp"))

  /** support_tickets (`Silver1.py:115-120`). */
  def silverSupport(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    df.na.drop(Seq("ticket_id", "customer_id"))
      .filter(col("status").isin("Open", "In Progress", "Resolved", "Closed"))
      .withWatermark("updated_at", watermark)
      .dropDuplicatesWithinWatermark(Seq("ticket_id", "updated_at"))

  /** Streaming windowed aggregation (T5 extension the reference lacks):
    * tumbling 1-hour event_type counts with late-data bound. */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  // --- sinks (K1/K2 analogs) --------------------------------------------

  /** Delta-analog streaming sink: append parquet + checkpoint
    * (`Bronze1.py:151-158` shape). */
  def toParquetSink(df: DataFrame, path: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Kafka-analog sink: keyed JSON rows appended as text (the env has no
    * broker; the frame shape is exactly `Silver1.py:45-46`). */
  def toJsonSink(df: DataFrame, keyCol: String, path: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BronzeOps.toKafkaFrame(df, keyCol)
      .writeStream
      .format("json")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** K5: console streaming sink — the debug tap the reference puts on its
    * CDC bronze stream (`DezbeiumPostgresCDC/Bronze.py:99-103`). Driver-side
    * by nature; never part of a scale path. */
  def toConsoleSink(df: DataFrame, numRows: Int = 20,
                    truncate: Boolean = true): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("console")
      .option("numRows", numRows.toString)
      .option("truncate", truncate.toString)
      .outputMode("append")

  // --- Kafka wire (production path; the test env has no broker) ---------

  /** S1/S2: Kafka streaming source. `startingOffsets` defaults to latest —
    * the reference sets the option twice and last-set wins (SURVEY
    * §2.10.7); `failOnDataLoss` and the per-trigger cap mirror
    * `Bronze1.py:87-94` / `Silver1.py:11`. */
  def kafkaSource(spark: SparkSession, servers: String, topics: Seq[String],
                  startingOffsets: String = "latest",
                  failOnDataLoss: Boolean = false,
                  maxOffsetsPerTrigger: Long = 1000L): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", failOnDataLoss.toString)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .load()

  /** K2: Kafka streaming sink — key = id cast string, value =
    * to_json(struct(*)) (`Silver1.py:45-52`). */
  def toKafkaSink(df: DataFrame, keyCol: String, servers: String,
                  topic: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BronzeOps.toKafkaFrame(df, keyCol)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  // --- stateful extensions (beyond the reference surface) ---------------

  /** Streaming sessionization via session_window (the native streaming
    * analog of SessionOps.sessionize): gap-merged windows per user with
    * watermark-bounded state. */
  def streamingSessions(events: DataFrame, gap: String = "30 minutes",
                        watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Custom keyed state via flatMapGroupsWithState: running per-customer
    * lifetime spend emitted on every update (the kind of feature the
    * reference recomputes from scratch every 60 s; here it is incremental
    * with O(customers) state). */
  def runningSpend(txns: org.apache.spark.sql.Dataset[graft.schemas.Schemas.Transaction]):
      org.apache.spark.sql.Dataset[(String, Double, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import txns.sparkSession.implicits._
    txns.groupByKey(_.customer_id)
      .flatMapGroupsWithState[(Double, Long), (String, Double, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (cid, rows, state: GroupState[(Double, Long)]) =>
          val (spend0, n0) = state.getOption.getOrElse((0.0, 0L))
          var spend = spend0; var n = n0
          rows.foreach { t => if (t.value != null && t.value > 0) { spend += t.value; n += 1 } }
          state.update((spend, n))
          Iterator.single((cid, math.rint(spend * 100) / 100, n))
      }
  }

  /** Stream-static enrichment join: attach a (small, broadcastable)
    * dimension to a stream on ingest — the streaming counterpart of the
    * Gold enrichment chain, avoiding the reference's recompute-everything
    * poll. The static side is re-read per micro-batch, so slowly-changing
    * dims pick up updates. */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Watermarked stream-stream interval join: pair each left-stream row
    * with the right-stream rows for the same key whose event time falls in
    * [left.ts, left.ts + bound] — streaming attribution (touch → purchase
    * within the window) without landing either stream first.
    *
    * Both sides are watermarked and the join condition carries the
    * event-time bound, which is what lets Spark PRUNE state: each side
    * buffers only rows inside watermark + bound, so state is
    * O(rate × window), never O(stream). Left alias `l`, right alias `r`
    * in the output. */
  def streamStreamInterval(left: DataFrame, right: DataFrame, key: String,
                           leftTs: String, rightTs: String,
                           bound: String = "30 minutes",
                           watermark: String = "10 minutes",
                           joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    // the two-sided event-time bound is what makes OUTER types legal here:
    // state on both sides is provably finite, so once the watermark passes
    // leftTs + bound + watermark an unmatched left row can emit null-padded
    // (left_outer) instead of waiting forever
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs >= l.$leftTs " +
        s"AND r.$rightTs <= l.$leftTs + interval $bound"), joinType)
  }

  /** CDC apply — THE ingest path for change streams: each micro-batch of
    * parsed change rows MERGEs into a [[graft.ops.TxTable]], last-writer-
    * wins per key (the MERGE the reference's Debezium topology implies but
    * never implements — its silver only appends, so updated customer rows
    * accumulate as duplicates). Each micro-batch lands as one atomic
    * manifest commit: readers see exact batch boundaries (snapshot
    * isolation), a crash mid-batch leaves only invisible orphan files, and
    * a concurrent maintenance job (compaction, backfill) can commit
    * between batches through the optimistic protocol instead of waiting on
    * a writer lock. Per-batch I/O rewrites only the buckets the batch's
    * keys hash into — the property that keeps a 60 s CDC cadence viable at
    * 100 TB. Seed the target with `TxTable.init(snapshot, ...)` first. */
  def cdcApply(changes: DataFrame, tablePath: String, key: String,
               orderCol: String, checkpoint: String,
               nBuckets: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.TxTable.upsert(batch.sparkSession, tablePath, batch,
          key, orderCol, nBuckets)
        ()
      }

  /** [[cdcApply]] on the EQUALITY-DELETE write shape (the Iceberg v2 MOR
    * posture): each micro-batch lands as ONE atomic commit that registers
    * an equality delete for the batch's keys and appends the batch's new
    * row images — ZERO read amplification on the write path, where
    * [[cdcApply]]'s upsert re-reads and rewrites every touched bucket
    * per trigger. The read side pays a broadcast anti-join (Scala reads)
    * or a plan-time position fold (DSv2 reads) until maintenance folds
    * the registry (`foldEqDeletes`, or any covering compaction); the
    * scheduled fold is the knob that trades read tax for write
    * throughput — the right trade when triggers are frequent and
    * touched buckets are wide, the common CDC shape at 100 TB.
    * Exactly-once via the (appId, batchId) token like [[appendTx]]. An
    * optional `opCol` marks delete-op rows ('d' = delete-only: key
    * registered, no image appended). */
  def cdcApplyEq(changes: DataFrame, tablePath: String, key: String,
                 checkpoint: String, appId: String,
                 nBuckets: Int = 64, opCol: Option[String] = None)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.col
        val (rows, keys) = opCol match {
          case Some(c) =>
            (batch.filter(col(c) =!= "d").drop(c),
              batch.select(col(key)))
          case None => (batch, batch.select(col(key)))
        }
        graft.ops.TxTable.appendWithEqDelete(batch.sparkSession,
          tablePath, rows, keys, key, nBuckets, appId, batchId)
        ()
      }

  /** Exactly-once streaming append into a [[graft.ops.TxTable]]: each
    * micro-batch commits atomically with its (appId, batchId) in the
    * manifest header, so a batch REPLAYED after a crash between the sink
    * write and the checkpoint commit is recognized and skipped
    * (`TxTable.appendOnce`) — the Delta txnAppId/txnVersion idempotence
    * pattern. This upgrades the plain parquet append sink (K1, at-least-
    * once on replay) to exactly-once without any dedup-on-read. Seed the
    * target with `TxTable.init(...)`; pick `appId` stable across restarts
    * (it identifies the QUERY, not the run). */
  def appendTx(stream: DataFrame, tablePath: String, key: String,
               checkpoint: String, appId: String,
               nBuckets: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.TxTable.appendOnce(batch.sparkSession, tablePath, batch,
          key, nBuckets, appId, batchId)
        ()
      }

  /** [[appendTx]] with a data-quality gate — the dead-letter landing
    * pattern: each micro-batch is measured against `checks`
    * ([[graft.ops.ExpectOps]], one aggregation pass over the batch) BEFORE
    * it can commit. A batch passing every expectation appends to
    * `tablePath` exactly-once; a failing batch diverts WHOLE to
    * `quarantinePath` (same exactly-once protocol, distinct appId
    * namespace) so nothing is lost and nothing bad is published —
    * partially admitting a failing batch would make the failure invisible
    * downstream. The per-batch expectation report lands nowhere by design
    * (it is one collected row of driver-side gate state); callers wanting
    * an audit trail can re-run the same checks on the quarantine table. */
  def appendTxGated(stream: DataFrame, tablePath: String,
                    quarantinePath: String,
                    checks: Seq[graft.ops.ExpectOps.Expectation],
                    key: String, checkpoint: String, appId: String,
                    nBuckets: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) { // an empty replay batch has nothing to gate
          val passed = graft.ops.ExpectOps.report(batch, checks)
            .agg(min(col("passed"))).head().getBoolean(0)
          if (passed)
            graft.ops.TxTable.appendOnce(batch.sparkSession, tablePath, batch,
              key, nBuckets, appId, batchId)
          else
            graft.ops.TxTable.appendOnce(batch.sparkSession, quarantinePath,
              batch, key, nBuckets, s"$appId-quarantine", batchId)
        }
        ()
      }

  /** Ingestion-time near-dup dedup — the landing-job pattern for a
    * continuously-growing corpus: each micro-batch of documents is
    * admitted through [[graft.ops.DedupOps.ingestBatch]] (sign the batch
    * once, probe the staged MinHash band index, reject near-dups of the
    * corpus or of smaller-id batch siblings, append survivors to
    * `corpusPath` and their band keys to `indexPath`).
    *
    * Dedup state lives in the index TABLE, not in streaming state: no
    * watermark, no state-store growth, restart picks up from the
    * checkpointed batch id, and per-batch cost stays O(|batch| +
    * collisions) no matter how large the corpus grows — the property that
    * distinguishes this from `dropDuplicates` state, which is bounded only
    * by a watermark and keys only on exact equality.
    *
    * The band index is a [[graft.ops.TxTable]] committed exactly once per
    * batch id ([[graft.ops.TxTable.appendIndexOnce]]): atomic manifests
    * replace the plain per-batch parquet appends that accrete a
    * million-file listing at production cadence, and an in-job compaction
    * every [[graft.ops.TxTable.appendIndexOnce]] cycle keeps the live
    * file count bounded at any ingest age. */
  def dedupIngest(docs: DataFrame, corpusPath: String, indexPath: String,
                  checkpoint: String, threshold: Double = 0.5,
                  num: Int = 64, bands: Int = 16, shingle: Int = 3,
                  portable: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.DedupOps.ingestBatch(batch, corpusPath, indexPath,
          threshold, num, bands, shingle, portable,
          txn = Some((BandIndexApp, batchId)))
          .unpersist(blocking = false)
        ()
      }

  /** Stable txn app ids for the landing jobs' side-index commits (the
    * appId half of [[graft.ops.TxTable.appendOnce]]'s idempotence key;
    * batch ids come from the stream checkpoint). One landing stream per
    * index table is the design — two streams sharing an index would
    * interleave batch ids and break the per-app monotonicity contract. */
  private[graft] val BandIndexApp = "graft-band-index"
  private[graft] val SpanIndexApp = "graft-span-index"
  private[graft] val SearchIndexApp = "graft-search-index"
  private[graft] val EmbedIndexApp = "graft-embed-index"

  /** Embedding-modality ingestion dedup — [[dedupIngest]]'s sibling for
    * vector streams (continuously-landing image/audio embeddings): each
    * micro-batch is admitted through
    * [[graft.ops.DedupOps.embedIngestBatch]] (sign the batch, probe the
    * staged SRP band index, exact-cosine-verify collisions, reject
    * near-dups of the corpus or of smaller-id batch siblings). Dedup
    * state lives in the index table — a [[graft.ops.TxTable]] committed
    * exactly once per batch id with in-job compaction, like
    * [[dedupIngest]]'s band index — no streaming state store, restart
    * picks up from the checkpointed batch id, per-batch cost stays
    * O(|batch| + collisions) at any corpus size. */
  def embedIngest(vectors: DataFrame, corpusPath: String, indexPath: String,
                  checkpoint: String, threshold: Double = 0.9,
                  nPlanes: Int = 64, bands: Int = 8,
                  seed: Long = 42L): DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.DedupOps.embedIngestBatch(batch, corpusPath, indexPath,
          threshold, nPlanes, bands, seed,
          txn = Some((EmbedIndexApp, batchId)))
        ()
      }

  /** The COMPLETE training-data landing job as one streaming query: each
    * micro-batch of raw documents passes the C4/Gopher quality gate and
    * the LM perplexity gate (both stateless row-local projections), has
    * duplicated spans EXCISED (the Lee et al. exact-substring stage made
    * cumulative — [[graft.ops.DedupOps.exciseAgainstIndex]] vs the staged
    * span-gram index, so boilerplate repeated anywhere in the admitted
    * corpus OR the batch keeps its first occurrence and loses every other
    * copy; a rewritten doc must re-clear the quality gate on its final
    * text, so a fully- or mostly-excised remnant is dropped), and the
    * survivors go through [[graft.ops.DedupOps.ingestBatch]]'s near-dup
    * admission against the staged MinHash band index — so the corpus
    * parquet only ever accumulates clean, in-distribution, boilerplate-
    * free, non-duplicate documents. Composition of the four spec'd
    * stages; state lives in the index parquet (no streaming state store),
    * restart picks up from the checkpointed batch id and replays
    * idempotently (ingestBatch admission is keyed, so exactly-once
    * admission is preserved).
    *
    * Span excision rewrites only documents it actually cut (`n_removed >
    * 0`, whitespace-normalized lowercase rebuild — the operator's
    * contract); untouched documents keep their original bytes. Scope is
    * CORPUS-WIDE: the batch probes the staged span-gram index
    * ([[graft.ops.DedupOps.exciseAgainstIndex]] over
    * [[graft.ops.DedupOps.spanGramIndex]] at `spanIndexPath`, default
    * `indexPath + "_spans"`), so boilerplate injected across batches —
    * license headers, cookie banners accumulating over days of ingest —
    * is cut the same as within-batch repetition; the admitted docs'
    * grams append to the index after admission (the band-index
    * maintenance pattern), keeping per-batch cost O(batch grams + index
    * hits) at any corpus age. The index stores `(doc_id, gh)` and the
    * probe excludes same-doc hits, so a torn batch (index appended,
    * checkpoint uncommitted) REPLAYS to the same excision instead of
    * excising itself to nothing. `spanK` = 0 disables the stage.
    *
    * `metricsPath`: when set, every micro-batch appends ONE audit row —
    * (batch_id, n_in, n_quality, n_lm, n_span_cut, n_span_admitted,
    * n_accepted) — the admission funnel a production landing job
    * dashboards (what fraction died at which gate; a collapsing
    * n_accepted/n_in ratio is the first sign of a poisoned source or a
    * drifting LM threshold). Every gate verdict rides the ONE flagged
    * frame as a column, so the funnel is a single conditional-sum
    * aggregation over cached rows (the `lmThresholdSweep` trick) — one
    * extra job per batch, never a post-append lineage recompute. A
    * replayed batch re-appends under the SAME batch_id, so consumers
    * read one row per batch_id (the same append-dedup contract as the
    * corpus itself).
    *
    * Both side-indexes (MinHash bands inside
    * [[graft.ops.DedupOps.ingestBatch]], span grams here) are
    * [[graft.ops.TxTable]]s committed exactly once per batch id with
    * in-job compaction — atomic manifests back the owner-id replay
    * contract, and index file counts stay bounded at any ingest age.
    *
    * `searchIndexPath`: when set, each batch's ACCEPTED docs also land
    * in a BM25 inverted index ([[graft.ops.TextOps.appendToBm25Index]]) —
    * the corpus becomes full-text-queryable as it is admitted, under the
    * same exactly-once/auto-compaction contract as the dedup indexes. */
  def prepIngest(docs: DataFrame, lm: graft.ops.TextOps.CharBigramLM,
                 corpusPath: String, indexPath: String, checkpoint: String,
                 maxNll: Double = 1.75, threshold: Double = 0.5,
                 num: Int = 64, bands: Int = 16, shingle: Int = 3,
                 portable: Boolean = false, spanK: Int = 8,
                 spanIndexPath: Option[String] = None,
                 metricsPath: Option[String] = None,
                 searchIndexPath: Option[String] = None,
                 driftRef: Option[NllDriftRef] = None,
                 driftPath: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        prepIngestBatch(batch, batchId, lm, corpusPath, indexPath, maxNll,
          threshold, num, bands, shingle, portable, spanK, spanIndexPath,
          metricsPath, searchIndexPath, driftRef, driftPath)
      }

  /** Frozen reference distribution for the landing job's NLL drift
    * monitor: equal-width bucket edges over the reference's score range
    * plus the reference's per-bucket probabilities — bounded driver
    * metadata (like the LM itself), computed ONCE from a trusted corpus
    * sample and carried into every micro-batch. */
  final case class NllDriftRef(mn: Double, mx: Double, probs: Seq[Double])

  /** Build an [[NllDriftRef]] from a reference corpus: one min/max
    * aggregate + one ≤`nBuckets`-row bucket-count collect. Scores round
    * half-up at 6 dp before bucketing (here AND in the per-batch leg), so
    * bucket assignment is reproducible across engines — the same parity
    * contract the LM-score oracle pins. */
  def nllDriftRef(refDocs: DataFrame, lm: graft.ops.TextOps.CharBigramLM,
                  nBuckets: Int = 10): NllDriftRef = {
    val scored = graft.ops.TextOps.lmScore(refDocs, lm)
      .select((floor(col("nll") * 1e6 + 0.5) / 1e6).as("nll"))
      .filter(col("nll").isNotNull)
    val mm = scored.agg(min(col("nll")), max(col("nll"))).head()
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val width = if (mx > mn) (mx - mn) / nBuckets else 1.0
    val b = least(greatest(
      floor((col("nll") - lit(mn)) / lit(width)).cast("int"), lit(0)),
      lit(nBuckets - 1))
    val counts = scored.select(b.as("__b")).groupBy(col("__b")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    NllDriftRef(mn, mx,
      (0 until nBuckets).map(i => counts.getOrElse(i, 0L) / total))
  }

  /** One landing micro-batch — EXACTLY the body [[prepIngest]] runs per
    * streaming micro-batch, callable from batch code: driver-paced
    * backfills, and the oracle-gated `ext_ingest_funnel` fixture, which
    * replays a deterministic batch split through the real landing job so
    * the observability surface itself is hash-checked. `batchId` is the
    * txn id for both side-index commits; callers must keep it monotone
    * per target (the streaming path gets this from its checkpoint). */
  def prepIngestBatch(batch: DataFrame, batchId: Long,
                      lm: graft.ops.TextOps.CharBigramLM,
                      corpusPath: String, indexPath: String,
                      maxNll: Double = 1.75, threshold: Double = 0.5,
                      num: Int = 64, bands: Int = 16, shingle: Int = 3,
                      portable: Boolean = false, spanK: Int = 8,
                      spanIndexPath: Option[String] = None,
                      metricsPath: Option[String] = None,
                      searchIndexPath: Option[String] = None,
                      driftRef: Option[NllDriftRef] = None,
                      driftPath: Option[String] = None): Unit = {
        import org.apache.spark.storage.StorageLevel
        val s = batch.sparkSession
        val cols = batch.columns.toSeq
        val sgPath = spanIndexPath.getOrElse(indexPath + "_spans")
        // ONE flagged frame carries every stateless gate verdict as a
        // column (__q quality, __l quality∧LM): the admitted slice AND
        // the audit funnel both derive from it — persisted, so nothing
        // downstream re-runs the projections, and no count can observe
        // post-append state
        val flagged = graft.ops.TextOps.lmScore(
            graft.ops.TextOps.qualityFilter(batch,
                carry = cols.filterNot(_ == "doc_id"))
              .withColumnRenamed("keep", "__q")
              .select((cols :+ "__q").map(col): _*), lm)
          .withColumn("__l", col("__q") && col("nll") <= maxNll)
          .select((cols :+ "__q" :+ "__l" :+ "nll").map(col): _*)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val gated = flagged.filter(col("__l")).select(cols.map(col): _*)
        // span stage: requalified rewrite audit (doc_id, n_removed, keep)
        // persists alongside — the funnel's span columns read it cached
        val (admitted, spanAudit) =
          if (spanK <= 0) (gated, None)
          else {
            val excised =
              if (TxTable.isTxTable(s, sgPath) || {
                    val sg = new org.apache.hadoop.fs.Path(sgPath)
                    sg.getFileSystem(s.sparkContext.hadoopConfiguration)
                      .exists(sg)
                  })
                graft.ops.DedupOps.exciseAgainstIndex(gated,
                  TxTable.readAny(s, sgPath), k = spanK)
              else graft.ops.DedupOps.exciseDuplicatedSpans(gated, k = spanK)
            // a REWRITTEN doc must still clear the quality gate on its
            // final text — a sub-floor remnant (a doc that was mostly
            // boilerplate) is junk like any other junk; this also
            // subsumes the fully-excised (empty-text) drop
            val rewritten = gated
              .join(excised.select(col("doc_id"), col("n_removed"),
                col("text_clean")), Seq("doc_id"))
              .withColumn("text", when(col("n_removed") > 0, col("text_clean"))
                .otherwise(col("text")))
            val requal = graft.ops.TextOps.qualityFilter(rewritten,
                carry = cols.filterNot(_ == "doc_id") :+ "n_removed")
              .persist(StorageLevel.MEMORY_AND_DISK)
            val out = requal.filter(col("n_removed") === 0 || col("keep"))
              .select(cols.map(col): _*)
            (out, Some(requal))
          }
        val accepted = graft.ops.DedupOps.ingestBatch(admitted, corpusPath,
          indexPath, threshold, num, bands, shingle, portable,
          txn = Some((BandIndexApp, batchId)))
        // grow the span index by the ACCEPTED docs' (post-excision) grams,
        // exactly how ingestBatch grows the band index by the accepted
        // band keys — the next batch probes an up-to-date substring
        // corpus. Committed once per batch id: a torn batch replays to a
        // no-op commit, with the owner-id probe exclusion as the
        // defense-in-depth for the half-committed window.
        if (spanK > 0)
          TxTable.appendIndexOnce(s, sgPath,
            graft.ops.DedupOps.spanGramIndex(accepted, k = spanK),
            "gh", 8, SpanIndexApp, batchId)
        // full-text search-index maintenance: the accepted docs' postings
        // land in the BM25 inverted index under the same batch id (first
        // batch bootstraps it), so the corpus is BM25-queryable the moment
        // a batch is admitted — same exactly-once + auto-compaction
        // contract as the dedup side-indexes, same O(batch) cost.
        searchIndexPath.foreach { sip =>
          graft.ops.TextOps.appendToBm25Index(s, sip,
            accepted.select(col("doc_id"), col("text")),
            SearchIndexApp, batchId)
        }
        metricsPath.foreach { mp =>
          // the whole funnel is ONE single-stage job: union the CACHED
          // audit projections (flagged / span requalification / accepted,
          // each tagged with indicator columns), collapse to one partition
          // — a micro-batch's audit rows are tiny — and aggregate
          // conditional sums. No joins (a broadcast build is its own
          // job) and no exchange (each AQE stage is its own job), so
          // enabling metrics costs exactly one extra job per batch and
          // never recomputes gate lineage. The span leg needs no __l
          // flag: requalification rows ARE exactly the gated docs.
          val fLeg = flagged.select(lit(1L).as("__in"),
            when(col("__q"), 1L).otherwise(0L).as("__q1"),
            when(col("__l"), 1L).otherwise(0L).as("__l1"),
            lit(0L).as("__cut"), lit(0L).as("__adm"), lit(0L).as("__acc"))
          val sLeg = spanAudit.map(_.select(lit(0L).as("__in"),
            lit(0L).as("__q1"), lit(0L).as("__l1"),
            when(col("n_removed") > 0, 1L).otherwise(0L).as("__cut"),
            when(col("n_removed") === 0 || col("keep"), 1L).otherwise(0L)
              .as("__adm"),
            lit(0L).as("__acc")))
          val aLeg = accepted.select(lit(0L).as("__in"), lit(0L).as("__q1"),
            lit(0L).as("__l1"), lit(0L).as("__cut"), lit(0L).as("__adm"),
            lit(1L).as("__acc"))
          val legs = (Seq(fLeg) ++ sLeg.toSeq :+ aLeg)
            .reduce(_ unionByName _)
          val admitExpr =
            if (spanAudit.isDefined) sum(col("__adm")) else sum(col("__l1"))
          legs.coalesce(1).agg(
              coalesce(sum(col("__in")), lit(0L)).as("n_in"),
              coalesce(sum(col("__q1")), lit(0L)).as("n_quality"),
              coalesce(sum(col("__l1")), lit(0L)).as("n_lm"),
              coalesce(sum(col("__cut")), lit(0L)).as("n_span_cut"),
              coalesce(admitExpr, lit(0L)).as("n_span_admitted"),
              coalesce(sum(col("__acc")), lit(0L)).as("n_accepted"))
            .withColumn("batch_id", lit(batchId))
            .select(col("batch_id"), col("n_in"), col("n_quality"),
              col("n_lm"), col("n_span_cut"), col("n_span_admitted"),
              col("n_accepted"))
            .write.mode("append").parquet(mp)
        }
        // NLL drift monitor: PSI of this batch's RAW-FEED score
        // distribution against the frozen reference — upstream content
        // shifts surface here even when the gates still pass everything.
        // Bucket edges are driver metadata (NllDriftRef), so the whole
        // check is ONE conditional-sum aggregation over the cached
        // flagged frame: one extra job per batch when enabled, no joins,
        // no lineage recompute — the funnel's own cost discipline.
        (driftRef, driftPath) match {
          case (Some(ref), Some(dp)) =>
            val n = ref.probs.length
            val width = if (ref.mx > ref.mn) (ref.mx - ref.mn) / n else 1.0
            val nll6 = floor(col("nll") * 1e6 + 0.5) / 1e6
            val bucket = least(greatest(
              floor((nll6 - lit(ref.mn)) / lit(width)).cast("int"),
              lit(0)), lit(n - 1))
            val aggCols =
              count(lit(1)).cast("double").as("__t") +:
                (0 until n).map(i =>
                  sum(when(col("__b") === i, 1L).otherwise(0L))
                    .cast("double").as(s"__c$i"))
            val agg = flagged.filter(col("nll").isNotNull)
              .select(bucket.as("__b"))
              .agg(aggCols.head, aggCols.tail: _*)
            val eps = 1e-6
            val psi = (0 until n).map { i =>
              val p = greatest(col(s"__c$i") / col("__t"), lit(eps))
              val q = lit(math.max(ref.probs(i), eps))
              (p - q) * log(p / q)
            }.reduce(_ + _)
            agg.select(lit(batchId).as("batch_id"),
                col("__t").cast("long").as("n_scored"),
                when(col("__t") > 0,
                  floor(psi * 1e6 + 0.5).cast("double") / 1e6)
                  .as("psi"))
              // a micro-batch with zero scorable rows has no distribution
              // to drift: emit NO row (same emptiness contract as the
              // funnel's audit legs) instead of a (n_scored=0, psi=NULL)
              // placeholder downstream monitors would have to special-case
              .filter(col("n_scored") > 0)
              .write.mode("append").parquet(dp)
          case _ => ()
        }
        accepted.unpersist(blocking = false)
        spanAudit.foreach(_.unpersist(blocking = false))
        flagged.unpersist(blocking = false)
        ()
  }

  // --- gold batch-over-stream hand-off (T10) ----------------------------

  /** T10 as a streaming query instead of the reference's 60 s `while True`
    * loop (`Gold1.py:144-146`): every micro-batch of cleansed transactions
    * triggers one gold refresh over the current silver tables, written
    * append to `goldPath`. The stream is only the trigger/cursor; features
    * still come from the full silver state, matching the reference's
    * recompute semantics but driven by data arrival rather than sleep. */
  def goldForeachBatch(txnStream: DataFrame, spark: SparkSession,
                       silverDir: String, goldPath: String, checkpoint: String,
                       now: Column = current_timestamp()): DataStreamWriter[org.apache.spark.sql.Row] =
    txnStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        goldRefresh(spark, silverDir, now)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(goldPath)
      }

  /** One Gold refresh over the silver parquet tables — the body of the
    * reference's 60 s polling loop (`Gold1.py:17-146`), as a pure function
    * of paths + injected `now`. */
  def goldRefresh(spark: SparkSession, silverDir: String,
                  now: Column = current_timestamp()): DataFrame = {
    val cust = spark.read.parquet(s"$silverDir/customer_profile")
    val usage = spark.read.parquet(s"$silverDir/app_usage")
    val txn = spark.read.parquet(s"$silverDir/churn_transactions")
    val sup = spark.read.parquet(s"$silverDir/support_tickets")
    val app = GoldOps.appFeatures(usage, now)
    val dec = GoldOps.paymentDeclines(txn)
    val arpu = GoldOps.revenueArpu(txn, app)
    val support = GoldOps.supportFeatures(sup)
    GoldOps.enrich(cust, app, dec, arpu, support, now)
  }
}
