package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application (Sennrich et al.
  * 2016 — the standard LLM tokenizer construction).
  *
  * Scale shape: training never iterates over the corpus. One
  * partial-aggregated shuffle builds the WORD-FREQUENCY table (vocabulary
  * rows — tiny next to any corpus, bounded by distinct words); every merge
  * iteration then runs on that small persisted frame: count adjacent
  * symbol pairs weighted by word frequency, pick the argmax
  * deterministically (count desc, pair asc — no RNG), apply the merge
  * row-locally. 100 TB of text and 1 GB of text train at the same
  * per-iteration cost after the first shuffle.
  *
  * Encoding is a pure row-local closure over the learned merge list
  * (applied in training order, greedy left-to-right within a word) —
  * zero shuffle, fused into the scan like the other text sweeps.
  */
object BpeOps {

  /** One merge step over a symbol sequence: every adjacent (a, b) becomes
    * ab, scanning left to right (the standard greedy rule). */
  private[graft] def mergeOnce(syms: IndexedSeq[String], a: String,
                        b: String): IndexedSeq[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** The word-frequency base table: (symbols, freq) with symbols = the
    * word's characters. Lower-cased whitespace tokenization, matching the
    * rest of the text family. */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))

  /** Learn `numMerges` merges. Deterministic: ties on pair count break by
    * (left, right) symbol order; stops early when no pair repeats.
    *
    * The DISTRIBUTED work is the word-frequency aggregation (one shuffle
    * over the corpus — the only corpus-sized step). The merge loop itself
    * runs driver-side over that vocabulary table, exactly like the
    * reference BPE trainer (Sennrich et al.): the table is bounded by
    * |distinct words| (capped at `maxVocab` by frequency for web-scale
    * vocabularies), and a driver loop over it is both orders of magnitude
    * faster than per-iteration Spark jobs and free of the growing-lineage
    * re-analysis each distributed iteration would pay. */
  def bpeTrain(docs: DataFrame, numMerges: Int, textCol: String = "text",
               maxVocab: Int = 1 << 20): Seq[(String, String)] = {
    var words: Array[(IndexedSeq[String], Long)] =
      wordFreq(docs, textCol)
        .orderBy(col("freq").desc, col("syms"))
        .limit(maxVocab)
        .collect()
        .map(r => (r.getSeq[String](0).toIndexedSeq, r.getLong(1)))
    val merges = ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.length < numMerges) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, freq) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          i += 1
        }
      }
      val candidates = counts.filter(_._2 >= 2)
      if (candidates.isEmpty) continue = false
      else {
        val best = candidates.minBy { case ((a, b), cnt) => (-cnt, a, b) }._1
        merges += best
        words = words.map { case (syms, freq) =>
          (mergeOnce(syms, best._1, best._2), freq)
        }
      }
    }
    merges.toSeq
  }

  /** One word through the merge list: in-place array compaction per
    * merge (no per-merge immutable copies — the naive Vector-per-merge
    * version allocation-thrashed a 32-thread executor 5× slower than
    * 4 threads), identical left-to-right greedy semantics to
    * [[mergeOnce]]. `ab` strings are precomputed per merge. */
  private[graft] def encodeWord(w: String, as: Array[String], bs: Array[String],
                         abs: Array[String]): Array[String] = {
    val syms = new Array[String](w.length)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var len = w.length
    var m = 0
    while (m < as.length) {
      val (a, b, ab) = (as(m), bs(m), abs(m))
      var r = 0
      var wi = 0
      while (r < len) {
        if (r + 1 < len && syms(r) == a && syms(r + 1) == b) {
          syms(wi) = ab; r += 2
        } else { syms(wi) = syms(r); r += 1 }
        wi += 1
      }
      len = wi
      m += 1
    }
    java.util.Arrays.copyOfRange(syms, 0, len)
  }

  /** A merge table keyed by CONTENT: equal merge lists are one key however
    * many copies exist — each task deserializes its own copy of the UDF
    * closure, so a key by array identity gave every task a memo of its
    * own. Each deserialized copy resolves its [[memo]] once, so the
    * per-row cost is a field read. */
  private[graft] final case class MergeKey(merges: Seq[(String, String)]) {
    @transient lazy val memo: ConcurrentHashMap[String, Array[String]] =
      EncodeCache.forTable(this)
  }

  /** PROCESS-WIDE word → tokens memo, one map per merge table
    * ([[MergeKey]]). Word distributions are Zipfian, so the encode cost of
    * a corpus slice is dominated by its distinct words — with a per-THREAD
    * memo every one of `local[32]`'s task threads paid that vocabulary
    * cost again (measured: the ext_bpe_tokens encode stage burned ~310 ms
    * of executor time PER TASK, near-constant in the rows per task — 10 s
    * of CPU across 32 tasks for 0.34 s of single-thread work). Sharing one
    * ConcurrentHashMap makes each distinct word encode once per executor;
    * `computeIfAbsent` both dedups concurrent encodes of the same hot word
    * and publishes the result safely (the value array is written once and
    * never mutated). At most 8 tables are held: inserting one more
    * evicts the least recently used; a lookup never evicts. */
  private[graft] object EncodeCache {
    private val MaxTables = 8
    private val byTable = new java.util.LinkedHashMap[MergeKey,
        ConcurrentHashMap[String, Array[String]]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[MergeKey,
          ConcurrentHashMap[String, Array[String]]]): Boolean =
        this.size > MaxTables
    }
    def forTable(key: MergeKey): ConcurrentHashMap[String, Array[String]] =
      byTable.synchronized(byTable.computeIfAbsent(key,
        _ => new ConcurrentHashMap[String, Array[String]]()))
  }

  /** Row-local BPE encoding of a text column against a learned merge
    * list: per word, start from characters and replay the merges in
    * training order. Returns `array<string>` of sub-word tokens.
    *
    * Every task of an equal merge list shares one bounded word → tokens
    * memo ([[EncodeCache]]; natural-language word distributions are
    * extremely repetitive — the standard tokenizer token-cache), so
    * steady-state cost is one hash lookup per word. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    val as = merges.map(_._1).toArray
    val bs = merges.map(_._2).toArray
    val abs = merges.map { case (a, b) => a + b }.toArray
    val key = MergeKey(merges)
    val enc = udf { (t: String) =>
      val memo = key.memo
      if (t == null) null
      else t.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        .iterator.filter(_.nonEmpty)
        .flatMap { w =>
          var r = memo.get(w)
          if (r == null) {
            if (memo.size > 65536) memo.clear()
            r = memo.computeIfAbsent(w, encodeWord(_, as, bs, abs))
          }
          r
        }.toSeq
    }
    enc(text)
  }
}
