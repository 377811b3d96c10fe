package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document deduplication family (SURVEY §2.11): exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale posture: every method here is shuffle-bounded by (doc, feature)
  * pairs or LSH buckets — never by all-pairs comparison. The only all-pairs
  * path is `ngramJaccardPairs`, the exact verifier, which callers bound to a
  * candidate set (its oracle query runs it on a small id range).
  */
object DedupOps {

  // --- tokenization -----------------------------------------------------

  def words(text: Column): Column = split(lower(text), "\\s+")

  /** Word n-gram shingles; a doc shorter than n words is its own shingle.
    *
    * NOTE: `w` (an unbound `split`) is re-evaluated wherever it is
    * referenced — Catalyst does not CSE inside lambda bodies. Callers on a
    * hot path must bind the words array behind a projection first and use
    * `shinglesFromWords`; this convenience form is for predicates and
    * small inputs. */
  def shingles(text: Column, n: Int): Column = shinglesFromWords(words(text), n)

  /** Shingles from an already-bound words-array column. */
  def shinglesFromWords(w: Column, n: Int): Column =
    when(size(w) < n, array(concat_ws(" ", w)))
      .otherwise(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))

  /** Per-token 32-bit hashes (bind behind a projection before gram loops).
    * 32-bit so the Horner fold in gramHashes stays under 2^53 — Spark 4
    * runs ANSI mode and a long overflow is an error, not a wrap.
    *
    * `portable = true` derives the hash from md5 instead of xxhash64
    * (first 15 hex digits as int64, then mod 2^32) — computable bit-
    * identically in any engine with md5, which makes the whole
    * minhash/winnowing pipeline DuckDB-oracle-checkable end-to-end.
    * xxhash64 stays the production default: one 64-bit mix per token
    * versus a full md5 + hex materialization. */
  def tokenHashes(w: Column, portable: Boolean = false): Column =
    if (portable)
      transform(w, t =>
        pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"), lit(1L << 32)))
    else
      transform(w, t => pmod(xxhash64(t), lit(1L << 32)))

  /** Portable 60-bit per-token hashes (first 15 hex digits of md5) —
    * computable bit-identically in any engine with md5, like
    * [[tokenHashes]]`(portable = true)` but WITHOUT the 2^32 reduction:
    * SimHash wants as many informative bit positions as possible (60 of
    * the fingerprint's 64; bits 60–63 vote −1 every token and settle to
    * 0 identically in every engine). xxhash64 stays the production
    * default. */
  def tokenHashes60(w: Column): Column =
    transform(w, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  private val GramPrime = 1000003L
  private val GramMod = 1L << 32

  /** 32-bit rolling n-gram hashes from bound token hashes: a Horner-style
    * polynomial combination (Rabin–Karp) reduced mod 2^32 at each step
    * (acc*P + h < 2^52 + 2^32 — no overflow). No gram string is ever
    * built, and `th` is an attribute reference so each element access is
    * O(1). A doc shorter than n tokens hashes as one whole-doc gram. */
  def gramHashes(th: Column, n: Int): Column = {
    def horner(terms: Seq[Column]): Column =
      terms.foldLeft(lit(0L))((acc, h) => pmod(acc * GramPrime + h, lit(GramMod)))
    when(size(th) < n,
      array(aggregate(th, lit(0L),
        (acc, h) => pmod(acc * GramPrime + h, lit(GramMod)))))
      .otherwise(transform(sequence(lit(0), size(th) - n), i =>
        horner((0 until n).map(j => element_at(th, i + lit(j + 1))))))
  }

  // --- exact ------------------------------------------------------------

  /** Exact dedup, keep-first by `order`: one shuffle on the key, no sort of
    * the full data (row_number within key groups only). */
  def exactDedup(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact text-dedup groups keyed by md5 of normalized text (portable to
    * any engine, unlike Spark's murmur3 `hash`). */
  def exactTextGroups(docs: DataFrame): DataFrame =
    OpsUtil.spread(docs)
      .withColumn("h", md5(lower(regexp_replace(col("text"), "\\s+", " "))))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-stratum exact-duplication rates — the report mixture planning
    * consumes BEFORE weighting sources (a source that is 40% duplicates
    * contributes 40% less unique mass than its row count claims; feeding
    * raw counts into [[SampleOps.mixtureWeights]] over-weights it). A doc
    * is a duplicate when its normalized-text md5 was already seen at a
    * lower doc_id — the library-wide keep-first convention, same
    * fingerprint as [[exactTextGroups]].
    *
    * Scale shape: one fingerprint aggregate (map-side combined) + an
    * equi-join back on the 16-byte hash + one stratum aggregate — the
    * exact-dedup plan plus a bounded per-source rollup, portable to the
    * oracle end to end. */
  def dedupRates(docs: DataFrame, stratum: String = "source"): DataFrame = {
    val fp = OpsUtil.spread(docs).select(col("doc_id"), col(stratum),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("h"))
    val first = fp.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    fp.join(first, Seq("h"))
      .groupBy(col(stratum))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .as("n_dups"))
      .withColumn("dup_rate6",
        floor(col("n_dups") / col("n_docs") * 1e6 + 0.5).cast("double") / 1e6)
  }

  // --- MinHash + LSH ----------------------------------------------------

  /** Prime just above 2^32. The modulus MUST be smaller than a*h's range so
    * the map actually wraps: with a huge modulus (e.g. 2^61-1 > a*h+b) the
    * "hash" is monotone in h and every permutation picks the same shingle,
    * which inflates every Jaccard estimate toward 1. */
  private[graft] val MinhashPrime = 4294967311L
  /** Deterministic (a, b) hash-family params — seeded, no wall-clock.
    * a < 2^31 keeps a*h below 2^63 (no signed-long overflow).
    * `private[graft]` so the oracle-SQL generator inlines the same family. */
  private[graft] def hashParams(num: Int): Array[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Array.fill(num)((rng.nextInt(Int.MaxValue - 1).toLong + 1,
      rng.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures, computed row-locally and string-free: tokenize →
    * per-token hashes → rolling 32-bit gram hashes → `num` permuted minima
    * via per-row array ops. No explode, no shuffle, no gram strings — each
    * doc's signature is a pure projection of its own row (embarrassingly
    * parallel; scales with document count, not shuffle rows), and every
    * stage is bound behind a projection so nothing is re-evaluated inside
    * the gram loop. Gram identity is the 32-bit rolling hash (collision
    * ~2^-32 per pair — noise relative to minhash's own variance). */
  def minhashSignatures(docs: DataFrame, num: Int = 64, shingle: Int = 3,
                        portable: Boolean = false): DataFrame = {
    val ps = hashParams(num)
    OpsUtil.spread(docs)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), tokenHashes(col("w"), portable).as("th"))
      .select(col("doc_id"),
        array_distinct(gramHashes(col("th"), shingle)).as("hv")) // < 2^32: a*h stays in 63 bits
      .select(col("doc_id"),
        graft.functions.SketchFunctions.minhash_signature(
          col("hv"), ps.map(_._1), ps.map(_._2), MinhashPrime).as("signature"))
  }

  /** Band-key projection: signature → one (band, bkey) row per band, the
    * key both the self-join and the incremental index join bucket on. */
  private def bandKeys(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("doc_id"), col("signature"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(concat_ws(",",
              slice(col("signature"), b * (size(col("signature")) / bands) + lit(1),
                size(col("signature")) / bands)), b).as("bkey")))).as("bk"))
      .select(col("doc_id"), col("signature"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  /** Estimated Jaccard = fraction of agreeing signature positions. */
  private def estJaccard(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column, num: Int) =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / num

  /** LSH banding: signature → `bands` bucket keys; docs sharing any bucket
    * are candidates. Join is equi on the bucket key — candidate generation
    * is O(collisions), never all-pairs. */
  def minhashLshCandidates(sigs: DataFrame, bands: Int = 16): DataFrame = {
    val buckets = bandKeys(sigs, bands)
    // self-join the SAME plan and rename after: pre-join renamed
    // projections defeat exchange-reuse canonicalization, and the
    // signature stage would be computed twice
    buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.signature").as("sig_a"), col("r.signature").as("sig_b"))
      .dropDuplicates(Seq("doc_a", "doc_b"))
  }

  /** MinHash near-dup pairs: LSH candidates filtered by estimated Jaccard
    * (fraction of agreeing signature positions). */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
                      num: Int = 64, bands: Int = 16, shingle: Int = 3,
                      portable: Boolean = false): DataFrame = {
    val sigs = minhashSignatures(docs, num, shingle, portable)
    minhashLshCandidates(sigs, bands)
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), num))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /** The staged state incremental dedup joins against: the corpus's
    * (doc_id, band, bkey, signature) rows. At 100 TB the corpus is signed
    * ONCE — the landing job appends each accepted batch's band keys here —
    * and arriving batches never touch corpus text again. */
  def minhashBandIndex(docs: DataFrame, num: Int = 64, bands: Int = 16,
                       shingle: Int = 3, portable: Boolean = false): DataFrame =
    bandKeys(minhashSignatures(docs, num, shingle, portable), bands)

  /** Incremental near-dup check — the production dedup shape: sign ONLY
    * the new batch, equi-join its band keys against the staged corpus
    * [[minhashBandIndex]], verify candidates by estimated Jaccard. Batch
    * cost is O(|batch| + collisions) independent of corpus size; the
    * whole-corpus [[minhashNearDups]] is the backfill/audit path. Output
    * is oriented (doc_new, doc_corpus) — no a<b dance, the sides are
    * disjoint by construction when the batch is not yet in the index. */
  def minhashNearDupsIncremental(newDocs: DataFrame, index: DataFrame,
                                 threshold: Double = 0.5, num: Int = 64,
                                 bands: Int = 16, shingle: Int = 3,
                                 portable: Boolean = false): DataFrame = {
    val newBanded =
      bandKeys(minhashSignatures(newDocs, num, shingle, portable), bands)
    newBanded.as("l").join(index.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") =!= col("r.doc_id"))
      .select(col("l.doc_id").as("doc_new"), col("r.doc_id").as("doc_corpus"),
        col("l.signature").as("sig_a"), col("r.signature").as("sig_b"))
      .dropDuplicates(Seq("doc_new", "doc_corpus"))
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), num))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_new"), col("doc_corpus"), col("est_jaccard"))
  }

  // --- SimHash ----------------------------------------------------------

  /** 64-bit SimHash fingerprint: per token a 64-bit hash votes ±1 on each
    * bit position; the sign of each summed position forms the fingerprint.
    * Row-local via the native SimHash64 kernel — no explode, no
    * aggregation state, one pass per document (duplicate tokens vote once
    * per occurrence, like the classic weighted formulation). */
  def simhash(docs: DataFrame, portable: Boolean = false): DataFrame =
    OpsUtil.spread(docs)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        (if (portable) tokenHashes60(col("w"))
         else transform(col("w"), t => xxhash64(t))).as("th"))
      .select(col("doc_id"),
        graft.functions.SketchFunctions.simhash64(col("th")).as("fingerprint"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, bucketed by
    * 16-bit fingerprint bands (pigeonhole: distance ≤ 3 ⇒ some band of 4 is
    * identical), verified with bit_count(xor). */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
                      portable: Boolean = false): DataFrame = {
    val fps = simhash(docs, portable)
    val banded = fps.select(col("doc_id"), col("fingerprint"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"(fingerprint >> ${b * 16}) & 65535").as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("fingerprint"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.fingerprint").as("fp_a"), col("r.fingerprint").as("fp_b"))
      .dropDuplicates(Seq("doc_a", "doc_b"))
      .withColumn("hamming", bit_count(expr("fp_a ^ fp_b")))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  // --- exact n-gram Jaccard (the verifier; oracle-expressible) ----------

  /** Exact Jaccard ≥ threshold over distinct word n-grams, PPJoin-style.
    *
    * CACHE CONTRACT: the per-doc shingle table is persisted (and eagerly
    * materialized — several concurrent downstream stages would otherwise
    * race to populate it, recomputing the shingle pass per stage) and the
    * returned lazy plan references it, so it cannot be unpersisted here.
    * Callers owning the session lifecycle should clear it when done
    * (`spark.sharedState.cacheManager.clearCache()` — Bench and Verify do
    * this between queries).
    *
    * A naive shingle self-join generates a candidate pair for EVERY shared
    * shingle — over a small vocabulary that approaches all-pairs and is the
    * operator that melts first at scale. Prefix filtering fixes it exactly:
    * order each doc's shingles by global rarity; two sets with
    * J(A,B) ≥ t must share a shingle within the first
    * |x| − ⌈t·|x|⌉ + 1 shingles of each (sorted by the same global order),
    * so only those *prefix* shingles — the rarest, least-colliding ones —
    * act as join keys. A length filter (t·|A| ≤ |B| ≤ |A|/t) prunes
    * further, then candidates are verified with the full intersection
    * count. Same output as the naive join, orders of magnitude fewer
    * intermediate pairs. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.3): DataFrame = {
    // Shingle identity is xxhash64 of the gram string, not the string:
    // every downstream shuffle and join key is 8 bytes instead of a
    // ~20-char string, and the per-doc shingle SET becomes a compact
    // array<long>. (64-bit collision odds across even 10^8 distinct
    // shingles are ~1e-3 per corpus — far below the driver gate's noise
    // floor; within-doc collisions that could bias a count are ~2^-64.)
    // The per-doc array feeds three branches — persist the 1-row-per-doc
    // form (kBs per doc), never the exploded relation.
    val base = OpsUtil.spread(docs)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), array_distinct(
        transform(shinglesFromWords(col("w"), n), s => xxhash64(s))).as("hs"))
      .withColumn("n_sh", size(col("hs")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // eager: several concurrent downstream stages (freq shuffle,
                 // broadcast builds) would otherwise race to populate the
                 // cache, each recomputing the shingle pass
    val sh = base.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("shh"))
    val freq = sh.groupBy("shh").agg(count(lit(1)).as("df"))
    // prefix filter: J(A,B) >= t forces a shared shingle within the first
    // |x| - ceil(t*|x|) + 1 shingles under ANY global order; ordering by
    // ascending document frequency makes those prefix shingles the rarest,
    // so the candidate join fans out least
    val prefix = sh.join(freq, Seq("shh"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shh"))))
      .filter(col("pos") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id"))
      .filter(col("b.n_sh") >= col("a.n_sh") * threshold &&
        col("a.n_sh") >= col("b.n_sh") * threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .dropDuplicates(Seq("doc_a", "doc_b"))
    // verify row-locally: attach each side's shingle-hash array (the doc
    // table is pairs-side-small → broadcast-able; at corpus scale it
    // degrades to two equi-joins, never to the pair × shingle explosion a
    // (cands ⋈ sh ⋈ sh) intersection count would materialize)
    cands
      .join(base.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
  }

  // --- pairs → groups ---------------------------------------------------

  /** Connected components over an undirected near-dup pair list (min-label
    * propagation): every node ends labeled with the smallest doc_id
    * reachable from it, turning pairwise candidates into dedup GROUPS —
    * keep the representative (label == doc_id), drop the rest. Only nodes
    * appearing in `pairs` are returned; callers left-join and coalesce to
    * give singletons their own id.
    *
    * Scale shape: each round is one equi-join (labels ⋈ edges) + one
    * min-aggregate, both shuffled on node id; the round count is the
    * component diameter, and near-dup clusters are small and dense
    * (diameter 2–4), so the loop is a handful of bounded shuffles, not an
    * unbounded traversal. Every round materializes behind a persist so
    * lineage stays flat. (For general billion-edge graphs the
    * large-star/small-star formulation replaces this loop; the join/agg
    * round structure is identical.)
    *
    * Throws if labels are still changing after `maxIter` rounds (a
    * component's diameter exceeded the budget — e.g. a pathological
    * chain-shaped input): silently returning partially-propagated labels
    * would make a caller dedup against WRONG groups. Raise `maxIter` for
    * long-chain graphs.
    *
    * The returned labels DataFrame is persisted (MEMORY_AND_DISK) — it is
    * the loop's final fixpoint state and most callers iterate it more than
    * once; callers must `unpersist()` it (or clear the session cache) when
    * done. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both directions via explode, not self-union: a union would evaluate
    // the (expensive) pair-generation plan once per branch
    val edges = pairs.select(explode(array(
        struct(col("doc_a").cast("long").as("src"),
          col("doc_b").cast("long").as("dst")),
        struct(col("doc_b").cast("long").as("src"),
          col("doc_a").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id"), col("label"))
      val next = labels.unionByName(prop)
        .groupBy("doc_id").agg(min(col("label")).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val changed = next
        .join(labels.withColumnRenamed("label", "old"), Seq("doc_id"))
        .filter(col("label") =!= col("old")).count()
      labels.unpersist(blocking = false)
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    if (!converged) {
      labels.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds: a " +
          "component's diameter exceeds the iteration budget; labels would " +
          "be partially propagated (wrong groups). Raise maxIter.")
    }
    labels
  }

  /** [[connectedComponents]] with the cache handle RESOLVED instead of
    * handed to the caller: the label fixpoint is materialized to a
    * lineage-truncated local checkpoint (one pass over the already-cached
    * frame) and the loop's persist is released before returning. The
    * checkpoint blocks are ContextCleaner-managed — freed when the frame
    * is garbage-collected — so embedding the result in a long-lived lazy
    * DataFrame pins nothing in the session cache. Labels are
    * |docs-in-pairs| rows (bounded metadata next to the corpus); on
    * executor loss the non-replayable checkpoint fails the job loudly and
    * a re-run rebuilds it — the right trade for a frame this small. */
  def materializedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val cc = connectedComponents(pairs, maxIter)
    val out = cc.localCheckpoint(eager = true)
    cc.unpersist(blocking = false)
    out
  }

  // --- corpus-level span dedup (C4-style) -------------------------------

  /** Global exact span dedup with document reassembly — the C4 recipe
    * (Raffel et al. 2020 dedup "three-sentence spans" globally, keeping one
    * occurrence) re-expressed over fixed-width token segments: cut every
    * document into disjoint `width`-token segments, keep only the globally
    * FIRST occurrence of each distinct segment (ordered by (doc_id,
    * seg_no)), and rebuild each document from its surviving segments in
    * original order.
    *
    * Scale shape: one shuffle, keyed by the segment text (Spark hash-
    * partitions the string key; exactness is preserved because row_number
    * partitions on the full segment, not a lossy hash). Per-doc segment
    * arrays never exceed the doc's own length, so the rebuild
    * `collect_list` is bounded by document size — the same bound any
    * reassembly must hold. Docs whose every segment is a repeat survive
    * with `n_kept = 0` and empty text (the downstream filter decides their
    * fate; silently dropping rows would corrupt corpus bookkeeping). */
  def segmentDedup(docs: DataFrame, width: Int = 5): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    val segs = OpsUtil.spread(docs)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / lit(width)).cast("int")),
          i => array_join(slice(col("toks"), i * width + 1, lit(width)), " "))))
      .select(col("doc_id"), col("pos").as("seg_no"), col("col").as("seg"))
    val kept = segs
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_no"))))
      .filter(col("__rn") === 1)
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("seg_no"), col("seg")))),
        x => x.getField("seg")), " ").as("text_dedup"))
    docs
      .select(col("doc_id"),
        (floor((size(split(col("text"), "\\s+")) - 1) / lit(width)) + 1)
          .cast("long").as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** One row per sliding k-token gram position: (doc_id, pos, g) with `g`
    * the lowercase space-joined gram text. Shared by the duplicated-span
    * family. */
  private def gramPositions(docs: DataFrame, k: Int): DataFrame =
    OpsUtil.spread(docs)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), (size(col("toks")) - k).cast("int")),
        i => array_join(slice(col("toks"), i + 1, lit(k)), " "))))
      .select(col("doc_id"), col("pos"), col("col").as("g"))

  /** One tokenize + gram-HASH pass over the corpus in the 1-row-per-doc
    * form `(doc_id, toks, ghs)` — `ghs(i)` is `xxhash64(<k-token gram
    * string at position i>)`, bit-identical to hashing [[gramPositions]]'
    * `g` column. The duplicated-span operators consume the gram relation
    * two or three times (first-occurrence aggregate, position probe, token
    * rebuild); run per consumer, the row-local split + per-position
    * array_join + hash cost three ~32-task stages of 1.4–2.1 s executor
    * time each on ext_dedup_excise at sf0.1. The pass ends in an exchange
    * on `doc_id` instead of a persist: every consumer's plan holds the
    * same exchange, which Spark runs once per query and reuses
    * (`ReusedExchange`), and the token rebuild's doc_id join reads it
    * without another shuffle. Nothing is cached, so nothing outlives the
    * query — a persist here was owned by no one, and a stream calling the
    * excise ops every micro-batch accumulated one per batch. The per-doc
    * ARRAY form keeps the shuffled bytes O(corpus tokens), never the
    * exploded relation. */
  private def gramHashBase(docs: DataFrame, k: Int): DataFrame =
    OpsUtil.spread(docs)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("ghs", when(size(col("toks")) >= k,
        transform(sequence(lit(0), (size(col("toks")) - k).cast("int")),
          i => xxhash64(array_join(slice(col("toks"), i + 1, lit(k)), " "))))
        .otherwise(array().cast("array<long>")))
      .repartition(col("doc_id"))

  /** The exploded `(gh, doc_id, pos)` view of [[gramHashBase]] — a cheap
    * projection of the per-doc arrays (docs shorter than k
    * grams have an empty array and vanish, same as gramPositions'
    * length filter). */
  private def gramHashPositions(base: DataFrame): DataFrame =
    base.select(col("doc_id"), posexplode(col("ghs")).as(Seq("pos", "gh")))
      .select(col("gh"), col("doc_id"), col("pos"))

  /** Merge consecutive duplicated positions into maximal spans
    * (gaps-and-islands): positions are unique per doc, so pos − row_number
    * is constant exactly within a consecutive run. One doc_id-keyed
    * window+agg shuffle; per-doc state bounded by document length. */
  private def mergeIslands(dupPos: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_dup_grams"))
  }

  /** Corpus-level duplicated-SPAN detection — the sliding-window
    * formulation of exact substring dedup (Lee et al. 2022 remove every
    * repeated ≥50-token span; their suffix-array machinery re-expressed as
    * relational ops): a position is "duplicated" when its k-token sliding
    * gram occurs more than once ANYWHERE in the corpus (other docs or the
    * same doc — internal repetition counts), and maximal runs of
    * consecutive duplicated positions merge into one reported span
    * (gaps-and-islands over the position sequence). Unlike [[segmentDedup]]
    * (disjoint fixed segments, so a duplicate straddling a boundary is
    * missed), the sliding window catches repeats at ANY alignment.
    *
    * Output: (doc_id, span_start, span_end, n_dup_grams) — token indices,
    * inclusive; span_end − span_start + 1 is the span's token length. The
    * caller excises or weighs spans; reporting (not silent row mutation)
    * keeps corpus bookkeeping intact, same contract as [[segmentDedup]].
    *
    * Scale shape (the skew-safe default): grams are keyed by their 64-bit
    * xxhash64 — an 8-byte shuffle key instead of 50–100 bytes of gram text
    * (~2^-64 false-duplicate noise, negligible against tokenizer noise) —
    * and the occurrence count is a `groupBy(hash).count` whose map-side
    * partial aggregation collapses a boilerplate gram (cookie banner,
    * license header — exactly what this operator exists to find) to ONE
    * row per map task before the shuffle, so a million-fold-repeated gram
    * costs ~#tasks shuffle rows, not a million. The duplicated-gram set
    * then re-joins the positions by hash — an equi-join AQE can skew-split,
    * unlike a window partition. Total: the gram-hash agg+join shuffles plus
    * the doc_id island window; nothing is ever all-pairs.
    * [[duplicatedSpansExact]] keeps the text-keyed window formulation as
    * the collision-free audit sibling. */
  def duplicatedSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // both consumers (occurrence count, position probe) read the one
    // gram-hash pass instead of re-tokenizing the corpus
    val grams = gramHashPositions(gramHashBase(docs, k))
      .select(col("doc_id"), col("pos"), col("gh"))
    // __ghx (a derived function of gh) is load-bearing, not noise: grouping
    // by (gh, __ghx) leaves the aggregate's output partitioned by a key the
    // join cannot reuse, so EnsureRequirements inserts a fresh exchange of
    // the (small, post-filter) duplicated-gram set adjacent to the join.
    // AQE's OptimizeSkewedJoin only rewrites a sort-merge join whose inputs
    // are BOTH bare ENSURE_REQUIREMENTS shuffle stages — with the aggregate
    // left inline, the hot gram's position partition can never be split
    // (verified by the SkewOpsSpec stress case). Counts are unchanged:
    // __ghx is functionally dependent on gh, so the groups are per-gh.
    val dupGrams = grams
      .select(col("gh"), xxhash64(col("gh")).as("__ghx"))
      .groupBy(col("gh"), col("__ghx")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("gh"))
    val dupPos = grams.join(dupGrams, Seq("gh"))
      .select(col("doc_id"), col("pos"))
    mergeIslands(dupPos, k)
  }

  /** Text-keyed audit sibling of [[duplicatedSpans]]: counts occurrences
    * over the full gram string (zero collision risk, wider shuffle and a
    * skew-exposed window partition on a hot gram) — use for bounded audit
    * slices and as the oracle for the hashed path. */
  def duplicatedSpansExact(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val dupPos = gramPositions(docs, k)
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("n_occ") > 1)
      .select(col("doc_id"), col("pos"))
    mergeIslands(dupPos, k)
  }

  /** Redundant-position set for excision: among a duplicated gram's
    * occurrences, every position except the global (doc_id, pos)-minimum
    * is redundant (the first occurrence survives — Lee et al. keep one
    * copy). Computed as one `groupBy(hash)` aggregate — `min(struct(doc_id,
    * pos))` IS the first occurrence under struct ordering, and partial
    * aggregation folds a hot gram's million occurrences to one candidate
    * per map task — followed by an AQE-skew-splittable equi-join back to
    * the positions. No per-gram global sort, no window over a skewed key. */
  private def redundantPositions(grams: DataFrame): DataFrame = {
    // __ghx for the same reason as in [[duplicatedSpans]]: it forces a
    // fresh ENSURE_REQUIREMENTS exchange under the join, the only shape
    // AQE's skew-join rule will split on the hot position side
    val firstOcc = grams
      .select(col("gh"), xxhash64(col("gh")).as("__ghx"),
        col("doc_id"), col("pos"))
      .groupBy(col("gh"), col("__ghx"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("gh"), col("first"))
    grams.join(firstOcc, Seq("gh"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"), col("pos"))
  }

  /** The excision half of exact substring dedup: every duplicated k-gram
    * position whose gram occurred EARLIER in global (doc_id, pos) order is
    * redundant (the first occurrence survives — Lee et al. keep one copy);
    * redundant positions merge into islands exactly as in
    * [[duplicatedSpans]], and each document is rebuilt without the tokens
    * those islands cover.
    *
    * Output: (doc_id, n_tokens, n_removed, text_clean). Every input doc
    * appears — a fully-excised doc survives with empty text (downstream
    * decides its fate; same bookkeeping contract as [[segmentDedup]]).
    *
    * Scale shape: grams keyed by xxhash64 (8-byte shuffle key); first
    * occurrence per gram from a min-aggregate (map-side combined — a hot
    * boilerplate gram never concentrates on one reducer the way the old
    * per-gram row_number sort did) + equi-join (AQE skew handling applies);
    * the per-doc island window is the only other shuffle. Interval lists
    * are collected per document (bounded by the doc's own token count —
    * the same bound any reassembly holds) and the token-drop runs as a
    * row-local higher-order-function filter, so the rebuild never
    * shuffles. [[exciseDuplicatedSpansExact]] is the text-keyed audit
    * sibling. */
  def exciseDuplicatedSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // all three consumers (first-occurrence aggregate, position probe,
    // token rebuild) share the one tokenize + gram-hash pass
    val base = gramHashBase(docs, k)
    rebuildWithoutSpans(base.select(col("doc_id"), col("toks")),
      redundantPositions(gramHashPositions(base)), k)
  }

  /** Distinct 64-bit gram hashes of a corpus slice — the staged INDEX for
    * [[exciseAgainstIndex]], the exact analog of the MinHash band index:
    * rows `(doc_id, gh)`, one per distinct k-gram per owning document.
    * Grows by appending the admitted batch's grams; a probe is an 8-byte
    * equi-join, never a corpus-text re-read. Carrying the owner id makes a
    * micro-batch REPLAY idempotent the same way the band index's
    * `l.doc_id =!= r.doc_id` probe does: a batch whose grams already
    * landed in the index (crash after the index append, before the
    * checkpoint commit) self-excludes and re-derives the same excision. */
  def spanGramIndex(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    gramPositions(docs, k)
      .select(col("doc_id"), xxhash64(col("g")).as("gh")).distinct()
  }

  /** INCREMENTAL exact-substring dedup: [[exciseDuplicatedSpans]] where
    * the corpus-so-far participates through a staged [[spanGramIndex]]
    * instead of being re-scanned — the Lee et al. stage made cumulative,
    * the way the staged band index makes MinHash dedup incremental. A
    * batch position is redundant when its gram hash exists in the index
    * (the admitted corpus saw that substring first — the corpus copy
    * always survives) OR a smaller (doc_id, pos) occurrence exists within
    * the batch itself. With corpus doc ids below batch doc ids this is
    * EXACTLY the batch slice of running [[exciseDuplicatedSpans]] over
    * corpus ∪ batch (property-pinned in ExtOpsSpec) — at a fraction of
    * the cost: per-batch work is O(batch grams + index hits); the index
    * probe and the within-batch first-occurrence aggregate are both
    * 8-byte-keyed joins AQE can skew-split.
    *
    * When the index carries a `doc_id` column (the [[spanGramIndex]]
    * shape), hits from the SAME document are excluded — the band-index
    * replay defense: a replayed micro-batch whose own grams already
    * reached the index re-derives exactly its first-attempt excision
    * instead of excising itself to nothing. A bare `gh`-only index (older
    * staged artifacts) still probes, without the replay defense. The
    * owner comparison is NULL-SAFE: a mixed index directory (legacy
    * gh-only files merged with (doc_id, gh) files resolves legacy rows to
    * doc_id = null), and a null-unsafe `=!=` would evaluate to null there,
    * silently dropping every pre-upgrade gram from matching. With `<=>`
    * an unknown owner counts as a foreign-document hit — the conservative
    * reading: the corpus saw that substring first. */
  def exciseAgainstIndex(batch: DataFrame, index: DataFrame,
                         k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // shared tokenize + gram-hash pass, as in
    // [[exciseDuplicatedSpans]] (consumers: index probe, within-batch
    // first-occurrence aggregate + position probe, token rebuild)
    val base = gramHashBase(batch, k)
    val toks = base.select(col("doc_id"), col("toks"))
    val grams = gramHashPositions(base)
    val vsIndex =
      if (index.columns.contains("doc_id")) {
        val idx = index.select(col("gh").as("__igh"),
          col("doc_id").as("__isrc")).distinct()
        grams.join(idx, col("gh") === col("__igh") &&
            !(col("doc_id") <=> col("__isrc")))
          .select(col("doc_id"), col("pos"))
      } else
        grams.join(index.select(col("gh")).distinct(), Seq("gh"))
          .select(col("doc_id"), col("pos"))
    val redundant = redundantPositions(grams)
      .unionByName(vsIndex).distinct()
    rebuildWithoutSpans(toks, redundant, k)
  }

  /** Text-keyed audit sibling of [[exciseDuplicatedSpans]] — the original
    * per-gram row_number formulation (collision-free, but the sort key is
    * raw gram text and a hot gram lands on one reducer); kept for bounded
    * audit slices and as the hashed path's oracle. */
  def exciseDuplicatedSpansExact(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = OpsUtil.spread(docs)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
    val redundant = gramPositions(docs, k)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("__rn") > 1)
      .select(col("doc_id"), col("pos"))
    rebuildWithoutSpans(toks, redundant, k)
  }

  /** Merge redundant positions into islands and rebuild each document
    * without the covered tokens (row-local higher-order filter — the
    * rebuild never shuffles). */
  private def rebuildWithoutSpans(toks: DataFrame, redundant: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = redundant
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k - 1)).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("iv"))
    toks.join(islands, Seq("doc_id"), "left")
      .withColumn("iv", coalesce(col("iv"),
        array().cast("array<struct<s:int,e:int>>")))
      .withColumn("kept", filter(
        transform(col("toks"), (t, i) => when(
          !exists(col("iv"), v =>
            i >= v.getField("s") && i <= v.getField("e")), t)),
        t => t.isNotNull))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text_clean"))
  }

  // --- benchmark decontamination ----------------------------------------

  /** Distinct lowercase word n-grams per document, exploded to one row per
    * (doc_id, gram). Shared by the decontamination paths. */
  private def distinctGrams(docs: DataFrame, n: Int): DataFrame =
    OpsUtil.spread(docs)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        explode(array_distinct(shinglesFromWords(col("w"), n))).as("g"))

  /** Benchmark decontamination — flag training documents that share any
    * word `n`-gram with a held-out benchmark/eval set (the standard
    * test-set-overlap scrub run before pre-training). Output: every corpus
    * doc with its count of distinct overlapping grams and a `contaminated`
    * verdict; the caller filters or quarantines.
    *
    * Scale shape: eval suites are tiny next to a 100 TB corpus, so the
    * benchmark gram set broadcasts and the probe is a map-side semi-join —
    * the corpus is scanned once, shuffled only by doc_id for the per-doc
    * hit count (and that aggregation is map-side-combined). If the
    * benchmark ever outgrows broadcast, drop the hint and the same plan
    * degrades to a shuffled equi-join, never all-pairs. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 5): DataFrame = {
    val bench = distinctGrams(benchmark, n).select(col("g")).distinct()
    val hits = distinctGrams(corpus, n)
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_gram_hits"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"))
      .withColumn("contaminated", col("n_gram_hits") > 0)
  }

  /** Bloom-filter decontamination — the constant-memory scale sibling of
    * [[decontaminate]]: compress the benchmark gram set into a Bloom
    * filter (bits ∝ expectedGrams, independent of corpus size) and probe
    * each corpus gram row-locally. One-sided error by construction: a
    * present gram ALWAYS hits (no false negatives — contaminated docs are
    * never missed), an absent gram false-positives with probability ≤
    * `fpp`, so the flagged set is a superset of the exact one; run
    * [[decontaminate]] on the (tiny) flagged slice when exact counts
    * matter. The filter itself is deterministic (fixed murmur3 seeds in
    * Spark's sketch), so results are stable across runs.
    *
    * `expectedGrams` is index-build metadata (the benchmark's distinct
    * gram count) — pass the known value to keep the build single-job.
    * The probe is a Scala UDF: Spark's `BloomFilterMightContain` is
    * internal (runtime-filter injection only), and the probe sits outside
    * the pre-aggregation hot loop, after the per-row distinct-gram
    * explode. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
                         expectedGrams: Long = 1L << 16,
                         fpp: Double = 0.001): DataFrame = {
    val bf = distinctGrams(benchmark, n).select(col("g")).distinct()
      .stat.bloomFilter("g", expectedGrams, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain =
      udf((g: String) => g != null && bc.value.mightContainString(g))
    val hits = distinctGrams(corpus, n)
      .filter(mightContain(col("g")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_gram_hits"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"))
      .withColumn("contaminated", col("n_gram_hits") > 0)
  }

  // --- ingestion-time dedup (the landing-job shape) ---------------------

  /** Admit one arriving batch into a continuously-deduplicated corpus —
    * the landing-job core that [[graft.stream.Pipelines.dedupIngest]] runs
    * per micro-batch, callable directly for batch backfills.
    *
    * Steps, all O(|batch| + collisions), independent of corpus size:
    *   1. sign the batch ONCE ([[minhashBandIndex]] rows: doc_id,
    *      signature, band, bkey), persisted — probe and index append reuse
    *      it;
    *   2. reject docs near-dup (est. Jaccard ≥ threshold) of any doc
    *      already in the corpus index (equi-join on band keys);
    *   3. reject docs near-dup of a SMALLER-id batch sibling (the batch's
    *      own self-join). Transitive chains resolve conservatively: a doc
    *      is rejected if ANY smaller-id near-dup exists in the batch, even
    *      one that was itself rejected — dedup may over-drop chain tails,
    *      never under-drop;
    *   4. append accepted docs to `corpusPath` and their band keys to
    *      `indexPath` — the index grows by the accepted slice only, so the
    *      next batch probes an up-to-date corpus without ever re-reading
    *      corpus text.
    *
    * A missing index directory means "empty corpus" (first batch
    * bootstraps it). With `txn = Some((appId, batchId))` — the streaming
    * path — the index is a [[TxTable]] and its append commits exactly
    * once per batch id ([[TxTable.appendIndexOnce]]): atomic manifests,
    * bounded file counts via auto-compaction, and a torn batch (index
    * committed, checkpoint lost) replays to a no-op index commit while
    * the probe's `doc_id` exclusion re-derives the same accepted set.
    * Without txn (direct batch backfills, legacy staged dirs) both
    * appends stay plain parquet — NOT crash-atomic; the probe-exclusion
    * contract alone covers replays.
    *
    * Returns the ACCEPTED slice (already written), persisted so callers
    * maintaining derived indexes — the landing job appends the accepted
    * docs' span grams — read it without recomputing the probe joins
    * (recomputing would re-list the just-appended index files and
    * self-reject). Callers should `unpersist` it when done; an ignored
    * return is eventually reclaimed by the context cleaner. */
  def ingestBatch(batch: DataFrame, corpusPath: String, indexPath: String,
                  threshold: Double = 0.5, num: Int = 64, bands: Int = 16,
                  shingle: Int = 3, portable: Boolean = false,
                  txn: Option[(String, Long)] = None,
                  indexBuckets: Int = 8): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val s = batch.sparkSession
    val banded = minhashBandIndex(batch, num, bands, shingle, portable)
      .persist(StorageLevel.MEMORY_AND_DISK)
    banded.count() // eager: probe, self-join, and index append all read it
    try {
      // Hadoop FS probe, not java.io: the index lives wherever the corpus
      // does (HDFS / object store), only incidentally on local disk here
      val idxPath = new org.apache.hadoop.fs.Path(indexPath)
      val idxExists = idxPath
        .getFileSystem(s.sparkContext.hadoopConfiguration).exists(idxPath)
      val vsCorpus =
        if (idxExists)
          banded.as("l").join(TxTable.readAny(s, indexPath).as("r"),
              col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
                col("l.doc_id") =!= col("r.doc_id"))
            .select(col("l.doc_id").as("doc_id"),
              col("l.signature").as("sig_a"), col("r.signature").as("sig_b"))
            .filter(estJaccard(col("sig_a"), col("sig_b"), num) >= threshold)
            .select(col("doc_id"))
        else batch.sparkSession.emptyDataFrame
          .withColumn("doc_id", lit(0L)).limit(0)
      val withinBatch = banded.as("l").join(banded.as("r"),
          col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
            col("l.doc_id") > col("r.doc_id"))
        .select(col("l.doc_id").as("doc_id"),
          col("l.signature").as("sig_a"), col("r.signature").as("sig_b"))
        .filter(estJaccard(col("sig_a"), col("sig_b"), num) >= threshold)
        .select(col("doc_id"))
      val rejected = vsCorpus.unionByName(withinBatch).distinct()
      val accepted = batch.join(rejected, Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      accepted.count() // pin BEFORE the appends mutate the probed index
      accepted.write.mode("append").parquet(corpusPath)
      val idxRows = banded
        .join(accepted.select(col("doc_id")), Seq("doc_id"), "left_semi")
      txn match {
        case Some((appId, batchId)) =>
          TxTable.appendIndexOnce(s, indexPath, idxRows, "doc_id",
            indexBuckets, appId, batchId)
        case None =>
          // an ad-hoc backfill against a TxTable index must still commit
          // through the log — a bare parquet append here would land files
          // the manifest never lists (silently invisible to every probe)
          if (TxTable.isTxTable(s, indexPath))
            TxTable.appendIndexOnce(s, indexPath, idxRows, "doc_id",
              indexBuckets, s"adhoc-${java.util.UUID.randomUUID()}", 0L,
              autoCompactEvery = 0)
          else idxRows.write.mode("append").parquet(indexPath)
      }
      accepted
    } finally { banded.unpersist(blocking = false); () }
  }

  /** INDEX VACUUM — side-index GC under corpus deletes/retention. The
    * landing job's staged indexes (MinHash band keys here, span grams,
    * SRP embed bands, BM25 postings — anything [[TxTable.appendIndexOnce]]
    * maintains keyed by a doc/vec id) accumulate entries for documents a
    * later retention verb removed from the corpus (`drop_partition`, a
    * MOR DELETE, `replaceWhere`). Ghost entries are not just waste: an
    * admission probe can DEDUP-REJECT a fresh document against a ghost
    * (the corpus no longer holds the original, so the rejection loses
    * the content entirely), and recall monitoring counts dead rows.
    *
    * This drops every index row whose `idCol` is absent from `liveIds`
    * (the surviving corpus keys, however retention produced them) as ONE
    * bounded maintenance commit: an anti-join selects the ghosts, the
    * delete lands merge-on-read ([[TxTable.deleteRelMor]] — deletion
    * vectors, no file rewrite), and re-adds are bounded by the files
    * actually holding ghosts. I/O = one column-pruned index scan + the
    * join against the live keys; `purgeDeletes`/`compact` fold the
    * vectors away on their own schedule. Idempotent: a second call finds
    * no ghosts and commits nothing. */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
                  indexPath: String, liveIds: DataFrame,
                  idCol: String = "doc_id"): Long = {
    require(TxTable.isTxTable(spark, indexPath),
      s"$indexPath is not a TxTable index — plain-parquet indexes have " +
        "no transactional delete; rewrite them from the live corpus")
    val live = liveIds.select(col(idCol)).distinct()
    TxTable.deleteRelMor(spark, indexPath,
      _.join(live, Seq(idCol), "left_anti"))
  }

  /** Leak-free train/holdout split: the unit of assignment is the
    * near-dup COMPONENT, not the document — two near-duplicates on
    * opposite sides of a holdout leak evaluation text into training (the
    * classic split-before-dedup mistake, which no amount of later
    * deduplication repairs because the split already memorized the
    * assignment). Every member of a cluster rides its component id
    * through the same deterministic md5 bucket
    * ([[SampleOps.hashBucket]]), so clusters land WHOLE on one side;
    * singletons ride their own doc_id, giving the identical marginal
    * distribution to the doc-keyed [[SampleOps.trainHoldoutSplit]].
    *
    * Scale shape: CC labels are |docs-in-pairs| rows (tiny next to the
    * corpus), one left equi-join, then a row-local bucket — the same
    * cost as the canonical-election labeling. Deterministic end to end
    * (md5 bucket over the oracle-replayable component ids). The CC
    * labels are materialized ([[materializedComponents]]) before being
    * embedded in the returned lazy frame, so this call leaves NOTHING
    * pinned in the session cache — callers need no unpersist. */
  def componentSplit(docs: DataFrame, pairs: DataFrame, holdoutPct: Int,
                     salt: String = "split"): DataFrame = {
    require(holdoutPct >= 0 && holdoutPct <= 100,
      s"holdoutPct must be in [0,100], got $holdoutPct")
    val comp = materializedComponents(pairs)
    docs.join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("label"), col("doc_id")))
      .drop("label")
      .withColumn("split",
        when(SampleOps.hashBucket(col("component"), salt) < holdoutPct,
          "holdout").otherwise("train"))
  }

  // --- canonical representative per near-dup cluster --------------------

  /** Resolve near-dup clusters to keep/drop decisions — the step that turns
    * pair lists into an actual deduplicated corpus. Labels every doc with
    * its connected component (via [[connectedComponents]] over `pairs`;
    * singletons label themselves) and elects one canonical representative
    * per component: the LONGEST member (`n_chars` desc, doc_id tiebreak) —
    * near-dup clusters usually contain truncated/boilerplate variants of
    * one best document, so keep-longest beats keep-first for training data.
    *
    * Scale shape: the CC labels table is |docs-in-pairs| rows (tiny next to
    * the corpus), the label join is an equi-join, and both window columns
    * (rank, member count) share one partitioning on `component` — one
    * shuffle past the join. CC labels are materialized
    * ([[materializedComponents]]) — nothing stays pinned in the cache. */
  def canonicalDocs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = materializedComponents(pairs)
    val w = Window.partitionBy(col("component"))
    docs.select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("label"), col("doc_id")))
      .withColumn("__rank", row_number().over(
        w.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(w))
      .select(col("doc_id"), col("component"), col("n_members"),
        (col("__rank") === 1).as("is_canonical"))
  }

  // --- embedding LSH (banded random-hyperplane) -------------------------

  /** Banded sign-random-projection LSH near-dup pairs.
    *
    * `nPlanes` pseudo-random hyperplanes produce one sign bit each (native
    * one-pass SignRandomProjection kernel — no per-plane traversals), split
    * into `bands` bucket keys of nPlanes/bands bits; vectors sharing ANY
    * band's key are candidates (OR across bands), then verified with exact
    * cosine. Candidate generation is an equi-join on (band, key) — never
    * all-pairs.
    *
    * Scale posture: bucket count is bands × 2^(nPlanes/bands) *per band
    * partition* and, unlike a single folded key, expected bucket occupancy
    * stays ~|corpus| / 2^bits per band — at 64 planes / 8 bands that's
    * corpus/256 per band with 8 independent chances to collide, so recall
    * for sim s is 1 − (1 − p^bits)^bands with p = 1 − acos(s)/π (tunable
    * via bands), while the within-bucket self-join stays bounded. Skewed
    * buckets (dense regions) are AQE skew-split like any other equi-join. */
  def embeddingLshPairs(vectors: DataFrame, threshold: Double = 0.9,
                        nPlanes: Int = 64, bands: Int = 8,
                        seed: Long = 42L,
                        maxBucket: Int = 4096,
                        nVectors: Option[Long] = None): DataFrame = {
    require(nPlanes % bands == 0, s"bands ($bands) must divide nPlanes ($nPlanes)")
    val bits = nPlanes / bands
    val mask = (1L << bits) - 1
    val keyed = OpsUtil.spread(vectors).withColumn("sig",
      graft.functions.SketchFunctions.srp_signature(col("embedding"), nPlanes, seed))
    // self-join the SAME banded plan (exchange-reuse, like minhash LSH)
    val banded = keyed.select(col("vec_id"), col("embedding"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          expr(s"shiftright(sig, ${b * bits}) & $mask").as("bkey"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // probe budget (same shape as SimilarityOps.knnJoinLsh, same eager
    // lightweight hot-bucket probe): thin the BUILD side of each
    // OVER-BUDGET (band, bucket) to ≈ `maxBucket` deterministic
    // hash-chosen members, so a dense bucket contributes
    // O(bucket · maxBucket) pairs instead of O(bucket²). For DEDUP the
    // thinned build side acts as the bucket's HUB set — every member
    // still pairs with the hubs, so connected components over the pairs
    // keep the bucket connected. No hot bucket (every shipped fixture)
    // → the original symmetric plan, bit-identical, exchange reuse and
    // AQE skew-split eligibility intact (SkewOpsSpec pins the split).
    val hot: Array[org.apache.spark.sql.Row] =
      if (maxBucket == Int.MaxValue ||
          nVectors.exists(_ <= maxBucket)) Array.empty
      else banded.select(col("band"), col("bkey"))
        .groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") > maxBucket).collect()
    val build =
      if (hot.isEmpty) banded
      else {
        val hotDf = broadcast(vectors.sparkSession.createDataFrame(
          java.util.Arrays.asList(hot: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("band",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("bkey",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("__cnt",
              org.apache.spark.sql.types.LongType)))))
        banded.join(hotDf, Seq("band", "bkey"), "left_outer")
          .filter(col("__cnt").isNull ||
            pmod(xxhash64(col("vec_id"), col("bkey")), col("__cnt"))
              < maxBucket)
          .drop("__cnt")
      }
    // No hot bucket → the original symmetric `<`-ordered plan,
    // bit-identical (exchange reuse + AQE skew-split intact). With a
    // THINNED build side `<` would be wrong: a member whose vec_id
    // exceeds every hub id in its bucket pairs with nothing, dropping
    // it from the dedup connected components. Join `=!=` instead and
    // canonicalize each pair to (least, greatest) — every member pairs
    // with every hub regardless of id order, keeping the bucket
    // connected through the hubs as the probe-budget contract promises.
    val pairs =
      if (hot.isEmpty)
        banded.as("l").join(build.as("r"),
            col("l.band") === col("r.band") &&
              col("l.bkey") === col("r.bkey") &&
              col("l.vec_id") < col("r.vec_id"))
          .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
            SimilarityOps.cosine(col("l.embedding"), col("r.embedding"))
              .as("sim"))
      else
        banded.as("l").join(build.as("r"),
            col("l.band") === col("r.band") &&
              col("l.bkey") === col("r.bkey") &&
              col("l.vec_id") =!= col("r.vec_id"))
          .select(least(col("l.vec_id"), col("r.vec_id")).as("id_a"),
            greatest(col("l.vec_id"), col("r.vec_id")).as("id_b"),
            SimilarityOps.cosine(col("l.embedding"), col("r.embedding"))
              .as("sim"))
    pairs.dropDuplicates(Seq("id_a", "id_b"))
      .filter(col("sim") >= threshold)
  }

  /** Semantic benchmark decontamination — the embedding-space sibling of
    * [[decontaminate]]: flag corpus vectors whose max cosine to ANY
    * held-out benchmark vector reaches `threshold`. N-gram overlap only
    * catches verbatim test-set leakage; paraphrased or re-rendered eval
    * material shows up in embedding space, which is why a pre-training
    * scrub runs both. Output: every corpus vector with its max benchmark
    * similarity and the verdict (flag-don't-drop, like the n-gram scrub).
    *
    * Scale shape: eval suites are tiny next to a 100 TB corpus, so the
    * benchmark broadcasts and the corpus streams ONCE through the fused
    * cosine kernel; `max` per vector is order-independent (unlike a
    * float sum), so the result is bit-stable under any partitioning and
    * the contamination verdict compares at 6 dp — the granularity any
    * cross-engine check uses. If the benchmark ever outgrows broadcast,
    * the SRP-banded candidate path ([[embeddingLshPairs]]) is the
    * fallback shape. */
  def decontaminateSemantic(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double = 0.35): DataFrame =
    OpsUtil.spread(corpus)
      .crossJoin(broadcast(benchmark.select(col("embedding").as("bench_emb"))))
      .select(col("vec_id"),
        SimilarityOps.cosine(col("embedding"), col("bench_emb")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max(col("sim")).as("max_sim"))
      .select(col("vec_id"),
        (floor(col("max_sim") * 1e6 + 0.5).cast("double") / 1e6)
          .as("max_sim6"))
      .withColumn("contaminated", col("max_sim6") >= threshold)

  /** Cell-pruned [[decontaminateSemantic]] — the scale path for LARGE
    * benchmarks (a 100k-prompt eval suite makes the exact pass's
    * O(|corpus|·|bench|) dot products the most expensive scan in the
    * pipeline). Centroids are the first `nCells` BENCHMARK vectors by id
    * (the deterministic stand-in, same convention as [[semanticDedup]] /
    * ivfTopK); benchmark members assign to their nearest centroid; each
    * corpus vector probes its `nProbe` nearest centroids and scores ONLY
    * the members of those cells — O(|corpus|·(nCells + nProbe·avgCell))
    * dots, with the member join a broadcast equi-join on cell_id.
    *
    * `max_sim6` is a max over a SUBSET of the benchmark, so it lower-
    * bounds the exact pass's value and a flag here implies a flag there
    * (soundness by construction, spec-pinned); a near-hit whose argmax
    * member hides in an unprobed cell is missed — the recall trade every
    * cell/LSH method makes, measured against the exact oracle in
    * ExtOpsSpec. Every centroid's cell contains at least the centroid
    * itself, so each corpus vector scores ≥ 1 candidate and the
    * flag-don't-drop output still covers the full corpus. Deterministic
    * end to end (literal centroids, id tiebreaks) — fully
    * oracle-replayable, adapting the IVF replay. */
  def decontaminateSemanticCells(corpus: DataFrame, benchmark: DataFrame,
                                 threshold: Double = 0.35, nCells: Int = 16,
                                 nProbe: Int = 4): DataFrame = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val cents = benchmark.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val members = SimilarityOps.assignCells(benchmark, cents)
      .select(col("cell_id"), col("embedding").as("bench_emb"))
    SimilarityOps.probeCells(OpsUtil.spread(corpus), cents, nProbe)
      .join(broadcast(members), Seq("cell_id"))
      .select(col("query_id").as("vec_id"),
        SimilarityOps.cosine(col("query_vec"), col("bench_emb")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max(col("sim")).as("max_sim"))
      .select(col("vec_id"),
        (floor(col("max_sim") * 1e6 + 0.5).cast("double") / 1e6)
          .as("max_sim6"))
      .withColumn("contaminated", col("max_sim6") >= threshold)
  }

  /** Embedding-modality ingest admission — [[ingestBatch]]'s sibling for
    * vector near-dups (image/audio embeddings land continuously too):
    * sign ONLY the new batch with the seeded SRP family, probe the staged
    * band index for corpus collisions, verify candidates with the exact
    * fused cosine kernel, reject near-dups of the corpus or of smaller-id
    * batch siblings, append survivors to `corpusPath` and their banded
    * rows to `indexPath`.
    *
    * The index parquet is (band, bkey, vec_id, embedding) — the vector
    * rides IN the index (×bands duplication) so candidate verification is
    * exact cosine off the probe join itself, never a corpus re-read:
    * per-batch cost stays O(|batch| + collisions) at any corpus size, the
    * same property [[ingestBatch]] gets from storing signatures. At
    * production dims, pair with [[SimilarityOps.quantizeExpr]]-style int8
    * codes to cut index bytes 4×. Same txn contract as [[ingestBatch]]:
    * with `txn = Some((appId, batchId))` the index is a [[TxTable]] and
    * appends commit exactly once per batch id with bounded file counts;
    * without it both appends stay plain parquet (non-atomic, replay
    * covered by the `vec_id` probe exclusion alone). */
  def embedIngestBatch(batch: DataFrame, corpusPath: String,
                       indexPath: String, threshold: Double = 0.9,
                       nPlanes: Int = 64, bands: Int = 8,
                       seed: Long = 42L,
                       txn: Option[(String, Long)] = None,
                       indexBuckets: Int = 8): Unit = {
    import org.apache.spark.storage.StorageLevel
    require(nPlanes % bands == 0, s"bands ($bands) must divide nPlanes ($nPlanes)")
    val s = batch.sparkSession
    val bits = nPlanes / bands
    val mask = (1L << bits) - 1
    val banded = OpsUtil.spread(batch)
      .withColumn("sig", graft.functions.SketchFunctions
        .srp_signature(col("embedding"), nPlanes, seed))
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          expr(s"shiftright(sig, ${b * bits}) & $mask").as("bkey"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    banded.count() // eager: probe, self-join, and index append all read it
    try {
      val idxPath = new org.apache.hadoop.fs.Path(indexPath)
      val idxExists = idxPath
        .getFileSystem(s.sparkContext.hadoopConfiguration).exists(idxPath)
      val vsCorpus =
        if (idxExists)
          banded.as("l").join(TxTable.readAny(s, indexPath).as("r"),
              col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
                col("l.vec_id") =!= col("r.vec_id"))
            .select(col("l.vec_id").as("vec_id"),
              SimilarityOps.cosine(col("l.embedding"), col("r.embedding"))
                .as("sim"))
            .filter(col("sim") >= threshold)
            .select(col("vec_id"))
        else s.emptyDataFrame.withColumn("vec_id", lit(0L)).limit(0)
      val withinBatch = banded.as("l").join(banded.as("r"),
          col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
            col("l.vec_id") > col("r.vec_id"))
        .select(col("l.vec_id").as("vec_id"),
          SimilarityOps.cosine(col("l.embedding"), col("r.embedding")).as("sim"))
        .filter(col("sim") >= threshold)
        .select(col("vec_id"))
      val rejected = vsCorpus.unionByName(withinBatch).distinct()
      val accepted = batch.join(rejected, Seq("vec_id"), "left_anti")
      accepted.write.mode("append").parquet(corpusPath)
      val idxRows = banded
        .join(accepted.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .select(col("band"), col("bkey"), col("vec_id"), col("embedding"))
      txn match {
        case Some((appId, batchId)) =>
          TxTable.appendIndexOnce(s, indexPath, idxRows, "vec_id",
            indexBuckets, appId, batchId)
        case None =>
          // same guard as ingestBatch: never bare-append into a TxTable
          if (TxTable.isTxTable(s, indexPath))
            TxTable.appendIndexOnce(s, indexPath, idxRows, "vec_id",
              indexBuckets, s"adhoc-${java.util.UUID.randomUUID()}", 0L,
              autoCompactEvery = 0)
          else idxRows.write.mode("append").parquet(indexPath)
      }
    } finally { banded.unpersist(blocking = false); () }
  }

  /** SemDeDup-shape semantic dedup (cluster-scoped embedding pruning,
    * Abbas et al. 2023): assign every vector to its nearest centroid
    * cell, then WITHIN each cell flag as duplicate any vector whose
    * cosine to a LOWER-id cell-mate reaches `threshold` (keep-first, the
    * library-wide dedup convention). Output: (vec_id, cell_id, is_dup)
    * for EVERY input vector — flag-don't-drop bookkeeping, same contract
    * as [[segmentDedup]].
    *
    * This is the third embedding-dedup shape next to
    * [[SimilarityOps.nearDupPairs]] (exact all-pairs audit) and
    * [[embeddingLshPairs]] (probabilistic banded recall): cells make the
    * quadratic term an explicit BUDGET — pairwise work is Σ|cell|², so
    * nCells (∝ corpus size in a production build) bounds per-cell cost,
    * and the only shuffle is the cell equi-join AQE can skew-split. Like
    * every cluster/LSH method it trades recall at boundaries: two
    * near-dups straddling a cell boundary are not compared (spec-pinned
    * as contract, not bug). Centroids here are the deterministic
    * first-nCells-by-id stand-in so the whole pipeline — assignment,
    * pairs, flags — replays in an external oracle; a production build
    * swaps in `ivfTopKKmeans`-style seeded k-means centroids exactly as
    * the ANN family does. */
  def semanticDedup(vectors: DataFrame, nCells: Int = 16,
                    threshold: Double = 0.35): DataFrame = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    val cents = vectors.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    pruneWithinCells(
      SimilarityOps.assignCells(OpsUtil.spread(vectors), cents), threshold)
  }

  /** [[semanticDedup]] with LEARNED cells: the staged seeded-k-means model
    * ([[SimilarityOps.fitIvfKmeans]]) assigns cells, so cell populations
    * follow the data distribution and the Σ|cell|² pairwise budget is
    * balanced — the production SemDeDup shape, exactly as the ANN family
    * pairs deterministic cells (oracle) with learned ones (serving).
    * `no_oracle` by the model-state contract; soundness (every flag has a
    * lower-id global witness at ≥ threshold) and determinism are
    * spec-pinned. */
  def semanticDedupKmeans(vectors: DataFrame,
                          model: org.apache.spark.ml.clustering.KMeansModel,
                          threshold: Double = 0.35): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val assigned = model.transform(OpsUtil.spread(vectors).withColumn("__fv",
        array_to_vector(col("embedding").cast("array<double>"))))
      .select(col("vec_id"), col("embedding"),
        col("cell_id").cast("long").as("cell_id"))
    pruneWithinCells(assigned, threshold)
  }

  /** Within-cell keep-first pruning shared by both cell assignments. */
  private def pruneWithinCells(assigned: DataFrame,
                               threshold: Double): DataFrame = {
    val mates = assigned.select(col("cell_id"),
      col("vec_id").as("prior_id"), col("embedding").as("prior_emb"))
    val dups = assigned.join(mates, Seq("cell_id"))
      .filter(col("prior_id") < col("vec_id"))
      .filter(SimilarityOps.cosine(col("embedding"), col("prior_emb"))
        >= threshold)
      .select(col("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cell_id"))
      .join(dups.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }
}
