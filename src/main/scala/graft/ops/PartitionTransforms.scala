package graft.ops

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, IntegerType,
  LongType, StringType, StructType, TimestampType}

/** Hidden partitioning (the Iceberg partition-transform idea): a table
  * declares `PARTITIONED BY (days(ts), identity(region), bucket(n, key))`
  * and the engine — not the user — derives each row's partition values at
  * write time, splits staged files by them (nested `part-<v0>/part2-<v1>/`
  * path segments above the bucket segment, so the MANIFEST FORMAT is
  * untouched and vacuum / branch / WAP logic is oblivious), and converts
  * query predicates on the SOURCE columns into exact per-file envelopes at
  * plan time. Users never see or write the partition columns; they filter
  * on `ts` / `region` and get conjunctive partition pruning.
  *
  * Reference behavior note: the reference pipeline's gold tables are
  * time-cut by event date (`Gold1.py:20-27`'s commented time cutoff is
  * exactly this read shape); this layer gives that read planner-visible
  * pruning instead of a full scan.
  *
  * SPEC EVOLUTION (the Iceberg v2 partition-spec-evolution idea): the
  * transform is no longer immutable. `ALTER TABLE t SET TBLPROPERTIES
  * ('graft.partition.transform' = 'hours(ts)')` records a NEW spec for
  * FUTURE commits; files written under earlier specs keep their original
  * envelopes. Every spec the table ever had is kept, ordered, under
  * [[SpecsProp]]; a file's path records which spec placed it (a
  * `spec-<sid>/` segment above the partition segments — absent for the
  * CREATE-time spec 0, so pre-evolution tables are untouched on disk).
  * Mixed-generation scans prune each file under ITS OWN spec; partition-
  * addressed maintenance ([[TxTable.dropPartition]]) decides old-spec
  * files by envelope containment and refuses loudly when a file's
  * envelope straddles the requested slice — never a silent wrong answer.
  *
  * Transform semantics are UTC-EXACT and timezone-free, like Iceberg's
  * published spec: `hours`/`days` are pure epoch arithmetic on the
  * instant; `months`/`years` run the proleptic-Gregorian civil-date
  * algorithm (Howard Hinnant's `civil_from_days`, public domain) in
  * integer arithmetic — so the SAME instant always lands in the SAME
  * partition no matter the session timezone, and the driver-side range
  * reconstruction below ([[rangeMicros]]) is exactly inverse. `identity`
  * partitions by the raw value (STRING / INT / BIGINT sources); string
  * values ride the path base64url-coded (`b<code>` — path-safe, collision
  * -free with the `null` marker, exact for any unicode). All write-side
  * expressions are stock `functions._` arithmetic: codegen-friendly, no
  * UDF in the write path.
  *
  * Value definitions (all relative to 1970-01-01T00:00:00Z):
  *   hours(ts)  = floorDiv(epochMicros, 3_600_000_000)
  *   days(ts)   = floorDiv(epochMicros, 86_400_000_000); days(date) = epochDay
  *   months(x)  = (utcYear - 1970) * 12 + (utcMonth - 1)
  *   years(x)   = utcYear - 1970
  *   identity(x) = x
  */
object PartitionTransforms {

  /** Table-property key recording the HEAD transform, e.g. `days(ts)` or
    * `days(ts),identity(region)` — column names are PHYSICAL
    * (column-mapping safe: renames change only the logical map, never
    * this identity). Set at CREATE; evolvable via ALTER SET TBLPROPERTIES
    * (which appends to [[SpecsProp]] rather than rewriting history). */
  val Prop = "graft.partition.transform"

  /** Table-property key recording EVERY spec the table ever had, pipe-
    * joined oldest-first; a file path's `spec-<sid>/` segment indexes
    * into this list. Absent ⇒ the table never evolved: history is
    * exactly [Prop] (sid 0). Engine-managed, append-only. */
  val SpecsProp = "graft.partition.specs"

  /** Render of a generation with no transform (a table created
    * unpartitioned that later evolves: its sid-0 generation is `none`,
    * matching its segment-free file paths). */
  val NoneRender = "none"

  val TemporalFns: Set[String] = Set("hours", "days", "months", "years")
  val Fns: Set[String] = TemporalFns + "identity"

  /** One transform field: function + PHYSICAL source column. */
  final case class Field(fn: String, column: String) {
    def render: String = s"$fn($column)"
  }

  /** A partition spec: the ordered transform fields of one generation.
    * Field i's value rides path segment `part<i+1>-<v>/` (`part-` for
    * i = 0, matching the pre-multi-field on-disk layout). */
  final case class Spec(fields: IndexedSeq[Field]) {
    def render: String =
      if (fields.isEmpty) NoneRender else fields.map(_.render).mkString(",")
    def nonEmpty: Boolean = fields.nonEmpty
    /** Index of the field over `column`, -1 when none (validation
      * refuses duplicate source columns, so first match is the match). */
    def fieldOver(column: String): Int =
      fields.indexWhere(_.column == column)
  }

  def parseField(s: String): Field = {
    val m = "^([a-z]+)\\((.+)\\)$".r
    s.trim match {
      case m(fn, c) if Fns(fn) => Field(fn, c.trim)
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform '$other': expected " +
          s"${Fns.toSeq.sorted.mkString("|")}(<column>)")
    }
  }

  def parse(s: String): Spec =
    if (s.trim == NoneRender) Spec(IndexedSeq.empty)
    else Spec(s.split(',').toIndexedSeq.map(parseField))

  /** The HEAD spec — what new writes split by. */
  def of(props: Map[String, String]): Option[Spec] =
    props.get(Prop).map(parse).filter(_.nonEmpty)

  /** Every generation oldest-first; index = the sid that files of that
    * generation carry. Empty when the table was never partitioned. */
  def history(props: Map[String, String]): IndexedSeq[Spec] =
    props.get(SpecsProp) match {
      case Some(h) => h.split('|').toIndexedSeq.map(parse)
      case None => props.get(Prop).map(p => IndexedSeq(parse(p)))
        .getOrElse(IndexedSeq.empty)
    }

  /** The sid new writes stamp (last history index). Only meaningful when
    * [[of]] is non-empty. */
  def headSid(props: Map[String, String]): Int =
    history(props).length - 1

  /** Validate a spec against the table schema: temporal fields need
    * TIMESTAMP (any fn) or DATE (days/months/years — sub-day partitions
    * of a date are meaningless); identity needs STRING, INT or BIGINT;
    * no column may source two fields (its envelope would be ambiguous). */
  def validate(spec: Spec, schema: StructType): Unit = {
    require(spec.fields.nonEmpty, "empty partition spec")
    require(spec.fields.size <= 3,
      s"at most 3 partition transform fields (got ${spec.render}): " +
        "deeper nesting multiplies file counts past any pruning payoff")
    val dup = spec.fields.groupBy(_.column).collectFirst {
      case (c, fs) if fs.size > 1 => c
    }
    require(dup.isEmpty,
      s"column '${dup.orNull}' sources two partition fields in " +
        s"${spec.render} — one envelope per column")
    spec.fields.foreach { f =>
      // the rendered spec round-trips through ','-joined fields and the
      // '|'-joined history property — a source column whose PHYSICAL
      // name carries a delimiter would corrupt the persisted history on
      // first re-parse (every later snapshot read throws or resolves a
      // WRONG spec). Refuse at declaration, not at the first broken read.
      val bad = f.column.find(c => c == ',' || c == '|' || c == '(' ||
        c == ')')
      require(bad.isEmpty,
        s"partition transform ${f.render}: source column name contains " +
          s"'${bad.orNull}' — ',', '|', '(' and ')' are spec-history " +
          "delimiters and cannot appear in a partition source column " +
          "(rename the column first)")
      val fld = schema.fields.find(_.name == f.column).getOrElse(
        throw new IllegalArgumentException(
          s"partition transform ${f.render}: column '${f.column}' " +
            s"is not in ${schema.simpleString}"))
      (f.fn, fld.dataType) match {
        case ("identity", StringType | IntegerType | LongType) => ()
        case ("identity", dt) => throw new IllegalArgumentException(
          s"partition transform ${f.render}: identity needs STRING, " +
            s"INT or BIGINT, '${f.column}' is ${dt.sql}")
        case (_, TimestampType) => ()
        case (fn, DateType) if fn != "hours" => ()
        case (fn, dt) => throw new IllegalArgumentException(
          s"partition transform ${f.render}: needs TIMESTAMP" +
            s"${if (fn == "hours") "" else " or DATE"}, " +
            s"'${f.column}' is ${dt.sql}")
      }
    }
  }

  // ---- write-side expressions -------------------------------------------

  /** Floor division as a Column, EXACT over the full long range —
    * `Math.floorDiv` semantics, matching the driver-side mirrors and
    * the DSv2 PartTagger bit for bit. A double-division floor would be
    * wrong past 2^53 (epoch micros reach 2.5e17 at the common
    * 9999-12-31 sentinel: a row one microsecond before a day boundary
    * could round INTO the next partition, breaking the file-envelope
    * invariant that pruning and metadata-only drops rely on). pmod's
    * non-negative remainder makes the subtraction land exactly on a
    * multiple of b, and SQL `div` (IntegralDivide) is exact long
    * arithmetic — both codegen'd, no UDF. */
  private def fdiv(a: Column, b: Long): Column =
    call_function("div", a - pmod(a, lit(b)), lit(b)).cast("long")

  /** Civil (proleptic-Gregorian) year/month from epoch days, as pure
    * integer Column arithmetic — Hinnant's civil_from_days. Returns
    * (year, month 1-12). */
  private def civil(d: Column): (Column, Column) = {
    val z = d + lit(719468L)
    val era = fdiv(z, 146097L)
    val doe = z - era * lit(146097L) // [0, 146096]
    val yoe = fdiv(
      doe - fdiv(doe, 1460L) + fdiv(doe, 36524L) - fdiv(doe, 146096L),
      365L) // [0, 399]
    val y0 = yoe + era * lit(400L)
    val doy = doe - (lit(365L) * yoe + fdiv(yoe, 4L) - fdiv(yoe, 100L))
    val mp = fdiv(lit(5L) * doy + lit(2L), 153L) // [0, 11]
    val m = mp + when(mp < 10, lit(3L)).otherwise(lit(-9L)) // [1, 12]
    val y = y0 + when(m <= 2, lit(1L)).otherwise(lit(0L))
    (y, m)
  }

  /** The row's NUMERIC partition value for a temporal `field` — NULL
    * when the source value is NULL (such rows land under a `part-null/`
    * segment and are never partition-pruned or partition-dropped). */
  def partExpr(field: Field, dt: DataType): Column = {
    val c = col(s"`${field.column}`")
    val epochDays: Column = dt match {
      case TimestampType => fdiv(unix_micros(c), 86400000000L)
      case DateType => datediff(c, to_date(lit("1970-01-01")))
        .cast("long")
      case other => throw new IllegalArgumentException(
        s"partition transform ${field.render} over ${other.sql}")
    }
    field.fn match {
      case "hours" => fdiv(unix_micros(c), 3600000000L)
      case "days" => epochDays
      case "months" =>
        val (y, m) = civil(epochDays)
        (y - lit(1970L)) * lit(12L) + (m - lit(1L))
      case "years" => civil(epochDays)._1 - lit(1970L)
    }
  }

  /** The row's partition SEGMENT TEXT for `field` as a STRING Column —
    * exactly the text after `part<i>-` in the file path (numeric for
    * temporal and integer-identity fields, `b<base64url>` for string
    * identity), NULL for NULL sources. Every produced character is
    * path- and Hive-escape-safe, so partitionBy staging dirs carry the
    * text verbatim. */
  def segTextExpr(field: Field, dt: DataType): Column =
    (field.fn, dt) match {
      case ("identity", StringType) => idStrCol(col(s"`${field.column}`"))
      case ("identity", IntegerType | LongType) =>
        col(s"`${field.column}`").cast("string")
      case ("identity", other) => throw new IllegalArgumentException(
        s"identity transform over ${other.sql}")
      case _ => partExpr(field, dt).cast("string")
    }

  // ---- identity-string path codec ----------------------------------------

  /** Path coding of a STRING identity value: `b` + base64(UTF-8) with the
    * path-hostile alphabet translated (`+/=` → `-_.`). The `b` prefix
    * keeps any coded value distinct from the reserved `null` marker and
    * from numeric values; base64 is exact for every unicode string
    * (including empty, `/`, `..`, and a literal "null"). The Column twin
    * strips MIME line-chunking (`\r\n` every 76 chars — Spark's base64
    * can chunk long inputs depending on the legacy conf) by listing the
    * CR/LF in translate's match string with no counterpart, which
    * DELETES them — after which Spark's base64 and java.util.Base64
    * agree byte-for-byte, so Column-staged and task-written files land
    * in identical segments (parity pinned over hostile values in
    * PartitionMultiFieldSpec). */
  def encodeIdStr(s: String): String =
    "b" + java.util.Base64.getEncoder
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))
      .replace('+', '-').replace('/', '_').replace('=', '.')

  def decodeIdStr(t: String): Option[String] =
    if (!t.startsWith("b")) None
    else scala.util.Try(new String(java.util.Base64.getDecoder.decode(
      t.substring(1).replace('-', '+').replace('_', '/')
        .replace('.', '=')), StandardCharsets.UTF_8)).toOption

  /** Column twin of [[encodeIdStr]] (NULL-preserving). */
  def idStrCol(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .otherwise(concat(lit("b"),
        translate(base64(encode(c, "UTF-8")), "+/=\r\n", "-_.")))

  // ---- driver-side mirrors (exact inverses, java.time in UTC) ---------

  /** Partition value of an instant (epoch micros) under `fn`. */
  def valueOfMicros(fn: String, micros: Long): Long = fn match {
    case "hours" => Math.floorDiv(micros, 3600000000L)
    case "days" => Math.floorDiv(micros, 86400000000L)
    case "months" =>
      val ld = LocalDate.ofEpochDay(Math.floorDiv(micros, 86400000000L))
      (ld.getYear - 1970).toLong * 12 + (ld.getMonthValue - 1)
    case "years" =>
      LocalDate.ofEpochDay(Math.floorDiv(micros, 86400000000L))
        .getYear.toLong - 1970
  }

  /** Partition value of an epoch day (DATE source) under `fn`. */
  def valueOfEpochDay(fn: String, day: Long): Long = fn match {
    case "days" => day
    case "months" =>
      val ld = LocalDate.ofEpochDay(day)
      (ld.getYear - 1970).toLong * 12 + (ld.getMonthValue - 1)
    case "years" => LocalDate.ofEpochDay(day).getYear.toLong - 1970
    case other => throw new IllegalArgumentException(
      s"transform $other undefined over DATE")
  }

  /** The [start, end) instant range (epoch micros) of partition `p`. */
  def rangeMicros(fn: String, p: Long): (Long, Long) = fn match {
    case "hours" => (p * 3600000000L, (p + 1) * 3600000000L)
    case "days" => (p * 86400000000L, (p + 1) * 86400000000L)
    case "months" =>
      val start = LocalDate.of(1970 + Math.floorDiv(p, 12L).toInt,
        Math.floorMod(p, 12L).toInt + 1, 1)
      (start.toEpochDay * 86400000000L,
        start.plusMonths(1).toEpochDay * 86400000000L)
    case "years" =>
      val start = LocalDate.of(1970 + p.toInt, 1, 1)
      (start.toEpochDay * 86400000000L,
        start.plusYears(1).toEpochDay * 86400000000L)
  }

  /** The [start, end) epoch-day range of partition `p` (DATE source). */
  def rangeEpochDays(fn: String, p: Long): (Long, Long) = fn match {
    case "days" => (p, p + 1)
    case "months" =>
      val start = LocalDate.of(1970 + Math.floorDiv(p, 12L).toInt,
        Math.floorMod(p, 12L).toInt + 1, 1)
      (start.toEpochDay, start.plusMonths(1).toEpochDay)
    case "years" =>
      val start = LocalDate.of(1970 + p.toInt, 1, 1)
      (start.toEpochDay, start.plusYears(1).toEpochDay)
    case other => throw new IllegalArgumentException(
      s"transform $other undefined over DATE")
  }

  /** INCLUSIVE (lo, hi) envelope of partition value `p` in the source
    * column's own long unit — micros for TIMESTAMP, epoch days for DATE,
    * the value itself for integer identity. The containment currency of
    * spec-aware maintenance: two generations' envelopes over the SAME
    * column compare directly. */
  def longEnvelope(fn: String, p: Long, isDate: Boolean): (Long, Long) =
    fn match {
      case "identity" => (p, p)
      case _ if isDate =>
        val (s, e) = rangeEpochDays(fn, p); (s, e - 1)
      case _ =>
        val (s, e) = rangeMicros(fn, p); (s, e - 1)
    }

  // ---- per-file values from the staged path ------------------------------

  /** Segment directory name for field `i`: `part`, `part2`, `part3`. */
  def segName(i: Int): String = if (i == 0) "part" else s"part${i + 1}"

  /** Parsed partition path info of one file: the sid that placed it and
    * the raw segment texts per field (None = `null` segment). */
  final case class RelParts(sid: Int, raw: IndexedSeq[Option[String]])

  /** Parse the CANONICAL suffix `files/<uuid>/[spec-<sid>/]part-<v0>/
    * [part2-<v1>/…]bucket-<b>/<name>`; None for pre-partitioning files.
    * Anchored segment-by-segment: a clone's cross-table rel prefix
    * (`../../…`) traversing a user directory literally named `part-<n>`
    * never parses as a partition ([[DeletionVectors.relKey]] strips the
    * prefix first), and the `part-<id>-<task>` FILENAME convention never
    * matches because the walk requires a trailing `bucket-<b>/<name>`. */
  def partsOfRel(rel: String): Option[RelParts] = {
    val segs = DeletionVectors.relKey(rel).split('/')
    if (segs.length < 4 || segs(0) != "files") return None
    var i = 2
    var sid = 0
    if (segs(i).startsWith("spec-")) {
      sid = scala.util.Try(segs(i).stripPrefix("spec-").toInt)
        .getOrElse(return None)
      if (sid <= 0) return None
      i += 1
    }
    val vals = IndexedSeq.newBuilder[Option[String]]
    var idx = 0
    while (i < segs.length - 2 &&
        segs(i).startsWith(segName(idx) + "-")) {
      val v = segs(i).stripPrefix(segName(idx) + "-")
      vals += (if (v == "null") None else Some(v))
      i += 1; idx += 1
    }
    if (idx == 0) None
    else if (i == segs.length - 2 && segs(i).matches("bucket-\\d+"))
      Some(RelParts(sid, vals.result()))
    else None
  }

  /** Legacy single-value accessor: the numeric FIELD-0 value of a
    * CREATE-generation (sid 0) file. Spec-aware callers use
    * [[resolve]]; this remains the honest syntactic read for
    * single-temporal-field tables that never evolved. */
  def partOfRel(rel: String): Option[Long] =
    partsOfRel(rel).filter(_.sid == 0).flatMap(_.raw.headOption.flatten)
      .flatMap(v => scala.util.Try(v.toLong).toOption)

  /** True when `rel` carries ANY partition segment (valued or null) —
    * the staged-layout marker specs assert on. */
  def hasPartSegment(rel: String): Boolean = {
    val segs = DeletionVectors.relKey(rel).split('/')
    segs.length >= 4 && segs(0) == "files" && {
      val i = if (segs(2).startsWith("spec-")) 3 else 2
      i < segs.length - 2 && segs(i).startsWith("part-")
    }
  }

  // ---- spec-aware resolution + typed envelopes ---------------------------

  /** A file bound to the spec that placed it. `raw(i)` is field i's
    * segment text (None = null segment). */
  final case class Resolved(sid: Int, spec: Spec,
                            raw: IndexedSeq[Option[String]]) {
    def rawFor(column: String): Option[String] = {
      val i = spec.fieldOver(column)
      if (i < 0) None else raw.lift(i).flatten
    }
    def fieldFor(column: String): Option[Field] = {
      val i = spec.fieldOver(column)
      if (i < 0) None else Some(spec.fields(i))
    }
    /** The file's INCLUSIVE long envelope over `column` (source unit per
      * [[longEnvelope]]); None when the column doesn't source a field
      * here, the segment is null, or the field is string-identity. */
    def longEnvelopeFor(column: String, isDate: Boolean)
        : Option[(Long, Long)] =
      for {
        f <- fieldFor(column) if f.fn != "identity" ||
          !rawFor(column).exists(_.startsWith("b"))
        t <- rawFor(column)
        p <- scala.util.Try(t.toLong).toOption
      } yield longEnvelope(f.fn, p, isDate)
  }

  /** Bind a file to its generation's spec. None (= over-keep, never
    * wrong) for pre-partitioning files, unknown sids, and field-count
    * mismatches (a corrupted path never prunes). */
  def resolve(rel: String, hist: IndexedSeq[Spec]): Option[Resolved] =
    partsOfRel(rel).flatMap { rp =>
      hist.lift(rp.sid)
        .filter(_.fields.length == rp.raw.length)
        .map(Resolved(rp.sid, _, rp.raw))
    }

  /** The file's inclusive (lo, hi) envelope over predicate column
    * `column`, typed in the RUNTIME CLASS of the predicate value `v` so
    * [[TxTable.cmpAny]] compares natively. None ⇒ caller keeps the file
    * (over-keep). A non-null envelope additionally certifies the file
    * holds NO nulls in that column (null sources land `part-null/`). */
  def envelopeFor(res: Resolved, column: String, v: Any)
      : Option[(Any, Any)] = {
    val i = res.spec.fieldOver(column)
    if (i < 0) return None
    res.raw.lift(i).flatten.flatMap { text =>
      val f = res.spec.fields(i)
      if (f.fn == "identity") identityEnvelope(text, v)
      else scala.util.Try(text.toLong).toOption
        .flatMap(p => envelopeLike(f.fn, p, v))
    }
  }

  /** Typed point envelope of an identity segment, matching `v`'s class.
    * Type-directed decode: a `b`-coded segment is a string value, a
    * decimal segment an integer one — mismatched classes over-keep. */
  private def identityEnvelope(text: String, v: Any): Option[(Any, Any)] =
    v match {
      case _: String => decodeIdStr(text).map(s => (s, s))
      case _: java.lang.Integer => scala.util.Try(text.toInt).toOption
        .map(i => (Int.box(i), Int.box(i)))
      case _: java.lang.Long => scala.util.Try(text.toLong).toOption
        .map(l => (Long.box(l), Long.box(l)))
      case _ => None
    }

  /** The partition's inclusive (lo, hi) envelope in the RUNTIME CLASS of
    * the predicate value `v`, so [[TxTable.cmpAny]] compares natively.
    * None when `v`'s class is not a recognized datetime external type —
    * callers must then keep the file (over-keep). The envelope brackets
    * every possible row value in the partition: lo = range start,
    * hi = range end minus one micro/day. */
  def envelopeLike(fn: String, p: Long, v: Any): Option[(Any, Any)] = {
    def ofMicros(m: Long): Any = v match {
      case _: java.sql.Timestamp =>
        java.sql.Timestamp.from(Instant.ofEpochSecond(
          Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L))
      case _: Instant => Instant.ofEpochSecond(
        Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L)
      case _ => null
    }
    def ofDay(d: Long): Any = v match {
      case _: java.sql.Date =>
        java.sql.Date.valueOf(LocalDate.ofEpochDay(d))
      case _: LocalDate => LocalDate.ofEpochDay(d)
      case _ => null
    }
    v match {
      case _: java.sql.Timestamp | _: Instant =>
        val (s, e) = rangeMicros(fn, p)
        Some((ofMicros(s), ofMicros(e - 1L)))
      case _: java.sql.Date | _: LocalDate =>
        // date column: partition values/ranges are in epoch days
        val (s, e) = rangeEpochDays(fn, p)
        Some((ofDay(s), ofDay(e - 1L)))
      case _ => None
    }
  }

  /** Human rendering of one field's raw segment text for the
    * `#partitions` surface: temporal values render their range start
    * (instant or date), identity values decode to the source value. */
  def renderRaw(f: Field, text: String, isDate: Boolean): String =
    f.fn match {
      case "identity" =>
        if (text.startsWith("b")) decodeIdStr(text).getOrElse(text)
        else text
      case fn =>
        scala.util.Try(text.toLong).toOption.map { p =>
          if (isDate)
            LocalDate.ofEpochDay(rangeEpochDays(fn, p)._1).toString
          else Instant.ofEpochSecond(Math.floorDiv(
            rangeMicros(fn, p)._1, 1000000L)).toString
        }.getOrElse(text)
    }

  // ---- executor-side row tagger -----------------------------------------

  private[graft] sealed trait Kind extends Serializable
  private[graft] case object TsK extends Kind
  private[graft] case object DateK extends Kind
  private[graft] case object StrK extends Kind
  private[graft] case object IntK extends Kind
  private[graft] case object LongK extends Kind

  /** Executor-side row tagger for the DSv2 task writers: resolves each
    * source column's ordinal once, then maps each InternalRow to its
    * full partition path prefix (`[spec-<sid>/]part-<v0>/[part2-<v1>/…]`,
    * `part-null/` per NULL source). The same pure-JVM mirrors as the
    * driver's planning math, so task-written files and Scala-staged
    * files land in identical segments. */
  final case class PartTagger(sid: Int,
      fields: IndexedSeq[(Field, Int, Kind)]) extends Serializable {
    private val prefix = if (sid > 0) s"spec-$sid/" else ""
    def segOf(row: org.apache.spark.sql.catalyst.InternalRow): String = {
      val sb = new StringBuilder(prefix)
      var i = 0
      while (i < fields.length) {
        val (f, ord, kind) = fields(i)
        sb.append(segName(i)).append('-')
        if (row.isNullAt(ord)) sb.append("null")
        else kind match {
          case TsK => sb.append(valueOfMicros(f.fn, row.getLong(ord)))
          case DateK =>
            if (f.fn == "identity") sb.append(row.getInt(ord))
            else sb.append(valueOfEpochDay(f.fn, row.getInt(ord).toLong))
          case StrK => sb.append(encodeIdStr(row.getUTF8String(ord)
            .toString))
          case IntK => sb.append(row.getInt(ord))
          case LongK => sb.append(row.getLong(ord))
        }
        sb.append('/')
        i += 1
      }
      sb.toString
    }
  }

  /** Build the tagger binding `spec` (column names must be in the WRITE
    * schema's namespace — callers map physical→logical for DSv2 query
    * schemas). Throws when the write schema omits a source column
    * (placement would be undefined). */
  def taggerFor(spec: Spec, sid: Int, writeSchema: StructType)
      : PartTagger = {
    val bound = spec.fields.map { f =>
      val i = scala.util.Try(writeSchema.fieldIndex(f.column))
        .getOrElse(throw new IllegalArgumentException(
          s"write omits the hidden-partition source column " +
            s"'${f.column}' (${f.render})"))
      val kind = (f.fn, writeSchema.fields(i).dataType) match {
        case (_, TimestampType) => TsK
        case (_, DateType) => DateK
        case ("identity", StringType) => StrK
        case ("identity", IntegerType) => IntK
        case ("identity", LongType) => LongK
        case (_, dt) => throw new IllegalArgumentException(
          s"partition source '${f.column}' arrives as ${dt.sql}")
      }
      (f, i, kind)
    }
    PartTagger(sid, bound)
  }

  private[graft] val UTC: ZoneOffset = ZoneOffset.UTC
}
