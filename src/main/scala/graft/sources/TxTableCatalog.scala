package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.GraftParquetShim
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TxTable

/** TxTable as a first-class Spark DSv2 catalog: `spark.table("txcat.
  * \`/path/to/table\`")` reads the committed snapshot through the stock
  * vectorized parquet reader, REPORTING the table's bucket layout as a
  * `KeyGroupedPartitioning(bucket(n, key))`.
  *
  * That report is what buys the 100 TB win the Scala `readKeys` surface
  * can't express: with `spark.sql.sources.v2.bucketing.enabled=true`,
  * Spark's storage-partitioned join matches two TxTables committed with
  * the same (key, nBuckets) identity and plans their equi-join with ZERO
  * shuffle on either side — the join runs bucket-against-bucket on the
  * manifests' own layout, and a groupBy on the bucket key aggregates
  * shuffle-free the same way. The catalog also implements
  * [[FunctionCatalog]] because Spark resolves the `bucket` transform
  * through the owning catalog; the bound function reproduces the writers'
  * exact `pmod(xxhash64(key, seed 42), n)` layout hash (evaluated through
  * the same catalyst kernel, so it can never drift).
  *
  * Identifier → path: the table identifier IS the filesystem path
  * (backquoted single segment, or namespace segments joined with '/'),
  * with an optional `@vN` suffix for time travel. Writes (batch INSERT,
  * CTAS, and the exactly-once streaming sink) publish through the same
  * manifest commit protocol as every Scala writer; CREATE TABLE
  * bootstraps an empty version-0 manifest from the declared schema +
  * `bucket(n, key)` transform and DROP TABLE deletes the log — the full
  * SQL-only lifecycle (create → insert → stream → query → time-travel).
  * ALTER/RENAME stay unsupported: schema changes ride data commits and
  * the path is the table's identity.
  */
class TxTableCatalog extends TableCatalog with FunctionCatalog
    with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces {
  private var catalogName: String = "txtable"
  private var warehouse: Option[String] = None

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.trim)
      .filter(_.nonEmpty)
  }

  override def name(): String = catalogName

  // ---- name → path metastore (the `warehouse` option) -------------------
  //
  // With `spark.sql.catalog.<cat>.warehouse=/wh` set, NON-ABSOLUTE
  // identifiers are NAMES resolved through a `_catalog/` directory of
  // binding files — `CREATE TABLE cat.db.t` claims
  // `<wh>/_catalog/<enc(db)>.<enc(t)>.tbl` (create-exclusive: the
  // filesystem IS the CAS, so two racing CREATEs cannot both win) whose
  // content is the table's path (LOCATION property, default
  // `<wh>/db/t`). Absolute identifiers keep the path-IS-identity
  // behavior unchanged, warehouse or not; without the option the
  // metastore does not exist at all. Reserved suffixes (`@v3`,
  // `@branch.x`, `#files`, …) compose: the suffix is split off, the
  // base name resolves, and the suffix re-attaches to the path.

  private def metaFs(p: Path) = p.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  private def catDir: Option[Path] =
    warehouse.map(w => new Path(w, "_catalog"))

  /** One encoded segment of a binding file name: URL-encoding plus an
    * explicit '.' escape ('.' joins segments, so a name containing one
    * must not collide with a nested namespace). */
  private def encSeg(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace(".", "%2E")
  private def decSeg(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def bindingPath(segs: Seq[String]): Option[Path] =
    catDir.map(d => new Path(d, segs.map(encSeg).mkString(".") + ".tbl"))

  private def readBinding(segs: Seq[String]): Option[String] =
    bindingPath(segs).flatMap { p =>
      val fs = metaFs(p)
      if (!scala.util.Try(fs.exists(p)).getOrElse(false)) None
      else {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      }
    }

  /** Identifier string → path string: a bound NAME rewrites to its
    * path (reserved suffix re-attached); everything else — absolute
    * paths, unbound names, no-warehouse catalogs — passes through.
    * Identifier segments join with '/' when Spark hands us a parsed
    * identifier; a CALL proc's `table` argument is one unparsed string,
    * so the DOTTED spelling (`db.orders`) resolves too when the
    * '/'-split finds no binding — exact segments always win over the
    * dotted reinterpretation. */
  private[sources] def resolveRaw(raw: String): String = {
    if (warehouse.isEmpty || raw.startsWith("/")) return raw
    val i = raw.indexWhere(c => c == '@' || c == '#')
    val (base, suffix) = if (i < 0) (raw, "") else (raw.take(i), raw.drop(i))
    readBinding(base.split('/').toIndexedSeq)
      .orElse(readBinding(base.split('.').toIndexedSeq))
      .map(_ + suffix)
      .getOrElse(raw)
  }

  private def isNamed(ident: Identifier): Boolean = {
    val raw = (ident.namespace() :+ ident.name()).mkString("/")
    // absolute paths and scheme'd URIs (file:/…, hdfs://…, s3a://… —
    // Spark qualifies LOCATION values into these) stay path-addressed
    warehouse.isDefined && !raw.startsWith("/") &&
      !raw.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")
  }

  // ---- namespaces over the metastore ------------------------------------
  //
  // A namespace EXISTS when it holds a binding or carries an explicit
  // marker file (`<enc segs>.ns`, claimed create-exclusively like table
  // bindings). Path-addressed identifiers never consult namespaces, so
  // a warehouse-less catalog reports every namespace as existing — USE
  // and SHOW TABLES stay usable without a metastore.

  private def nsMarker(segs: Seq[String]): Option[Path] =
    catDir.map(d => new Path(d, segs.map(encSeg).mkString(".") + ".ns"))

  private def boundNamespaces: Seq[Seq[String]] = catDir match {
    case None => Seq.empty
    case Some(d) =>
      val fs = metaFs(d)
      if (!scala.util.Try(fs.exists(d)).getOrElse(false)) Seq.empty
      else fs.listStatus(d).toSeq.map(_.getPath.getName).flatMap {
        case n if n.endsWith(".tbl") =>
          Some(n.stripSuffix(".tbl").split('.').toSeq.map(decSeg)
            .dropRight(1))
        case n if n.endsWith(".ns") =>
          Some(n.stripSuffix(".ns").split('.').toSeq.map(decSeg))
        case _ => None
      }.distinct
  }

  override def listNamespaces(): Array[Array[String]] =
    boundNamespaces.filter(_.nonEmpty).map(_.take(1))
      .distinct.map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val p = namespace.toSeq
    boundNamespaces.filter(ns => ns.length > p.length &&
        ns.take(p.length) == p)
      .map(_.take(p.length + 1)).distinct.map(_.toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    warehouse.isEmpty || namespace.isEmpty ||
      boundNamespaces.exists(ns => ns.startsWith(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(catalogName +: namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    require(warehouse.isDefined,
      "CREATE NAMESPACE needs the catalog's warehouse option (a " +
        "path-addressed catalog has no metastore to create it in)")
    val mp = nsMarker(namespace.toSeq).get
    val fs = metaFs(mp)
    fs.mkdirs(mp.getParent)
    val claimed = scala.util.Try {
      val out = fs.create(mp, false)
      out.close()
      true
    }.getOrElse(false)
    if (!claimed)
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(catalogName +: namespace)
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog
        .NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespaces carry no metadata here — nothing to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = namespace.toSeq
    val hasTables = listTables(namespace).nonEmpty ||
      boundNamespaces.exists(ns => ns.length > p.length &&
        ns.take(p.length) == p)
    if (hasTables && !cascade)
      throw new IllegalStateException(
        s"namespace ${p.mkString(".")} is not empty — DROP its tables " +
          "first (CASCADE over live tables is refused: dropping data " +
          "wholesale should be explicit, table by table)")
    if (hasTables)
      throw new UnsupportedOperationException(
        "DROP NAMESPACE CASCADE is refused on principle: drop the " +
          "tables explicitly, then the namespace")
    nsMarker(p).exists { mp =>
      val fs = metaFs(mp)
      scala.util.Try(fs.delete(mp, false)).getOrElse(false)
    }
  }

  /** Identifier → (path, version): a trailing `@vN` selects a committed
    * version (Delta-style time travel through the SQL surface:
    * `spark.table("txcat.\`/path@v2\`")`).
    *
    * `@vN` is a reserved suffix, resolved conservatively so it cannot
    * hijack a legitimate filesystem path that happens to end in it: the
    * LITERAL path is probed first, and only when no committed TxTable
    * lives there does the suffix strip into a time-travel read of the
    * base path. A directory named `snap@v3` that is itself a table
    * therefore reads (and accepts INSERTs) as `snap@v3`'s head, never as
    * `snap` pinned to version 3. */
  private def pathOf(ident: Identifier): (String, Option[Long]) = {
    val raw = resolveRaw((ident.namespace() :+ ident.name()).mkString("/"))
    val spark = SparkSession.active
    val m = "^(.*)@v(\\d+)$".r
    val t = "^(.*)@([A-Za-z0-9][A-Za-z0-9._-]*)$".r
    raw match {
      case m(p, v) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        (p, Some(v.toLong))
      // a NAMED TAG pin (`t@train-v1`): only when the literal path is
      // not itself a table, the base is, and the tag exists — the same
      // cannot-hijack guard as @vN
      case t(p, name) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        TxTable.tags(spark, p).get(name) match {
          case Some(v) => (p, Some(v))
          case None => (raw, None)
        }
      case _ => (raw, None)
    }
  }

  /** Resolve a `base@ref` PREFIX of a metadata-table name (`t@v3`,
    * `t@tag`, `t@branch.x`) to the builder's (table path, display name,
    * pinned-snapshot thunk); None when the ref does not resolve. Branch
    * wins over a tag literally named `branch.x`, matching the data-read
    * `@` precedence. */
  private def metaAtRef(spark: SparkSession, p: String)(
      build: (String, String, Option[() => TxTable.Snapshot]) => Table)
      : Option[Table] = {
    val bm = "^(.*)@branch\\.([A-Za-z0-9][A-Za-z0-9._-]*)$".r
    val vm = "^(.*)@v(\\d+)$".r
    val tm = "^(.*)@([A-Za-z0-9][A-Za-z0-9._-]*)$".r
    p match {
      case bm(b, name) if TxTable.isTxTable(spark, b) &&
          TxTable.branches(spark, b).contains(name) =>
        Some(build(b, p,
          Some(() => TxTable.branchSnapshot(spark, b, name))))
      case vm(b, v) if TxTable.isTxTable(spark, b) =>
        Some(build(b, p,
          Some(() => TxTable.snapshot(spark, b, Some(v.toLong)))))
      case tm(b, name) if TxTable.isTxTable(spark, b) &&
          TxTable.tags(spark, b).contains(name) =>
        val v = TxTable.tags(spark, b)(name)
        Some(build(b, p, Some(() => TxTable.snapshot(spark, b, Some(v)))))
      case _ => None
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    catDir match {
      case None => Array.empty
      case Some(d) =>
        val fs = metaFs(d)
        if (!scala.util.Try(fs.exists(d)).getOrElse(false)) Array.empty
        else fs.listStatus(d).toSeq.map(_.getPath.getName)
          .filter(_.endsWith(".tbl"))
          .map(_.stripSuffix(".tbl").split('.').toIndexedSeq.map(decSeg))
          .filter(segs => segs.length == namespace.length + 1 &&
            segs.take(namespace.length) == namespace.toIndexedSeq)
          .map(segs => Identifier.of(segs.dropRight(1).toArray, segs.last))
          .toArray
    }

  /** Declares CHECK-constraint DDL support so Spark routes
    * `ALTER TABLE ADD/DROP CONSTRAINT` (and CREATE TABLE with CHECK
    * clauses) through this catalog. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  override def loadTable(ident: Identifier): Table = {
    val spark = SparkSession.active
    // the reserved `#changes` suffix serves the row-level change feed
    // ([[TxChangesTable]]) — resolved with the same cannot-hijack guard
    // as `@vN`: the literal path wins if it is itself a table
    val raw = resolveRaw((ident.namespace() :+ ident.name()).mkString("/"))
    val ch = "^(.*)#changes$".r
    raw match {
      case ch(p) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        val head = TxTable.snapshot(spark, p)
        return new TxChangesTable(p, head,
          head.props.get(TxTable.RowTrackingProp).contains("true"))
      case _ => ()
    }
    // the reserved `#lineage` suffix serves ROW LINEAGE (data columns +
    // _row_id/_row_commit_version) — the SQL twin of readLineage; same
    // cannot-hijack guard
    val ln = "^(.*)#lineage$".r
    raw match {
      case ln(p) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        return new TxLineageTable(p)
      // `t@v3#lineage` / `t@tag#lineage` / `t@branch.x#lineage`: row
      // lineage AT a pinned snapshot or branch head — identities are
      // versioned facts, so auditing them at a tag must serve the tag's
      // anchors, not the head's
      case ln(p) if !TxTable.isTxTable(spark, raw) &&
          !TxTable.isTxTable(spark, p) =>
        metaAtRef(spark, p)((b, n, at) => new TxLineageTable(b, n, at))
          .foreach(t => return t)
      case _ => ()
    }
    // metadata system tables (`#files`, `#history`): manifest-only rows,
    // LocalTableScan plans, zero data I/O
    val mf = "^(.*)#files$".r
    val mh = "^(.*)#history$".r
    val mr = "^(.*)#refs$".r
    val mp = "^(.*)#partitions$".r
    raw match {
      case mf(p) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        return TxMetaTables.files(p)
      case mh(p) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        return TxMetaTables.history(p)
      case mr(p) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        return TxMetaTables.refs(p)
      case mp(p) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) =>
        return TxMetaTables.partitions(p)
      // `t@v3#partitions` / `t@tag#files` / `t@branch.x#partitions` …:
      // the same per-version manifest walk rendered at a pinned snapshot
      // or a branch head — zero data I/O, like every system table. Branch
      // resolution wins over a tag literally named `branch.x`, matching
      // the data-read `@` precedence above.
      case mp(p) if !TxTable.isTxTable(spark, raw) &&
          !TxTable.isTxTable(spark, p) =>
        metaAtRef(spark, p)(TxMetaTables.partitions(_, _, _))
          .foreach(t => return t)
      case mf(p) if !TxTable.isTxTable(spark, raw) &&
          !TxTable.isTxTable(spark, p) =>
        metaAtRef(spark, p)(TxMetaTables.files(_, _, _))
          .foreach(t => return t)
      case _ => ()
    }
    // the reserved `@wap.<id>` suffix serves the write-audit-publish
    // AUDIT view (head + the id's staged rows); same cannot-hijack
    // guard, and the id must actually have stagings
    val wp = "^(.*)@wap\\.([A-Za-z0-9][A-Za-z0-9._-]*)$".r
    raw match {
      case wp(p, id) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) &&
          TxTable.stagedIds(spark, p).contains(id) =>
        return new TxSparkTable(p, None, Some(id))
      case _ => ()
    }
    // the reserved `@branch.<name>` suffix serves a BRANCH head: readable
    // like a snapshot, APPENDABLE (inserts land as branch delta commits,
    // invisible on main until CALL publish_branch); same cannot-hijack
    // guard
    val br = "^(.*)@branch\\.([A-Za-z0-9][A-Za-z0-9._-]*)$".r
    raw match {
      case br(p, name) if !TxTable.isTxTable(spark, raw) &&
          TxTable.isTxTable(spark, p) &&
          TxTable.branches(spark, p).contains(name) =>
        return new TxSparkTable(p, None, None, Some(name))
      case _ => ()
    }
    val (path, version) = pathOf(ident)
    if (!TxTable.isTxTable(spark, path))
      throw new NoSuchTableException(ident)
    new TxSparkTable(path, version)
  }

  /** SQL `FOR VERSION AS OF` — a version number or a named tag
    * (`SELECT * FROM txcat.\`/t\` VERSION AS OF 'train-v1'`). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val spark = SparkSession.active
    val (path, pinned) = pathOf(ident)
    if (!TxTable.isTxTable(spark, path)) throw new NoSuchTableException(ident)
    require(pinned.isEmpty,
      s"$path already pins a version via its @ suffix; drop one of the " +
        "two time-travel clauses")
    val v =
      if (version.forall(_.isDigit) && version.nonEmpty) version.toLong
      else TxTable.tags(spark, path).getOrElse(version,
        throw new IllegalArgumentException(
          s"$path: no tag named '$version' (VERSION AS OF takes a " +
            "version number or a tag name)"))
    new TxSparkTable(path, Some(v))
  }

  /** SQL `FOR TIMESTAMP AS OF` — Spark hands micros since epoch; resolved
    * to the newest commit published at or before that instant via the log
    * files' own modification times ([[TxTable.versionAsOfTimestamp]]). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val spark = SparkSession.active
    val (path, pinned) = pathOf(ident)
    if (!TxTable.isTxTable(spark, path)) throw new NoSuchTableException(ident)
    require(pinned.isEmpty,
      s"$path already pins a version via its @ suffix; drop one of the " +
        "two time-travel clauses")
    new TxSparkTable(path, Some(TxTable.versionAsOfTimestamp(spark, path,
      Math.floorDiv(timestampMicros, 1000L))))
  }

  /** CREATE TABLE / CTAS: bootstraps a TxTable from pure SQL — an empty
    * version-0 manifest carrying the declared schema and the bucket
    * identity from the REQUIRED `PARTITIONED BY (bucket(n, key))`
    * transform (a TxTable without a bucket layout cannot exist: placement
    * is part of the table's identity). CTAS is create + the standard
    * catalog INSERT write; a failed CTAS write cleans up through
    * [[dropTable]], leaving nothing (data files were only staged). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val spark = SparkSession.active
    // a NAMED create claims its binding file FIRST (create-exclusive =
    // the CAS): exactly one of two racing `CREATE TABLE cat.db.t`
    // statements wins; the loser sees TableAlreadyExists. The binding's
    // content is the table path (LOCATION property or <wh>/<ns...>/<t>).
    if (isNamed(ident)) {
      val segs = (ident.namespace() :+ ident.name()).toIndexedSeq
      val bp = bindingPath(segs).get
      val fs = metaFs(bp)
      val loc = Option(properties.get(TableCatalog.PROP_LOCATION))
        .getOrElse((warehouse.get +: segs).mkString("/"))
      fs.mkdirs(bp.getParent)
      val claimed = scala.util.Try(TxTable.createExclusive(fs, bp.getParent,
        bp, loc.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        .getOrElse(false)
      if (!claimed)
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
      try return createTable(
        Identifier.of(Array.empty[String], loc), schema, partitions,
        properties)
      catch { case e: Throwable => fs.delete(bp, false); throw e }
    }
    val (path, _) = pathOf(ident)
    if (TxTable.isTxTable(spark, path))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    // layout grammar: exactly one REQUIRED bucket(n, key) transform (a
    // TxTable without a bucket layout cannot exist: placement is part of
    // the table's identity) plus at most one OPTIONAL temporal transform
    // — hours/days/months/years(col), the Iceberg hidden-partitioning
    // shape — in either order. The temporal layer adds a `part-<v>/`
    // path level above the buckets; scans prune it from predicates on
    // the SOURCE column, and day/month-boundary retention DELETEs become
    // metadata-only commits.
    def parseBucket(t: Transform): Option[(String, Int)] =
      if (t.name != "bucket") None
      else {
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType == IntegerType => l.value.asInstanceOf[Int]
        }
        val key = t.references.toSeq match {
          case Seq(r) if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
          case _ => None
        }
        (n, key) match {
          case (Some(nb), Some(k)) => Some((k, nb))
          case _ => throw new UnsupportedOperationException(
            s"unsupported bucket transform ${t.describe()}: expected " +
              "bucket(<int literal>, <single column>)")
        }
      }
    def parseField(t: Transform)
        : Option[graft.ops.PartitionTransforms.Field] =
      if (!graft.ops.PartitionTransforms.Fns(t.name)) None
      else t.references.toSeq match {
        case Seq(r) if r.fieldNames.length == 1 =>
          Some(graft.ops.PartitionTransforms
            .Field(t.name, r.fieldNames()(0)))
        case _ => throw new UnsupportedOperationException(
          s"unsupported transform ${t.describe()}: expected " +
            s"${t.name}(<single column>)")
      }
    val buckets = partitions.flatMap(parseBucket)
    // declared order is the FIELD order: `PARTITIONED BY (days(ts),
    // identity(region), bucket(n, key))` nests region under day in the
    // file layout (and a bare column name is identity, per Spark DDL)
    val fields = partitions.flatMap(parseField).toIndexedSeq
    val layoutOk = buckets.length == 1 &&
      buckets.length + fields.length == partitions.length
    if (!layoutOk)
      throw new UnsupportedOperationException(
        "a TxTable is DEFINED by its bucket layout: declare " +
          "PARTITIONED BY (bucket(n, key)) with optional hidden-" +
          "partition transforms hours|days|months|years|identity(col) " +
          s"(got ${partitions.map(_.describe()).mkString("[", ", ", "]")})")
    val bucketing: (String, Int) = buckets.head
    val temporal =
      if (fields.isEmpty) None
      else Some(graft.ops.PartitionTransforms.Spec(fields))
    temporal.foreach(spec =>
      graft.ops.PartitionTransforms.validate(spec, schema))
    // user TBLPROPERTIES persist in the log; Spark's reserved/engine
    // keys (provider, location, owner, …) describe the catalog entry,
    // not the table, and stay out
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_TABLE_TYPE,
      TableCatalog.PROP_COLLATION, TableCatalog.PROP_IS_MANAGED_LOCATION,
      "path")
    val userProps = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap.filter { case (k, _) =>
        !reserved(k) && !k.startsWith(TableCatalog.OPTION_PREFIX) &&
          !k.startsWith(TxTable.ConstraintPrefix)
      }
    }
    require(!userProps.contains(graft.ops.PartitionTransforms.Prop) &&
        !userProps.contains(graft.ops.PartitionTransforms.SpecsProp),
      s"${graft.ops.PartitionTransforms.Prop} is engine-managed: declare " +
        "the transform in PARTITIONED BY, not TBLPROPERTIES")
    TxTable.create(spark, path, schema, bucketing._1, bucketing._2,
      props = userProps ++ temporal.map(s =>
        graft.ops.PartitionTransforms.Prop -> s.render))
    new TxSparkTable(path)
  }

  /** CREATE TABLE with inline CHECK constraints (the [[TableInfo]]
    * overload Spark calls when the DDL declares constraints): create,
    * then commit each constraint — the table is empty, so only a
    * resolution probe runs, no validation scan. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    // GENERATED ALWAYS AS expressions ride the V2 Column objects, not
    // the converted StructType — stamp them into field metadata (the
    // same GENERATION_EXPRESSION convention Spark's own utilities read)
    // so the log records them and every writer computes them
    val schema = StructType(info.schema().fields.zip(info.columns())
      .map { case (f, c) =>
        Option(c.generationExpression()) match {
          case Some(ge) =>
            f.copy(metadata = new org.apache.spark.sql.types
              .MetadataBuilder().withMetadata(f.metadata)
              .putString(TxGeneratedCols.Key, ge).build())
          case None => f
        }
      })
    val t = createTable(ident, schema, info.partitions(),
      info.properties())
    if (info.constraints().nonEmpty) {
      val (path, _) = pathOf(ident)
      val spark = SparkSession.active
      try {
        info.constraints().foreach {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            TxTable.addConstraint(spark, path, c.name(),
              Option(c.predicateSql()).getOrElse(
                throw new UnsupportedOperationException(
                  s"CHECK constraint '${c.name()}' carries no SQL " +
                    "predicate")),
              validate = false)
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are supported on a TxTable (got " +
              s"${other.toDDL})")
        }
      } catch {
        case scala.util.control.NonFatal(e) => dropTable(ident); throw e
      }
      new TxSparkTable(path)
    } else t
  }

  /** Schema evolution as DDL — ONE schema-only manifest commit, zero
    * data files touched (the Delta/Iceberg metadata-evolution shape):
    *
    *   - ADD COLUMN: nullable top-level columns append to the schema;
    *     files committed before the change simply project the new column
    *     as NULL (explicit-schema parquet reads fill missing columns).
    *   - DROP COLUMN: the column leaves the schema; the bytes stay in
    *     old files and readers project around them. The bucket KEY
    *     cannot drop — it is the table's layout identity.
    *
    * Everything else (renames would orphan old files' name-based
    * columns; type changes would need per-file casts) refuses loudly.
    * New columns can equivalently ride data commits (union evolution on
    * write); type changes are unsupported everywhere — mergeSchemas
    * enforces exact type equality per column. Time travel keeps each
    * version's own schema. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val (path, version) = pathOf(ident)
    require(version.isEmpty,
      s"cannot ALTER time-travel snapshot $path@v${version.get}")
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a widened column's BLOOM sidecar is poisoned, not merely stale:
    // blooms store xxhash64(value) and catalyst hashes an INT and a LONG
    // of the same value differently, so a post-widening probe would read
    // false negatives (WRONG pruning, not over-keep). Drop the sidecar
    // BEFORE the commit (no-bloom is always sound) and rebuild it after
    // under the widened schema — a crash anywhere between leaves only the
    // sound no-bloom state. Zone-map sidecars keep VALUES, which compare
    // correctly across widths via coercion, so they stay.
    val widenedPhys: Seq[String] = changes.collect {
      case ut: org.apache.spark.sql.connector.catalog.TableChange
          .UpdateColumnType if ut.fieldNames.length == 1 =>
        TxTable.snapshot(spark, path).physicalName(ut.fieldNames()(0))
    }
    val bloomed = if (widenedPhys.isEmpty) Seq.empty
      else TxTable.bloomColumns(fs, path).filter(widenedPhys.contains)
    bloomed.foreach(c => TxTable.dropBloom(spark, path, c))
    var attempt = 0
    var done = false
    while (!done && attempt <= 5) {
      val snap = TxTable.snapshot(spark, path)
      val cur = snap.schema.getOrElse(throw new IllegalStateException(
        s"$path carries no recorded schema (pre-v2 manifest) — cannot ALTER"))
      val (next, nextDropped, nextProps, nextRenames) =
        changes.foldLeft((cur, snap.dropped, snap.props, snap.renames))(
          TxAlterSchema.apply(spark, path, snap, _, _))
      done = (next == cur && nextDropped == snap.dropped &&
          nextProps == snap.props && nextRenames == snap.renames) ||
        TxTable.commitNext(fs, path, snap,
          adds = Seq.empty, removes = Set.empty, txn = None,
          schema = Some(next), bucketing = snap.bucketing,
          dropped = Some(nextDropped), props = Some(nextProps),
          renames = Some(nextRenames))
      attempt += 1
    }
    if (!done)
      throw new java.util.ConcurrentModificationException(
        s"$path: ALTER TABLE lost the commit race 6 times")
    // rebuild dropped blooms under the widened schema (hashes now wide);
    // best-effort: a failure leaves the sound no-bloom state
    bloomed.foreach { c =>
      try { TxTable.computeBloom(spark, path, c); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    new TxSparkTable(path)
  }

  /** DROP TABLE: deletes the commit log and data directories (also the
    * CTAS failure-cleanup hook). Time-travel identifiers refuse loudly —
    * Spark's DropTableExec ignores the boolean return, so a silent
    * `false` would report success without dropping anything. */
  override def dropTable(ident: Identifier): Boolean = {
    val (path, version) = pathOf(ident)
    if (version.isDefined)
      throw new UnsupportedOperationException(
        s"cannot DROP time-travel snapshot $path@v${version.get}: drop " +
          "the table head (or vacuum old versions) instead")
    val dropped = TxTable.drop(SparkSession.active, path)
    if (isNamed(ident))
      bindingPath((ident.namespace() :+ ident.name()).toIndexedSeq)
        .foreach(bp => metaFs(bp).delete(bp, false))
    dropped
  }

  /** RENAME: a NAMED table renames by moving its binding file (one
    * filesystem rename — data untouched, the path stays the table's
    * storage identity); a rename onto an existing name refuses.
    * Path-addressed tables keep the path-IS-identity contract. */
  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    if (isNamed(oldIdent) && isNamed(newIdent)) {
      val oldBp = bindingPath(
        (oldIdent.namespace() :+ oldIdent.name()).toIndexedSeq).get
      val newBp = bindingPath(
        (newIdent.namespace() :+ newIdent.name()).toIndexedSeq).get
      val fs = metaFs(oldBp)
      if (!fs.exists(oldBp))
        throw new NoSuchTableException(oldIdent)
      if (fs.exists(newBp))
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(newIdent)
      if (!fs.rename(oldBp, newBp))
        throw new IllegalStateException(
          s"rename ${oldIdent} -> ${newIdent} lost a race; retry")
      return
    }
    throw new UnsupportedOperationException(
      "RENAME is unsupported on a path-addressed TxTable: the " +
        "filesystem path IS the table's identity (move the directory " +
        "to rename, or address tables by NAME via the catalog's " +
        "warehouse option)")
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  /** Maintenance as SQL: `CALL txspj.compact('/path')` and friends —
    * see [[TxProcedures]]. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    TxProcedures.names.map(n => Identifier.of(namespace, n)).toArray

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val p = TxProcedures.load(ident.name()).getOrElse(
      throw new UnsupportedOperationException(
        s"unknown procedure '${ident.name()}' — available: " +
          TxProcedures.names.mkString(", ")))
    // with a metastore, EVERY table-reference argument may be a NAME —
    // `table` and `source` route through the same resolver loadTable
    // uses (suffixes included); clone's `target` is a table that does
    // not exist yet, so a NAME there CLAIMS a fresh binding at the
    // default location (exactly the CREATE TABLE rule), undone if the
    // clone itself then fails
    if (warehouse.isEmpty) p
    else TxProcedures.resolved(p, (param, v) => param match {
      case "table" | "source" => TxProcedures.ResolvedArg(resolveRaw(v))
      case "target" if p.name() == "clone" => bindCloneTarget(v)
      case "target" => TxProcedures.ResolvedArg(resolveRaw(v))
      case _ => TxProcedures.ResolvedArg(v)
    })
  }

  /** Resolve clone's TARGET: an absolute path or scheme'd URI passes
    * through (path-is-identity, unchanged); a NAME resolves through the
    * metastore if already bound (re-cloning over an existing name is
    * the kernel's own refusal to make), else claims a fresh binding at
    * the CREATE TABLE default location `<wh>/<segs…>` — create-
    * exclusive, so two racing `CALL clone(…, 'db.b')` cannot both win —
    * and hands back an UNDO that releases the claim if the clone fails. */
  private def bindCloneTarget(raw: String): TxProcedures.ResolvedArg = {
    if (raw.startsWith("/") ||
        raw.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*"))
      return TxProcedures.ResolvedArg(raw)
    val r = resolveRaw(raw)
    if (r != raw) return TxProcedures.ResolvedArg(r)
    val segs = (if (raw.contains('/')) raw.split('/')
                else raw.split('.')).toIndexedSeq
    val bp = bindingPath(segs).get
    val fs = metaFs(bp)
    val loc = (warehouse.get +: segs).mkString("/")
    fs.mkdirs(bp.getParent)
    val claimed = scala.util.Try {
      val out = fs.create(bp, false) // overwrite=false: the CAS
      out.write(loc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      true
    }.getOrElse(false)
    if (!claimed)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Identifier.of(segs.dropRight(1).toArray, segs.last))
    TxProcedures.ResolvedArg(loc,
      Some(() => { fs.delete(bp, false); () }))
  }
}

/** The TableChange → (schema, tombstones) kernel behind
  * [[TxTableCatalog.alterTable]] — re-derived from the fresh snapshot on
  * every CAS attempt.
  *
  * DROP COLUMN leaves the column's bytes in retained data files and
  * records the name as a TOMBSTONE in the commit: union-evolution
  * writers ([[TxTable.mergeSchemas]]) skip tombstoned names, so a
  * pre-drop writer's next batch cannot silently revert the DROP and
  * resurrect the stored values. ADD COLUMN reads live files' parquet
  * FOOTERS (O(files), DDL-time) and refuses while any still carries the
  * name — re-using it would surface the old bytes as the "new" column
  * (or brick reads on a type mismatch); once compaction/purge has
  * rewritten them, the ADD succeeds and clears the tombstone. */
private[sources] object TxAlterSchema {
  import org.apache.spark.sql.connector.catalog.TableChange._
  import org.apache.spark.sql.connector.catalog.constraints.{Check => V2Check}

  /** Column names a CHECK predicate references (top-level). */
  private def constraintRefs(sql: String): Seq[String] =
    SparkSession.active.sessionState.sqlParser.parseExpression(sql).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.nameParts.head
    }.distinct

  def apply(spark: SparkSession, path: String, snap: TxTable.Snapshot,
            state: (StructType, Set[String], Map[String, String],
              Map[String, String]),
            change: TableChange)
      : (StructType, Set[String], Map[String, String],
         Map[String, String]) = {
    // `schema`/`dropped` are PHYSICAL (stored names); `renames` maps the
    // user-facing LOGICAL name of each renamed column to its physical
    // birth name; every incoming TableChange speaks LOGICAL names
    val (schema, dropped, props, renames) = state
    def physOf(logical: String): String = renames.getOrElse(logical, logical)
    def logicalOf(physical: String): String =
      renames.collectFirst { case (l, p) if p == physical => l }
        .getOrElse(physical)
    change match {
      case set: SetProperty =>
        require(!set.property.startsWith(TxTable.ConstraintPrefix),
          s"'${TxTable.ConstraintPrefix}*' properties are managed by " +
            "ALTER TABLE ADD/DROP CONSTRAINT (they validate data; a raw " +
            "SET TBLPROPERTIES would not)")
        require(set.property != graft.ops.PartitionTransforms.SpecsProp,
          s"${graft.ops.PartitionTransforms.SpecsProp} is the engine's " +
            "append-only spec history — evolve the transform by SETting " +
            s"${graft.ops.PartitionTransforms.Prop} instead")
        require(set.property != TxTable.RowTrackingProp &&
            set.property != TxTable.RowWatermarkProp,
          s"${set.property} is managed by CALL enable_row_tracking " +
            "(enabling must BACKFILL base row ids for every live file " +
            "in the same commit; a raw SET would leave files without " +
            "identity)")
        require(set.property != TxTable.EqDeletesProp,
          s"${TxTable.EqDeletesProp} is the engine's equality-delete " +
            "registry — deletes register through deleteWhereEq / the " +
            "CDC sink and fold through CALL fold_eq_deletes")
        if (set.property == graft.ops.PartitionTransforms.Prop) {
          // PARTITION-SPEC EVOLUTION (the Iceberg v2 feature): SETting
          // the transform records a NEW spec for FUTURE commits — one
          // property commit, zero files touched. Existing files keep
          // their original `part-<v>/` envelopes and are pruned under
          // the spec that placed them (the `spec-<sid>/` path level
          // stamps post-evolution generations); partition-addressed
          // maintenance refuses slices the generations disagree on.
          // The user writes LOGICAL column names; the history stores
          // PHYSICAL (rename-stable) ones.
          val spec = graft.ops.PartitionTransforms.Spec(
            graft.ops.PartitionTransforms.parse(set.value).fields
              .map(f => f.copy(column = physOf(f.column))))
          graft.ops.PartitionTransforms.validate(spec, schema)
          val hist = graft.ops.PartitionTransforms.history(props)
            .map(_.render) match {
            case h if h.nonEmpty => h
            // a table born unpartitioned: its segment-free files are
            // generation 0 (`none`), the new spec becomes sid 1
            case _ => IndexedSeq(graft.ops.PartitionTransforms.NoneRender)
          }
          require(hist.last != spec.render,
            s"$path: ${spec.render} is already the head partition spec")
          (schema, dropped, props +
            (graft.ops.PartitionTransforms.Prop -> spec.render) +
            (graft.ops.PartitionTransforms.SpecsProp ->
              (hist :+ spec.render).mkString("|")), renames)
        } else
          (schema, dropped, props + (set.property -> set.value), renames)
      case unset: RemoveProperty =>
        require(!unset.property.startsWith(TxTable.ConstraintPrefix),
          s"'${TxTable.ConstraintPrefix}*' properties are managed by " +
            "ALTER TABLE ADD/DROP CONSTRAINT")
        require(unset.property != graft.ops.PartitionTransforms.Prop &&
            unset.property != graft.ops.PartitionTransforms.SpecsProp,
          s"${graft.ops.PartitionTransforms.Prop} cannot be UNSET: the " +
            "spec history interprets existing files' envelopes — evolve " +
            "it by SETting a new transform instead")
        require(unset.property != TxTable.RowTrackingProp &&
            unset.property != TxTable.RowWatermarkProp,
          s"${unset.property} cannot be UNSET: the id watermark is what " +
            "keeps every allocated _row_id unique for the table's " +
            "lifetime — a later re-enable would re-allocate from 0 and " +
            "collide with ids already materialized in rewritten files")
        require(unset.property != TxTable.EqDeletesProp,
          s"${TxTable.EqDeletesProp} cannot be UNSET: dropping the " +
            "registry would resurrect every equality-deleted row — " +
            "fold it with CALL fold_eq_deletes instead")
        (schema, dropped, props - unset.property, renames)
      case ac: AddConstraint =>
        val check = ac.constraint() match {
          case c: V2Check => c
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are supported on a TxTable (got " +
              s"${other.toDDL}): PRIMARY KEY/UNIQUE/FOREIGN KEY cannot " +
              "be enforced at write time without a global index")
        }
        val key = TxTable.ConstraintPrefix + check.name()
        require(!props.contains(key),
          s"$path: constraint '${check.name()}' already exists")
        // Spark's ADD CONSTRAINT exec validates existing rows and stamps
        // the version it validated; only an unstamped change (a direct
        // API caller) pays the validation scan here
        val sql = Option(check.predicateSql()).getOrElse(
          throw new UnsupportedOperationException(
            s"CHECK constraint '${check.name()}' carries no SQL predicate"))
        if (ac.validatedTableVersion() == null) {
          import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
          val bad = TxTable.read(spark, path)
            .filter(not(coalesce(expr(sql), lit(true)))).limit(1).count()
          require(bad == 0,
            s"$path: cannot add constraint '${check.name()}': existing " +
              s"rows violate CHECK ($sql)")
        }
        (schema, dropped, props + (key -> sql), renames)
      case dc: DropConstraint =>
        val key = TxTable.ConstraintPrefix + dc.name()
        require(props.contains(key) || dc.ifExists(),
          s"$path: no constraint named '${dc.name()}'")
        (schema, dropped, props - key, renames)
      case add: AddColumn =>
        require(add.fieldNames.length == 1,
          s"ALTER TABLE ADD COLUMN supports top-level columns only, got " +
            add.fieldNames.mkString("."))
        require(add.position() == null,
          "ALTER TABLE ADD COLUMN ... FIRST/AFTER is unsupported on a " +
            "TxTable (columns append; reorder with a SELECT)")
        val name = add.fieldNames()(0)
        // collisions check BOTH name spaces: the logical (what users see)
        // and the physical (what the new column's bytes would be stored
        // as — colliding with a renamed column's birth name would make
        // two logical columns share one stored field)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)) &&
            !renames.keys.exists(_.equalsIgnoreCase(name)),
          s"column '$name' already exists in $path")
        require(add.isNullable,
          s"new column '$name' must be nullable: rows committed before " +
            "the change can only read it as NULL")
        TxTable.liveFilesCarrying(spark, path, snap, name).foreach { rel =>
          throw new IllegalArgumentException(
            s"cannot add column '$name': live data files (e.g. $rel) " +
              "still carry stored bytes under that name (from a dropped " +
              "column or a union-evolution writer) — reading them back " +
              "as the new column would resurrect old values. CALL " +
              "compact/purge_deletes to rewrite them first, or pick a " +
              "fresh name.")
        }
        // DEFAULT values ride Spark's own column-metadata convention
        // (CURRENT_DEFAULT fills INSERTs that omit the column at write
        // analysis; EXISTS_DEFAULT fills the column when a stored file
        // PREDATES it at read time — the parquet readers apply it
        // natively from the requested schema's metadata). The metadata
        // persists in the manifest's schema JSON, so every version
        // carries its own defaults. An ignored default would be
        // silent-wrong (old rows reading NULL where the DDL promised a
        // value) — this either honors it or refuses.
        val md = Option(add.defaultValue()) match {
          case None => org.apache.spark.sql.types.Metadata.empty
          case Some(dv) =>
            val sql = Option(dv.getSql).getOrElse(
              throw new UnsupportedOperationException(
                s"column '$name': only SQL-literal DEFAULTs are " +
                  "supported on a TxTable"))
            val exists = org.apache.spark.sql.catalyst.expressions
              .Literal(dv.getValue.value, dv.getValue.dataType).sql
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("CURRENT_DEFAULT", sql)
              .putString("EXISTS_DEFAULT", exists)
              .build()
        }
        val f = org.apache.spark.sql.types.StructField(name, add.dataType(),
          nullable = true, metadata = md)
        // keep the internal layout column last (writer convention)
        val (data, layout) = schema.fields.partition(
          _.name != graft.ops.LayoutOps.BucketCol)
        // tombstones clear case-insensitively (they block that way too)
        (StructType(data ++ Array(f) ++ layout),
          dropped.filterNot(_.equalsIgnoreCase(name)), props, renames)
      case del: DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"ALTER TABLE DROP COLUMN supports top-level columns only, got " +
            del.fieldNames.mkString("."))
        val name = del.fieldNames()(0)
        val phys = physOf(name)
        val exists = schema.fieldNames.contains(phys) &&
          logicalOf(phys) == name
        if (!exists) {
          require(del.ifExists, s"column '$name' does not exist in $path")
          state
        } else {
          snap.bucketing.foreach { case (key, _) =>
            require(phys != key,
              s"cannot drop '$name': it is the bucket key — the table's " +
                "layout identity (rebucket to a different key first)")
          }
          require(phys != graft.ops.LayoutOps.BucketCol,
            s"cannot drop the internal layout column $name")
          graft.ops.PartitionTransforms.of(props).foreach { spec =>
            spec.fields.foreach(f => require(phys != f.column,
              s"cannot drop '$name': it is a hidden-partition source " +
                s"(${f.render}) of the HEAD spec — evolve the partition " +
                "transform away from it first"))
          }
          // a GENERATED column referencing the dropped name would
          // compute from a phantom forever — refuse (dropping the
          // generated column ITSELF is fine: the expression dies with it)
          schema.fields.filter(f => f.name != phys &&
              f.metadata.contains(TxGeneratedCols.Key)).foreach { g =>
            if (TxGeneratedCols.referencedBy(spark,
                g.metadata.getString(TxGeneratedCols.Key))
                .exists(_.equalsIgnoreCase(name)))
              throw new IllegalArgumentException(
                s"cannot drop '$name': GENERATED column " +
                  s"'${logicalOf(g.name)}' computes from it — drop the " +
                  "generated column first")
          }
          require(schema.fields.count(
            _.name != graft.ops.LayoutOps.BucketCol) > 1,
            s"cannot drop '$name': it is the last data column")
          // a CHECK constraint referencing the column would silently
          // stop meaning anything (the reference reads NULL forever) —
          // refuse, the Delta posture
          props.collect {
            case (k, sql) if k.startsWith(TxTable.ConstraintPrefix) &&
                constraintRefs(sql).exists(_.equalsIgnoreCase(name)) =>
              k.stripPrefix(TxTable.ConstraintPrefix)
          }.toSeq.sorted.headOption.foreach { cn =>
            throw new IllegalArgumentException(
              s"cannot drop '$name': CHECK constraint '$cn' references " +
                "it — drop the constraint first")
          }
          // the tombstone guards the STORED bytes, so it is physical;
          // the rename-map entry (if any) dies with the column
          (StructType(schema.fields.filterNot(_.name == phys)),
            dropped + phys, props, renames - name)
        }
      case rn: RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"ALTER TABLE RENAME COLUMN supports top-level columns only, " +
            s"got ${rn.fieldNames.mkString(".")}")
        // generation expressions store LOGICAL references as SQL text;
        // renaming a referenced column would dangle them
        schema.fields.filter(_.metadata.contains(TxGeneratedCols.Key))
          .foreach { g =>
            if (TxGeneratedCols.referencedBy(spark,
                g.metadata.getString(TxGeneratedCols.Key))
                .exists(_.equalsIgnoreCase(rn.fieldNames()(0))))
              throw new IllegalArgumentException(
                s"cannot rename '${rn.fieldNames()(0)}': GENERATED " +
                  s"column '${logicalOf(g.name)}' computes from it")
          }
        // delegate to the one shared kernel (the Scala API path) — the
        // fold state stands in for the snapshot so multi-change ALTERs
        // validate against their own earlier changes
        val view = TxTable.Snapshot(snap.version, Seq.empty,
          schema = Some(schema), bucketing = snap.bucketing,
          dropped = dropped, props = props, renames = renames)
        (schema, dropped, props,
          TxTable.renamedMap(path, view, rn.fieldNames()(0), rn.newName()))
      case un: UpdateColumnNullability =>
        require(un.fieldNames.length == 1,
          s"ALTER COLUMN … SET/DROP NOT NULL supports top-level columns " +
            s"only, got ${un.fieldNames.mkString(".")}")
        val name = un.fieldNames()(0)
        val phys = physOf(name)
        val f = schema.fields.find(_.name == phys).getOrElse(
          throw new IllegalArgumentException(
            s"column '$name' does not exist in $path"))
        require(phys != graft.ops.LayoutOps.BucketCol,
          s"cannot change nullability of the internal layout column")
        if (f.nullable == un.nullable()) state
        else {
          if (!un.nullable()) {
            // SET NOT NULL must PROVE the claim before recording it:
            // one bounded validation scan (the ADD CONSTRAINT shape) —
            // a violating row refuses the DDL, because readers and the
            // optimizer will believe the nullability from then on
            val bad = TxTable.read(spark, path)
              .filter(org.apache.spark.sql.functions.col(s"`$name`")
                .isNull).limit(1).count()
            require(bad == 0,
              s"$path: cannot SET NOT NULL on '$name': existing rows " +
                "hold NULL")
          }
          (StructType(schema.fields.map(x =>
            if (x.name == phys) x.copy(nullable = un.nullable()) else x)),
            dropped, props, renames)
        }
      case ud: UpdateColumnDefaultValue =>
        require(ud.fieldNames.length == 1,
          s"ALTER COLUMN … SET/DROP DEFAULT supports top-level columns " +
            s"only, got ${ud.fieldNames.mkString(".")}")
        val name = ud.fieldNames()(0)
        val phys = physOf(name)
        val f = schema.fields.find(_.name == phys).getOrElse(
          throw new IllegalArgumentException(
            s"column '$name' does not exist in $path"))
        // SET DEFAULT changes only FUTURE inserts (CURRENT_DEFAULT);
        // the exists-default — what pre-column files read — was frozen
        // when the column was added and never moves (the SQL-standard
        // and Delta semantics: a new default must not rewrite history)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        val md = Option(ud.newCurrentDefault()) match {
          case Some(dv) => mb.putString("CURRENT_DEFAULT",
            Option(dv.getSql).getOrElse(
              throw new UnsupportedOperationException(
                s"column '$name': only SQL-literal DEFAULTs are " +
                  "supported on a TxTable"))).build()
          case None => mb.remove("CURRENT_DEFAULT").build()
        }
        (StructType(schema.fields.map(x =>
          if (x.name == phys) x.copy(metadata = md) else x)),
          dropped, props, renames)
      case ut: UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          s"ALTER TABLE ALTER COLUMN … TYPE supports top-level columns " +
            s"only, got ${ut.fieldNames.mkString(".")}")
        // type drift would silently change (or break) what a generation
        // expression computes — refuse on the generated column and on
        // any column it references
        schema.fields.filter(_.metadata.contains(TxGeneratedCols.Key))
          .foreach { g =>
            val target = ut.fieldNames()(0)
            if (logicalOf(g.name).equalsIgnoreCase(target) ||
                TxGeneratedCols.referencedBy(spark,
                  g.metadata.getString(TxGeneratedCols.Key))
                  .exists(_.equalsIgnoreCase(target)))
              throw new IllegalArgumentException(
                s"cannot change the type of '$target': it is (or feeds) " +
                  s"GENERATED column '${logicalOf(g.name)}'")
          }
        val name = ut.fieldNames()(0)
        val phys = physOf(name)
        val f = schema.fields.find(_.name == phys).getOrElse(
          throw new IllegalArgumentException(
            s"column '$name' does not exist in $path"))
        require(phys != graft.ops.LayoutOps.BucketCol,
          s"cannot retype the internal layout column $name")
        // the bucket key's file placement is pmod(xxhash64(key), n), and
        // catalyst's xxhash64 hashes an INT and a LONG of the same value
        // DIFFERENTLY — a widened key would silently stop matching every
        // existing file's placement. Refuse; rebucket is the migration.
        snap.bucketing.foreach { case (key, _) =>
          require(phys != key,
            s"cannot widen '$name': it is the bucket key, and xxhash64 " +
              "placement is width-sensitive (an INT 5 and a LONG 5 hash " +
              "to different buckets) — rebucket to migrate the layout")
        }
        require(graft.ops.TxTable.canWiden(f.dataType, ut.newDataType()),
          s"unsupported type change ${f.dataType.sql} -> " +
            s"${ut.newDataType().sql} on '$name': only value-preserving " +
            "widenings are metadata-only (TINYINT/SMALLINT/INT -> BIGINT " +
            "or DOUBLE, FLOAT -> DOUBLE, DECIMAL precision growth at " +
            "equal scale) — narrowing or lossy changes would corrupt " +
            "stored values and refuse")
        (StructType(schema.fields.map(x =>
          if (x.name == phys) x.copy(dataType = ut.newDataType()) else x)),
          dropped, props, renames)
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE ${other.getClass.getSimpleName} is unsupported " +
            "on a TxTable: type changes beyond safe widening would need " +
            "per-file casts — new columns can also ride data commits " +
            "(union evolution)")
    }
  }
}

/** A committed TxTable snapshot as a readable + appendable V2 table
  * (optionally pinned to a time-travel `version`). Requires the commit
  * log to carry schema and bucket identity (manifest v2+, which every
  * writer in this repo records). The layout's internal bucket column is
  * HIDDEN from the SQL schema (readers project around it; INSERT
  * computes it per row), like a partition transform column. */
final class TxSparkTable(path: String, version: Option[Long] = None,
                         wap: Option[String] = None,
                         branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with TruncatableTable with SupportsDelete {
  /** True iff this relation is the MAIN table head — not a `@vN`/tag
    * time-travel pin, a `@wap.x` audit view, or a `@branch.x` head.
    * Resolution already decided this (the cannot-hijack probes in
    * [[TxTableCatalog.loadTable]]), so asking the loaded table is exact
    * where re-parsing the rendered identifier is not: a filesystem path
    * legitimately containing `@` stays eligible for INSERT evolution. */
  private[sources] def isMainHead: Boolean =
    version.isEmpty && wap.isEmpty && branch.isEmpty
  private val snap = {
    // a branch identifier resolves the BRANCH head (base + branch
    // deltas); reads pin like a snapshot, inserts land branch deltas
    val base = branch match {
      case Some(b) =>
        require(version.isEmpty && wap.isEmpty,
          s"$path@branch.$b cannot also pin a version or WAP id")
        TxTable.branchSnapshot(SparkSession.active, path, b)
      case None => TxTable.snapshot(SparkSession.active, path, version)
    }
    wap match {
      case None => base
      // the AUDIT view of a staged (write-audit-publish) commit: head
      // plus the id's staged adds, schema union-evolved — exactly what
      // the table becomes after CALL publish_staged. Read-only.
      case Some(id) =>
        val (adds, schemas, _) =
          TxTable.stagedAdds(SparkSession.active, path, id)
        require(adds.nonEmpty || schemas.nonEmpty,
          s"$path: nothing staged under WAP id '$id' (have: " +
            s"${TxTable.stagedIds(SparkSession.active, path)
              .mkString(", ")})")
        val sc = schemas.foldLeft(
          base.schema.getOrElse(new StructType()))(
          (acc, x) => TxTable.mergeSchemas(acc, x, base.dropped))
        base.copy(entries = base.entries ++ adds, schema = Some(sc))
    }
  }
  private val fullSchema: StructType = snap.schema.getOrElse(
    throw new IllegalStateException(
      s"$path@v${snap.version} has no recorded schema — pre-v2 manifests " +
        "cannot be served through the SQL catalog"))
  /** PHYSICAL schema (stored field names) — what internals (file reads,
    * sidecars, bucket identity) operate on. */
  private val dataSchema: StructType =
    StructType(fullSchema.filterNot(_.name == graft.ops.LayoutOps.BucketCol))
  /** LOGICAL schema (column-mapping renames applied) — what SQL sees.
    * Positionally identical to [[dataSchema]], names only. */
  private val logicalDataSchema: StructType =
    StructType(dataSchema.fields.map(f =>
      f.copy(name = snap.logicalName(f.name))))
  private[sources] val bucketing: (String, Int) = snap.bucketing.getOrElse(
    throw new IllegalStateException(
      s"$path@v${snap.version} records no bucket identity — rewrite once " +
        "with a current writer to serve it through the SQL catalog"))

  override def name(): String = path
  override def schema(): StructType = logicalDataSchema

  /** The layout bucket as a METADATA column (the `_partition`/`_spec_id`
    * pattern): hidden from `SELECT *`, selectable by name for layout
    * debugging, and — the load-bearing part — the metadata attribute the
    * row-level operations REQUIRE, which keeps Spark's COW rewrite on the
    * projecting write path (matched/copied rows carry their metadata;
    * without a required metadata column Spark's ReplaceData hands the
    * writer raw MergeRows output). */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftBucketMetadataColumn, GraftFileMetadataColumn,
      GraftPosMetadataColumn)

  /** With `spark.graft.sql.schema.autoMerge=true` (default false — the
    * Delta `autoMerge` shape) the table additionally advertises
    * AUTOMATIC_SCHEMA_EVOLUTION, which lets Spark's native
    * `MERGE WITH SCHEMA EVOLUTION INTO` route the source's new columns
    * through [[TxTableCatalog.alterTable]] (one ADD COLUMN metadata
    * commit) before the merge plans — old files project the new column
    * as NULL, time travel keeps each version's own schema. Deliberately
    * NOT ACCEPT_ANY_SCHEMA (spec-proven to break plain MERGE's condition
    * resolution): INSERT-side evolution instead pre-widens the table via
    * [[TxAutoMergeInsertRule]], which intercepts the still-unconverted
    * InsertIntoStatement, alters the table, and reloads the relation —
    * so Spark's stock output resolution (arity checks, by-name matching,
    * casts, default fill) still runs untouched. */
  override def capabilities(): util.Set[TableCapability] = {
    val base = util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
    if (TxAutoMerge.enabled(SparkSession.active))
      base.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    base
  }

  /** Manifest-derived metadata for `SHOW TBLPROPERTIES` / `DESCRIBE
    * EXTENDED` — the DESCRIBE DETAIL surface: version, layout identity,
    * live file count, exact row count when every live file recorded one,
    * and which columns carry zone-map sidecars. All O(manifest) driver
    * metadata; no data file is opened. */
  /** The table's CHECK constraints, rebuilt from the log's property map.
    * Reporting them `enforced` is what makes Spark's analyzer add the
    * native per-row CheckInvariant to every DSv2 write over this table
    * (INSERT, MERGE, the streaming sink) — the SQL paths get write-time
    * enforcement without this connector touching the plan. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    TxTable.constraintsOf(snap).toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    // user properties first; derived manifest metadata wins on collision
    snap.props.foreach { case (k, v) => m.put(k, v) }
    m.put("format", "graft-txtable")
    m.put("version", snap.version.toString)
    m.put("bucket.key", snap.logicalName(bucketing._1))
    m.put("bucket.count", bucketing._2.toString)
    m.put("files", snap.entries.size.toString)
    val counts = snap.entries.map(_.liveRows)
    if (counts.forall(_.isDefined))
      m.put("rows", counts.flatten.sum.toString)
    val ndel = snap.entries.flatMap(_.dv).map(_.ndel).sum
    if (ndel > 0) m.put("rows.deleted", ndel.toString)
    scala.util.Try {
      val fs = new Path(path).getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      (TxTable.statsColumns(fs, path).sorted,
        TxTable.bloomColumns(fs, path).sorted)
    }.foreach { case (statsCols, bloomCols) =>
      // sidecars are keyed physically; report under the names SQL sees
      if (statsCols.nonEmpty)
        m.put("stats.columns",
          statsCols.map(snap.logicalName).sorted.mkString(","))
      if (bloomCols.nonEmpty)
        m.put("bloom.columns",
          bloomCols.map(snap.logicalName).sorted.mkString(","))
    }
    m
  }
  override def partitioning(): Array[Transform] = {
    // LOGICAL key name: Spark resolves the transform reference against
    // this table's reported schema (identity is physical in the log)
    val fields = graft.ops.PartitionTransforms.of(snap.props)
      .fold(Seq.empty[Transform])(_.fields.map { f =>
        val c = snap.logicalName(f.column)
        f.fn match {
          case "hours" => Expressions.hours(c)
          case "days" => Expressions.days(c)
          case "months" => Expressions.months(c)
          case "years" => Expressions.years(c)
          case "identity" => Expressions.identity(c)
        }
      }.toSeq)
    (fields :+
      Expressions.bucket(bucketing._2, snap.logicalName(bucketing._1)))
      .toArray
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // the audit view pins like a time-travel read (streaming refuses:
    // staged commits have no offsets until they publish)
    new TxScanBuilder(path, snap, bucketing, dataSchema,
      version.orElse(wap.orElse(branch).map(_ => snap.version)), options)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(version.isEmpty,
      s"cannot INSERT into time-travel snapshot $path@v${snap.version}")
    require(wap.isEmpty,
      s"cannot INSERT into the audit view $path@wap.${wap.getOrElse("")}" +
        ": set spark.graft.wap.id to stage more rows, or publish first")
    // the incoming query schema speaks LOGICAL names (Spark validated it
    // against schema()); files always store PHYSICAL names — translate
    // positionally here, once, for every write shape downstream
    val physSchema = StructType(info.schema().fields.map(f =>
      f.copy(name = snap.physicalName(f.name))))
    // a branch identifier routes the INSERT into a BRANCH delta commit —
    // invisible on main until CALL publish_branch; appends only
    new TxWriteBuilder(path, physSchema, bucketing, info.queryId(),
      snap.logicalName(bucketing._1), snap.physicalName, branch)
  }

  /** SQL DELETE routing — Spark's OptimizeMetadataOnlyDeleteFromTable
    * converts the group-based COW rewrite into [[deleteWhere]] exactly
    * when this accepts. With deletion vectors in the log, acceptance no
    * longer needs every file DECIDABLE — it needs every filter
    * row-EVALUABLE (a [[TxMetadataDelete.filterColumn]] equivalent
    * exists): fully-covered files drop from the manifest, zero-covered
    * files are untouched, and everything else gets a merge-on-read
    * deletion vector. A SQL DELETE therefore NEVER rewrites a data file.
    * `spark.graft.sql.delete.mor=false` restores the round-8 posture
    * (accept only all-decidable metadata drops; partial coverage falls
    * back to the exact copy-on-write rewrite). */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val spark = SparkSession.active
    if (version.nonEmpty || wap.nonEmpty || branch.nonEmpty) return false
    if (spark.conf.get("spark.graft.sql.delete.mor", "true").toBoolean)
      scala.util.Try(filters.foreach(TxMetadataDelete.filterColumn))
        .isSuccess
    else TxMetadataDelete.plan(spark, path, snap,
      filters.toSeq.map(TxFilterNames.rename(_, snap.physicalName)))
      .isDefined
  }

  /** The accepted delete, as ONE atomic commit: fully-covered files drop
    * (zero data files opened — the metadata shortcut), partially-covered
    * and undecidable files are scanned ONCE to build per-file deletion
    * bitmaps and re-added with their [[TxTable.DvRef]]s. Dropped versions
    * stay time-travelable until vacuum. The coverage plan is recomputed
    * on every CAS attempt's fresh snapshot, so a concurrent commit can
    * never smuggle an unexamined file past the check. */
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(version.isEmpty,
      s"cannot DELETE from time-travel snapshot $path@v${snap.version}")
    val spark = SparkSession.active
    TxWapConf.requireUnset(spark, "DELETE")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mor = spark.conf.get("spark.graft.sql.delete.mor", "true").toBoolean
    var attempt = 0
    while (attempt <= 5) {
      val cur = TxTable.snapshot(spark, path)
      // coverage verdicts consult zone maps — PHYSICAL names; the row
      // filter below stays LOGICAL (stageMorDelete reads logically)
      val vs = TxMetadataDelete.verdicts(spark, path, cur,
        filters.toSeq.map(TxFilterNames.rename(_, cur.physicalName)))
      val full = vs.collect { case (e, TxMetadataDelete.Full) => e }
      val partial = vs.collect { case (e, TxMetadataDelete.Partial) => e }
      if (partial.nonEmpty && !mor)
        throw new java.util.ConcurrentModificationException(
          s"$path: a concurrent commit made the metadata DELETE " +
            "undecidable — re-run the statement (it will take the " +
            "copy-on-write path)")
      val staged =
        if (partial.isEmpty) None
        else {
          val cond = filters.map(TxMetadataDelete.filterColumn)
            .reduceOption(_ && _)
            .getOrElse(org.apache.spark.sql.functions.lit(true))
          TxTable.stageMorDelete(spark, path, cur, partial, cond)
        }
      val (adds, morRemoves) = staged match {
        case Some((a, r, _)) => (a, r)
        case None => (Seq.empty[TxTable.FileEntry], Set.empty[String])
      }
      if (full.isEmpty && adds.isEmpty) return
      if (TxTable.commitNext(fs, path, cur, adds = adds,
          removes = full.map(_.rel).toSet ++ morRemoves, txn = None,
          schema = cur.schema, bucketing = cur.bucketing))
        return
      // lost the race: drop this attempt's staged DV sidecar and retry
      adds.headOption.flatMap(_.dv).foreach(d =>
        fs.delete(new Path(path, d.rel.split('/').take(2)
          .mkString("/")), true))
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$path: DELETE lost the commit race 6 times")
  }

  /** TRUNCATE TABLE: one commit removing whatever snapshot it lands on
    * (same last-writer-wins semantics as INSERT OVERWRITE's truncate
    * half); history stays time-travelable until vacuum. Contention
    * exhaustion THROWS (like every other TxTable writer) — Spark's
    * TruncateTableExec ignores the boolean return, so a silent `false`
    * would report an un-truncated table as truncated. */
  override def truncateTable(): Boolean = {
    require(version.isEmpty && wap.isEmpty && branch.isEmpty,
      s"cannot TRUNCATE a pinned, audit, or branch view of $path")
    val spark = SparkSession.active
    TxWapConf.requireUnset(spark, "TRUNCATE")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (attempt <= 5) {
      val cur = TxTable.snapshot(spark, path)
      if (cur.entries.isEmpty) return true
      if (TxTable.commitNext(fs, path, cur, adds = Seq.empty,
          removes = cur.entries.map(_.rel).toSet, txn = None,
          schema = cur.schema, bucketing = cur.bucketing))
        return true
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$path: TRUNCATE lost the commit race 6 times")
  }

  /** SQL MERGE INTO / UPDATE / DELETE as a row-level operation. Two
    * shapes, a session decision (`spark.graft.sql.rowlevel.mor`):
    *
    *   - default: group-based copy-on-write ([[TxRowLevelOperation]]) —
    *     affected files rewrite whole; read path stays clean/vectorized.
    *   - `mor=true`: delta-based merge-on-read
    *     ([[TxDeltaRowLevelOperation]]) — write volume ∝ CHANGED ROWS:
    *     matched rows' positions land in deletion-vector bitmaps, new
    *     row versions append; no data file is rewritten. The read tax
    *     (bitmap filters, row-based scans on DV'd files) is reclaimed at
    *     the next compaction. The right trade when updates are sparse
    *     relative to file sizes — the common CDC shape at 100 TB. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty && wap.isEmpty && branch.isEmpty,
      s"cannot mutate a pinned, audit, or branch view of $path — " +
        "branches take appends only")
    TxWapConf.requireUnset(SparkSession.active, "MERGE/UPDATE/DELETE")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.RowLevelOperation =
        if (SparkSession.active.conf
            .get("spark.graft.sql.rowlevel.mor", "false").toBoolean)
          new TxDeltaRowLevelOperation(path, snap, bucketing, dataSchema,
            info.command())
        else
          new TxRowLevelOperation(path, snap, bucketing, dataSchema,
            info.command())
    }
  }
}

final class TxScanBuilder(path: String, snap: TxTable.Snapshot,
                          bucketing: (String, Int), dataSchema: StructType,
                          pinnedVersion: Option[Long] = None,
                          options: CaseInsensitiveStringMap =
                            CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = dataSchema
  private var kept: Seq[TxTable.FileEntry] = snap.entries
  private var prunedBy: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var allFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var aggAnswer: Option[(StructType, InternalRow)] = None
  private var sawFilters = false

  /** LIMIT n served from the FEWEST files whose recorded row counts cover
    * n — `LIMIT 10` on a ten-thousand-file table opens one file. Spark
    * offers limit pushdown even when this builder's filters are residual
    * (they are evaluated AFTER the scan), so the shrink must refuse
    * whenever ANY filter reached pushFilters: with a filter in play, a
    * dropped file could hold the only matching rows. Partial pushdown:
    * Spark still applies the exact limit on the served rows. Files
    * without a recorded count also refuse (over-keep). */
  override def pushLimit(limit: Int): Boolean = {
    if (sawFilters || kept.exists(_.rows.isEmpty)) return false
    // unfolded equality deletes: liveRows overcounts (a sidecar key may
    // kill rows the count still includes), so a covering-file pick could
    // under-serve the limit — refuse until folded
    if (TxTable.parseEqDeletes(snap.props).nonEmpty) return false
    var acc = 0L
    val picked = Seq.newBuilder[TxTable.FileEntry]
    val it = kept.sortBy(e => (e.bucket, e.rel)).iterator
    while (acc < limit && it.hasNext) {
      val e = it.next()
      picked += e
      // LIVE rows: a deletion-vector'd file serves rows - ndel, and the
      // accumulated count must cover `limit` in rows actually served
      acc += e.liveRows.get
    }
    kept = picked.result()
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY c LIMIT n served from only the files that can hold a top-n
    * value — the zone-map TopN shortcut: rank files by their GUARANTEED
    * bound on the sort column (every non-null row of a file is at least
    * as good as its lo for DESC / its hi for ASC), walk best-first until
    * the accumulated non-null row counts cover n — the last bound walked
    * is a floor T on the n-th value — then keep exactly the files whose
    * BEST value ties or beats T. Dropped files hold only rows strictly
    * worse than the n-th value, so the top-n multiset is preserved and
    * Spark's retained sort+limit (partial pushdown) finishes exactly.
    * `ORDER BY ts DESC LIMIT 100` on a time-clustered table opens a
    * handful of tail files instead of all of them.
    *
    * Null ordering is honored via the sidecar's per-file null counts:
    * NULLS FIRST consumes nulls before any value (null-holding files are
    * always kept and n shrinks by the total null count); NULLS LAST means
    * a null can only surface when fewer than n non-null values exist —
    * that case refuses rather than prunes. Refusal is always graceful
    * (residual filters in play, multi-column sort, non-column sort key,
    * unprofiled files, pre-null-count sidecars, or missing manifest row
    * counts → ordinary scan). */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{
      NamedReference, NullOrdering, SortDirection}
    if (sawFilters || orders.length != 1) return false
    if (kept.isEmpty || kept.exists(_.rows.isEmpty)) return false
    // a deletion-vector'd file's zone map and null counts describe its
    // PHYSICAL rows — a deleted row may hold the guaranteed bound the
    // ranking leans on, so file dropping is unsound; refuse (graceful:
    // the ordinary scan sorts exactly) until compaction folds the DVs
    if (kept.exists(_.dv.isDefined)) return false
    if (TxTable.parseEqDeletes(snap.props).nonEmpty) return false
    val colName = orders(0).expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        snap.physicalName(r.fieldNames()(0))
      case _ => return false
    }
    val stats = TxTable.fileStatsWithNulls(SparkSession.active, path, colName)
    if (!kept.forall(e => stats.get(e.rel).exists(_._3.isDefined)))
      return false
    val desc = orders(0).direction() == SortDirection.DESCENDING
    val nullsFirst = orders(0).nullOrdering() == NullOrdering.NULLS_FIRST
    final case class FileRange(e: TxTable.FileEntry, lo: Any, hi: Any,
                               nulls: Long, nonNull: Long)
    val ranges = kept.map { e =>
      val (lo, hi, n) = stats(e.rel)
      FileRange(e, lo, hi, n.get, e.rows.get - n.get)
    }
    val totalNulls = ranges.map(_.nulls).sum
    val need: Long = if (nullsFirst) limit - totalNulls else limit
    if (!nullsFirst && ranges.map(_.nonNull).sum < limit) return false
    if (need <= 0) { // top-n is entirely nulls
      kept = ranges.filter(_.nulls > 0).map(_.e)
      return true
    }
    def better(a: Any, b: Any): Boolean =
      if (desc) TxTable.cmpAny(a, b) > 0 else TxTable.cmpAny(a, b) < 0
    def guaranteed(f: FileRange): Any = if (desc) f.lo else f.hi
    def best(f: FileRange): Any = if (desc) f.hi else f.lo
    val ranked = ranges.filter(_.nonNull > 0)
      .sortWith((x, y) => better(guaranteed(x), guaranteed(y)))
    var acc = 0L
    var t: Any = null
    val it = ranked.iterator
    while (acc < need && it.hasNext) {
      val f = it.next(); acc += f.nonNull; t = guaranteed(f)
    }
    if (acc < need) return false
    kept = ranges.filter { f =>
      (best(f) != null && !better(t, best(f))) ||
        (nullsFirst && f.nulls > 0)
    }.map(_.e)
    true
  }

  /** Metadata-only aggregates — the payoff of owning the log: a global
    * (no GROUP BY, no residual filter) `COUNT(*)` answers from the
    * manifest's recorded per-file row counts, and `MIN`/`MAX` over a
    * zone-map-profiled column answer from the per-file (lo, hi) sidecars —
    * ZERO data files opened, zero Spark jobs (the scan plans as a local
    * one-row relation). Refusal is always graceful: any file missing a
    * recorded count (pre-count commits), any unprofiled or partially
    * profiled column, any other aggregate function, or any grouping makes
    * the pushdown decline and Spark plans the ordinary scan. Spark only
    * attempts the pushdown when no filter remains above the scan, so
    * pruning state never interacts with the shortcut. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answerFromMetadata(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    // complete pushdown only: a partial answer would still open every
    // file, which defeats the point
    aggAnswer = answerFromMetadata(agg)
    aggAnswer.isDefined
  }

  private def answerFromMetadata(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.groupByExpressions.nonEmpty) return None
    // unfolded equality deletes: manifest row counts and zone maps
    // describe rows some registered key sidecar may have killed — every
    // metadata answer refuses until a rewrite folds the registry
    if (TxTable.parseEqDeletes(snap.props).nonEmpty) return None
    val spark = SparkSession.active

    def columnOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[org.apache.spark.sql.types.StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        dataSchema.fields.find(
          _.name == snap.physicalName(r.fieldNames()(0)))
      case _ => None
    }

    /** min/max of a column from its zone-map sidecar — only when EVERY
      * live file is profiled (stale or absent sidecars refuse; all-null
      * files contribute nothing, matching min/max null-skipping). */
    def extremum(col: org.apache.spark.sql.connector.expressions.Expression,
                 isMin: Boolean)
        : Option[(org.apache.spark.sql.types.StructField, Any)] =
      // zone maps describe physical rows: a deletion-vector'd file's
      // extremum may be a deleted row — refuse until compaction
      if (snap.entries.exists(_.dv.isDefined)) None
      else columnOf(col).flatMap { f =>
        val stats = TxTable.fileStats(spark, path, f.name)
        if (!snap.entries.forall(e => stats.contains(e.rel))) None
        else {
          val side = snap.entries.flatMap(e =>
            Option(if (isMin) stats(e.rel)._1 else stats(e.rel)._2))
          val v =
            if (side.isEmpty) null
            else side.reduce((a, b) =>
              if (TxTable.cmpAny(a, b) <= 0 == isMin) a else b)
          Some((org.apache.spark.sql.types.StructField(
            if (isMin) s"min(${snap.logicalName(f.name)})"
            else s"max(${snap.logicalName(f.name)})",
            f.dataType, nullable = true), v))
        }
      }

    val answered: Seq[Option[(org.apache.spark.sql.types.StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          // liveRows: manifests record EXACT per-file deleted counts, so
          // COUNT(*) over a deletion-vector'd table stays metadata-only
          val counts = snap.entries.map(_.liveRows)
          if (counts.exists(_.isEmpty)) None
          else Some((org.apache.spark.sql.types.StructField("count(*)",
            org.apache.spark.sql.types.LongType, nullable = false),
            counts.flatten.sum: Any))
        case m: Min => extremum(m.column, isMin = true)
        case m: Max => extremum(m.column, isMin = false)
        case _ => None
      }
    if (answered.exists(_.isEmpty) || answered.isEmpty) return None
    val fields = answered.flatten
    val schema = StructType(fields.map(_._1))
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(fields.map { case (f, v) =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType)(v)
      }.toArray)
    Some((schema, row))
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep the file order of dataSchema; Spark hands back a subset in
    // LOGICAL names — store the PHYSICAL twin (readers hit file fields);
    // TxScan re-derives the logical shape for readSchema()
    required = StructType(requiredSchema.fields.map(f =>
      f.copy(name = snap.physicalName(f.name))))
  }

  /** File-level pushdown: zone-map sidecars answer range conjuncts and the
    * manifest's bucket identity answers equality/IN on the bucket key —
    * the catalog path prunes exactly like `readWhereAll`/`readKeys`.
    * Every filter is returned as a residual (pruning shrinks I/O, never
    * substitutes for row evaluation), so the rewrite can only over-keep. */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    sawFilters = sawFilters || filters.nonEmpty
    // pruning + parquet row-group pushdown run in PHYSICAL name space
    // (sidecars, bucket identity, file fields); the residuals returned
    // to Spark stay LOGICAL — they re-evaluate on the scan's output rows
    allFilters = filters.map(TxFilterNames.rename(_, snap.physicalName))
    val (k, used) = TxCatalogPruning.prune(SparkSession.active, path, snap,
      dataSchema, allFilters)
    kept = k
    prunedBy = used
    filters
  }

  /** The filters that participated in file pruning (display/debugging —
    * they are ALSO evaluated on rows via the residuals above). Reported
    * under LOGICAL names (what the SQL user wrote). */
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    prunedBy.map(TxFilterNames.rename(_, snap.logicalName))

  override def build(): Scan = aggAnswer match {
    case Some((schema, row)) =>
      new TxLocalAggScan(path, snap.version, schema, row)
    case None =>
      new TxScan(path, snap, kept, bucketing, dataSchema,
        required, pinnedVersion, options, allFilters)
  }
}

/** A fully-pushed metadata aggregate: one driver-local row computed from
  * the manifest + sidecars — plans as a LocalTableScan, zero jobs, zero
  * data files opened. */
final class TxLocalAggScan(path: String, version: Long,
                           schema: StructType, row: InternalRow)
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = Array(row)
  override def description(): String =
    s"GraftTxTable metadata-only aggregate $path v$version"
}

/** Metadata-only DELETE — the 100 TB retention story: `DELETE FROM t
  * WHERE day < X` on a day-clustered table must drop whole files from the
  * manifest without reading, rewriting, or even opening them. Spark's
  * own `OptimizeMetadataOnlyDeleteFromTable` rule converts the group-based
  * COW rewrite back into a [[SupportsDeleteV2.deleteWhere]] call whenever
  * [[canDeleteWhere]] accepts, so the decision procedure here IS the
  * routing: accept only when every live file is provably FULL (every row
  * matches — file dropped) or ZERO (no row matches — file untouched)
  * under the predicate; one Partial file refuses and the statement runs
  * the exact copy-on-write path instead.
  *
  * Decidability comes from the zone-map sidecars' (lo, hi, nullCount)
  * plus the manifest's row counts. Null counts are load-bearing, not an
  * optimization: `v < X` does NOT match a null row, so a file whose range
  * is entirely below X but which holds nulls is only PARTIALLY deleted —
  * dropping it would silently destroy the null rows. Three-valued
  * coverage composes through AND/OR exactly like parquet's statistics
  * filter; anything unprovable degrades to Partial, never guesses. */
/** The write-audit-publish session switch: a non-empty
  * `spark.graft.wap.id` routes batch INSERTs into staged commits. */
/** Session switch for SQL schema evolution (the Delta
  * `spark.databricks.delta.schema.autoMerge.enabled` idea, graft-named):
  * when on, TxTables advertise AUTOMATIC_SCHEMA_EVOLUTION so
  * `MERGE WITH SCHEMA EVOLUTION` widens the table from the source's new
  * columns via one ADD COLUMN metadata commit. Off (default), every
  * statement keeps strict schema enforcement. */
private[sources] object TxAutoMerge {
  def enabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.sql.schema.autoMerge", "false").toBoolean
}

/** INSERT-side schema evolution (with `spark.graft.sql.schema.autoMerge`
  * on): `INSERT INTO t SELECT ..., new_col FROM src` widens the table
  * first, then inserts — the exact shape Spark's own
  * ResolveMergeIntoSchemaEvolution uses for MERGE (alterTable with
  * ADD COLUMN, reload the relation, let stock resolution proceed against
  * the widened schema). Intercepts the still-unconverted
  * InsertIntoStatement at the end of the resolution iteration in which
  * its relation and query both resolved — before ResolveInsertInto turns
  * it into a v2 write whose arity check would refuse the extra columns.
  *
  * Deliberately NOT ACCEPT_ANY_SCHEMA: advertising that capability turns
  * off Spark's resolution of MERGE conditions/assignments and INSERT
  * output matching for every statement on the table (SchemaAutoMergeSpec
  * pins a plain MERGE that stops resolving under it) — the pre-widen
  * keeps every stock safety check, because after the widening this IS a
  * stock insert. Positional inserts evolve trailing extra columns under
  * their source names; BY NAME inserts evolve every unmatched source
  * column. New columns are born nullable; old files project NULL; time
  * travel keeps each version's own schema. Inert when the conf is off. */
final case class TxAutoMergeInsertRule(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
  import org.apache.spark.sql.connector.catalog.TableChange
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!TxAutoMerge.enabled(spark)) return plan
    plan.resolveOperators {
      case i: InsertIntoStatement =>
        i.table match {
          case r: DataSourceV2Relation if r.table.isInstanceOf[TxSparkTable]
              && i.query.resolved && i.userSpecifiedCols.isEmpty
              && isMainHead(r) =>
            val extras = extraColumns(r, i.query, i.byName)
            if (extras.isEmpty) i
            else i.copy(table = widen(r, extras))
          case _ => i
        }
    }
  }

  /** Evolution targets the TABLE HEAD only: a `@vN` / `@branch.x` /
    * `@wap.x` identifier must never widen the main table's schema as a
    * side effect of its insert — those statements keep the stock strict
    * arity error (branch-side evolution has its own path: the Scala
    * `appendToBranch` union-evolves the branch head). The loaded
    * [[TxSparkTable]] already knows how its identifier resolved, so ask
    * it — substring-matching the rendered identifier for '@' would also
    * disable evolution for a path that merely CONTAINS a literal '@'
    * (valid in POSIX filenames). */
  private def isMainHead(r: DataSourceV2Relation): Boolean =
    r.table match {
      case t: TxSparkTable => t.isMainHead
      case _ => false
    }

  private def extraColumns(r: DataSourceV2Relation, query: LogicalPlan,
                           byName: Boolean)
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = {
    val resolver = spark.sessionState.conf.resolver
    if (byName)
      query.output.filterNot(q => r.output.exists(t =>
        resolver(t.name, q.name)))
    else query.output.drop(r.output.length)
  }

  /** One ADD COLUMN metadata commit per statement (all extras at once),
    * then the relation reloads so stock resolution sees the widened
    * schema — mirrors ResolveMergeIntoSchemaEvolution.performSchemaEvolution. */
  private def widen(r: DataSourceV2Relation,
                    extras: Seq[org.apache.spark.sql.catalyst.expressions
                      .Attribute]): DataSourceV2Relation = {
    val catalog = r.catalog.getOrElse(throw new IllegalStateException(
      s"${r.table.name}: cannot evolve a catalog-less relation"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = r.identifier.getOrElse(throw new IllegalStateException(
      s"${r.table.name}: cannot evolve without an identifier"))
    val changes = extras.map(a => TableChange.addColumn(
      Array(a.name), a.dataType, true)): Seq[TableChange]
    catalog.alterTable(ident, changes: _*)
    val reloaded = catalog.loadTable(ident)
    DataSourceV2Relation.create(reloaded, r.catalog, r.identifier,
      r.options)
  }
}

private[sources] object TxWapConf {
  def id(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.wap.id").map(_.trim)
      .filter(_.nonEmpty)
  def requireUnset(spark: SparkSession, what: String): Unit =
    require(id(spark).isEmpty,
      s"$what cannot run under a write-audit-publish id " +
        s"(spark.graft.wap.id=${id(spark).get}): staging represents " +
        "appends only — unset the id or publish/drop the stage first")
}

/** Attribute renaming over a V1 Filter tree — the column-mapping
  * boundary for pushed filters: Spark hands filters in LOGICAL names;
  * zone-map sidecars, bucket identity, and parquet file fields are
  * PHYSICAL. Identity when the table has no renames. Unknown filter
  * shapes pass through untouched (they never participate in pruning). */
private[sources] object TxFilterNames {
  import org.apache.spark.sql.sources._
  def rename(f: Filter, m: String => String): Filter = f match {
    case EqualTo(a, v) => EqualTo(m(a), v)
    case EqualNullSafe(a, v) => EqualNullSafe(m(a), v)
    case GreaterThan(a, v) => GreaterThan(m(a), v)
    case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(m(a), v)
    case LessThan(a, v) => LessThan(m(a), v)
    case LessThanOrEqual(a, v) => LessThanOrEqual(m(a), v)
    case In(a, vs) => In(m(a), vs)
    case IsNull(a) => IsNull(m(a))
    case IsNotNull(a) => IsNotNull(m(a))
    case StringStartsWith(a, v) => StringStartsWith(m(a), v)
    case StringEndsWith(a, v) => StringEndsWith(m(a), v)
    case StringContains(a, v) => StringContains(m(a), v)
    case And(l, r) => And(rename(l, m), rename(r, m))
    case Or(l, r) => Or(rename(l, m), rename(r, m))
    case Not(c) => Not(rename(c, m))
    case other => other
  }
}

private[sources] object TxMetadataDelete {
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  sealed trait Coverage
  case object Full extends Coverage
  case object Zero extends Coverage
  case object Partial extends Coverage

  private def andCov(a: Coverage, b: Coverage): Coverage = (a, b) match {
    case (Zero, _) | (_, Zero) => Zero
    case (Full, Full) => Full
    case _ => Partial
  }

  private def orCov(a: Coverage, b: Coverage): Coverage = (a, b) match {
    case (Full, _) | (_, Full) => Full
    case (Zero, Zero) => Zero
    case _ => Partial
  }

  /** Some(files to drop) iff every live file is decidable under the
    * conjunction of `filters`; None falls back to the COW rewrite. */
  def plan(spark: SparkSession, path: String, snap: TxTable.Snapshot,
           filters: Seq[Filter]): Option[Seq[TxTable.FileEntry]] = {
    val vs = verdicts(spark, path, snap, filters)
    if (vs.exists(_._2 == Partial)) None
    else Some(vs.collect { case (e, Full) => e })
  }

  /** Per-file coverage verdict for the conjunction of `filters` — the
    * shared decision kernel behind metadata DELETE (all-or-nothing) and
    * overwrite-by-filter (Full files drop, Partial files rewrite their
    * remainder, Zero files are untouched). */
  def verdicts(spark: SparkSession, path: String, snap: TxTable.Snapshot,
               filters: Seq[Filter]): Seq[(TxTable.FileEntry, Coverage)] = {
    val statsFor = scala.collection.mutable.Map
      .empty[String, Map[String, (Any, Any, Option[Long])]]
    def stats(c: String): Map[String, (Any, Any, Option[Long])] =
      statsFor.getOrElseUpdate(c, TxTable.fileStatsWithNulls(spark, path, c))
    def cmp(a: Any, b: Any): Option[Int] =
      scala.util.Try(TxTable.cmpAny(a, b)).toOption

    val hist = graft.ops.PartitionTransforms.history(snap.props)

    def coverage(f: Filter, e: TxTable.FileEntry): Coverage = {
      // hidden partitioning: a partitioned file's source columns are
      // exactly bracketed by their partition envelopes and hold NO nulls
      // (null source values land under part-null) — so day/month-
      // boundary retention predicates (and identity-value deletes like
      // `region = 'X'`) decide Full/Zero with zero sidecar I/O and no
      // ANALYZE. Each file resolves under the spec that PLACED it, so
      // post-evolution generations keep their original envelopes.
      lazy val res: Option[graft.ops.PartitionTransforms.Resolved] =
        graft.ops.PartitionTransforms.resolve(e.rel, hist)
      def partNullsZero(c: String): Boolean =
        res.exists(_.rawFor(c).isDefined)
      // (lo, hi, nulls) — zone-map sidecar first (tighter), partition
      // envelope as the fallback, typed like the predicate value `v`
      def st(c: String, v: Any = null): Option[(Any, Any, Long)] =
        stats(c).get(e.rel).flatMap { case (lo, hi, n) =>
          n.map(nn => (lo, hi, nn))
        }.orElse {
          if (v == null) None
          else res.flatMap(r =>
            graft.ops.PartitionTransforms.envelopeFor(r, c, v)
              .map { case (lo, hi) => (lo, hi, 0L) })
        }
      /** Range comparison coverage: `fullHi`/`zeroLo` decide from the
        * non-null range; FULL additionally requires zero nulls (a null
        * never matches a comparison, so it must survive the delete). */
      def rangeCov(c: String, v: Any,
                   full: (Any, Any) => Option[Boolean],
                   zero: (Any, Any) => Option[Boolean]): Coverage =
        st(c, v) match {
          case None => Partial
          case Some((lo, _, _)) if lo == null => Zero // all-null file
          case Some((lo, hi, nulls)) =>
            if (nulls == 0L && full(lo, hi).contains(true)) Full
            else if (zero(lo, hi).contains(true)) Zero
            else Partial
        }
      f match {
        case AlwaysTrue() => Full
        case AlwaysFalse() => Zero
        case And(a, b) => andCov(coverage(a, e), coverage(b, e))
        case Or(a, b) => orCov(coverage(a, e), coverage(b, e))
        case LessThan(c, v) if v != null =>
          rangeCov(c, v, (_, hi) => cmp(hi, v).map(_ < 0),
            (lo, _) => cmp(lo, v).map(_ >= 0))
        case LessThanOrEqual(c, v) if v != null =>
          rangeCov(c, v, (_, hi) => cmp(hi, v).map(_ <= 0),
            (lo, _) => cmp(lo, v).map(_ > 0))
        case GreaterThan(c, v) if v != null =>
          rangeCov(c, v, (lo, _) => cmp(lo, v).map(_ > 0),
            (_, hi) => cmp(hi, v).map(_ <= 0))
        case GreaterThanOrEqual(c, v) if v != null =>
          rangeCov(c, v, (lo, _) => cmp(lo, v).map(_ >= 0),
            (_, hi) => cmp(hi, v).map(_ < 0))
        case EqualTo(c, v) if v != null =>
          rangeCov(c, v,
            (lo, hi) => for (a <- cmp(lo, v); b <- cmp(hi, v))
              yield a == 0 && b == 0,
            (lo, hi) => for (a <- cmp(v, lo); b <- cmp(v, hi))
              yield a < 0 || b > 0)
        case EqualNullSafe(c, v) if v != null =>
          coverage(EqualTo(c, v), e)
        case EqualNullSafe(c, null) => coverage(IsNull(c), e)
        case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
          st(c, vs.head) match {
            case None => Partial
            case Some((lo, _, _)) if lo == null => Zero
            case Some((lo, hi, nulls)) =>
              val allOutside = vs.forall(v =>
                cmp(v, lo).exists(_ < 0) || cmp(v, hi).exists(_ > 0))
              val singleton = cmp(lo, hi).contains(0) &&
                vs.exists(v => cmp(v, lo).contains(0))
              if (allOutside) Zero
              else if (nulls == 0L && singleton) Full
              else Partial
          }
        case IsNull(c) => st(c) match {
          case None => if (partNullsZero(c)) Zero else Partial
          case Some((_, _, 0L)) => Zero
          case Some((_, _, nulls)) if e.rows.contains(nulls) => Full
          case _ => Partial
        }
        case IsNotNull(c) => st(c) match {
          case None => if (partNullsZero(c)) Full else Partial
          case Some((_, _, 0L)) => Full
          case Some((_, _, nulls)) if e.rows.contains(nulls) => Zero
          case _ => Partial
        }
        case _ => Partial
      }
    }

    snap.entries.map(e =>
      e -> filters.foldLeft(Full: Coverage)((acc, f) =>
        andCov(acc, coverage(f, e))))
  }

  /** Row-level evaluation of a v1 source filter as a Column — the
    * overwrite-by-filter rewrite path needs the EXACT predicate on the
    * rows of partially-covered files (coverage only routes; this
    * decides). Throws on a filter shape with no Column equivalent, which
    * surfaces at overwrite() planning time, never mid-commit. */
  def filterColumn(f: Filter): org.apache.spark.sql.Column = f match {
    case AlwaysTrue() => lit(true)
    case AlwaysFalse() => lit(false)
    case And(a, b) => filterColumn(a) && filterColumn(b)
    case Or(a, b) => filterColumn(a) || filterColumn(b)
    case Not(x) => !filterColumn(x)
    case EqualTo(c, v) => col(c) === lit(v)
    case EqualNullSafe(c, v) => col(c) <=> lit(v)
    case LessThan(c, v) => col(c) < lit(v)
    case LessThanOrEqual(c, v) => col(c) <= lit(v)
    case GreaterThan(c, v) => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
    case IsNull(c) => col(c).isNull
    case IsNotNull(c) => col(c).isNotNull
    case StringStartsWith(c, v) => col(c).startsWith(v)
    case StringEndsWith(c, v) => col(c).endsWith(v)
    case StringContains(c, v) => col(c).contains(v)
    case other => throw new UnsupportedOperationException(
      s"REPLACE WHERE cannot evaluate predicate $other on rewrite rows")
  }
}

/** Driver-side file pruning shared semantics with
  * [[graft.plans.TxTablePruneRule]], over DSv2 source filters (external
  * values). Over-keep only: unprofiled columns, unknown files, and
  * incomparable types never prune; all-null files cannot satisfy a range
  * predicate and drop. */
/** DSv2 column statistics from the table's own sidecars: per-column
  * (min, max, nullCount) fold from the zone maps over the PLANNED file
  * set, plus a distinctCount from merging NDV-ANALYZEd columns' per-file
  * DataSketches HLL sketches (mergeable, so the table-level NDV is a
  * driver-side fold — zero data I/O). Reported only when every planned
  * file carries the stat (a missing file could hold the true extreme;
  * honest absence beats a wrong bound). Spark's CBO turns these into
  * filter selectivities and join-reorder/broadcast decisions — the flip
  * is pinned in CboStatsSpec. */
private[sources] object TxColumnStats {
  import org.apache.spark.sql.connector.expressions.{
    Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics

  /** NDV fold memo: (table, snapshot version, physical column, stats
    * sidecar mtime) → the merged estimate over the version's FULL live
    * file set — the table-level NDV (an upper bound for any pruned scan,
    * the standard CBO semantic), so the memo's value is independent of
    * which caller's entry subset computed it first. The sidecar MTIME is
    * part of the key because `compute_stats_ndv` rewrites the sidecar
    * WITHOUT a table commit (dataChange=false) — keyed by version alone,
    * a CBO query run before the ANALYZE would pin "no NDV" for that
    * version and the freshly computed sketches would stay invisible
    * until the next unrelated data commit. Size-bounded LRU so a
    * long-lived session over churning tables cannot leak driver memory
    * (the sketch re-fold on re-miss is in-memory over [[TxTable.fileHll]]'s
    * own mtime-cached map — cheap). */
  private val NdvCacheCap = 1024
  private val ndvCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, String, Long),
        Option[Long]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String, Long),
            Option[Long]]): Boolean = size() > NdvCacheCap
    })

  private def ndvOf(spark: SparkSession, path: String,
                    snap: TxTable.Snapshot, p: String): Option[Long] = {
    val mtime = scala.util.Try(TxTable.statsMtime(spark, path, p))
      .getOrElse(-1L)
    if (mtime < 0) return None // no sidecar: nothing to fold, never pin
    val key = (path, snap.version, p, mtime)
    val hit = ndvCache.get(key)
    if (hit != null) hit
    else {
      val sketches = TxTable.fileHll(spark, path, p)
      val live = snap.entries.map(_.rel)
      val v: Option[Long] =
        if (live.isEmpty || !live.forall(sketches.contains)) None
        else scala.util.Try {
          val u = new org.apache.datasketches.hll.Union(12)
          live.foreach { r =>
            u.update(org.apache.datasketches.hll.HllSketch.heapify(
              org.apache.datasketches.memory.Memory.wrap(sketches(r))))
          }
          Math.max(1L, Math.round(u.getEstimate))
        }.toOption
      ndvCache.put(key, v)
      v
    }
  }

  def forEntries(spark: SparkSession, path: String,
                 snap: TxTable.Snapshot, entries: Seq[TxTable.FileEntry])
      : java.util.Map[NamedReference, ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rels = entries.map(_.rel)
    // sidecar null counts were profiled at ANALYZE time over WHOLE files,
    // while numRows reports DV-adjusted LIVE rows — after MOR deletes the
    // raw sum can exceed the live row count, and a CBO seeing
    // nullCount > rowCount skews selectivity. Clamp to the live count
    // when it is known (over-counting nulls only ever UNDER-estimates a
    // not-null predicate's selectivity after the clamp, never inverts it).
    val liveTotal: Option[Long] = {
      val rs = entries.map(_.liveRows)
      if (rs.isEmpty || rs.exists(_.isEmpty)) None else Some(rs.flatten.sum)
    }
    val emitted = scala.collection.mutable.Set.empty[String]
    scala.util.Try(TxTable.statsColumns(fs, path)).getOrElse(Seq.empty)
      .foreach { p =>
        val raw = TxTable.fileStatsWithNulls(spark, path, p)
        if (rels.nonEmpty && rels.forall(raw.contains)) {
          emitted += p
          val rows = rels.map(raw)
          val nulls: Option[Long] =
            (if (rows.forall(_._3.isDefined)) Some(rows.flatMap(_._3).sum)
             else None)
              .map(n => liveTotal.fold(n)(t => math.min(n, t)))
          def fold(pick: ((Any, Any, Option[Long])) => Any,
                   keepLeft: Int => Boolean): Option[Any] = {
            val vs = rows.map(pick).filter(_ != null) // all-null files
            if (vs.isEmpty) None
            else scala.util.Try(vs.reduce((a, b) =>
              if (keepLeft(TxTable.cmpAny(a, b))) a else b)).toOption
          }
          val lo = fold(_._1, _ <= 0)
          val hi = fold(_._2, _ >= 0)
          // catalyst-INTERNAL values: the CBO's estimation arithmetic
          // expects them (dates as epoch days, timestamps as micros,
          // strings as UTF8String)
          def internal(v: Any): Option[Object] = scala.util.Try(
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToCatalyst(v).asInstanceOf[Object]).toOption
          val ndv = ndvOf(spark, path, snap, p)
          val stat = new ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              ndv.fold(java.util.OptionalLong.empty())(
                java.util.OptionalLong.of)
            override def min(): java.util.Optional[Object] =
              lo.flatMap(internal).fold(
                java.util.Optional.empty[Object]())(java.util.Optional.of)
            override def max(): java.util.Optional[Object] =
              hi.flatMap(internal).fold(
                java.util.Optional.empty[Object]())(java.util.Optional.of)
            override def nullCount(): java.util.OptionalLong =
              nulls.fold(java.util.OptionalLong.empty())(
                java.util.OptionalLong.of)
          }
          out.put(Expressions.column(snap.logicalName(p)), stat)
        }
      }
    // PARTITION-ENVELOPE fallback (composition gap): a days(ts) table
    // that never ran ANALYZE still bounds ts exactly from its partition
    // paths — each valued segment is an exact (lo, hi) envelope for its
    // source column, and an IDENTITY field's distinct segment values
    // are an EXACT distinctCount (a part-<v>/ file holds only rows
    // whose source equals v). Sidecar stats win when present (tighter);
    // coverage is honest: a file that does not resolve, or whose
    // generation lacks a field over the column, withdraws the column
    // (a part-null segment certifies only NULLs and costs no bound).
    val hist = graft.ops.PartitionTransforms.history(snap.props)
    if (hist.nonEmpty && entries.nonEmpty) {
      import org.apache.spark.sql.types._
      import org.apache.spark.unsafe.types.UTF8String
      val partCols = hist.flatMap(_.fields.map(_.column)).distinct
      partCols.filterNot(emitted).foreach { c =>
        snap.schema.flatMap(_.fields.find(_.name == c)).foreach { fld =>
          val isDate = fld.dataType == DateType
          // per-file: Some(Some((loInternal, hiInternal, idSeg))) =
          // valued envelope; Some(None) = null segment (covered, no
          // bound); None = uncovered (withdraw the column)
          val perFile: Seq[Option[Option[(Any, Any, Option[String])]]] =
            entries.map { e =>
              graft.ops.PartitionTransforms.resolve(e.rel, hist)
                .flatMap { res =>
                  val i = res.spec.fieldOver(c)
                  if (i < 0) None
                  else Some(res.raw.lift(i).flatten.flatMap { text =>
                    val f = res.spec.fields(i)
                    if (f.fn == "identity") fld.dataType match {
                      case StringType =>
                        graft.ops.PartitionTransforms.decodeIdStr(text)
                          .map(s => (UTF8String.fromString(s): Any,
                            UTF8String.fromString(s): Any, Some(text)))
                      case IntegerType => scala.util.Try(text.toInt)
                        .toOption.map(v => (Int.box(v): Any,
                          Int.box(v): Any, Some(text)))
                      case LongType => scala.util.Try(text.toLong)
                        .toOption.map(v => (Long.box(v): Any,
                          Long.box(v): Any, Some(text)))
                      case _ => None
                    } else scala.util.Try(text.toLong).toOption
                      .map { pv =>
                        val (lo, hi) = graft.ops.PartitionTransforms
                          .longEnvelope(f.fn, pv, isDate)
                        if (isDate)
                          (Int.box(lo.toInt): Any, Int.box(hi.toInt): Any,
                            None)
                        else (Long.box(lo): Any, Long.box(hi): Any, None)
                      }
                  })
                }
            }
          if (perFile.forall(_.isDefined)) {
            val valued = perFile.flatten.flatten
            if (valued.nonEmpty) {
              def cmpL(a: Any, b: Any): Int = (a, b) match {
                case (x: UTF8String, y: UTF8String) => x.compareTo(y)
                case (x: java.lang.Integer, y: java.lang.Integer) =>
                  x.compareTo(y)
                case (x: java.lang.Long, y: java.lang.Long) =>
                  x.compareTo(y)
                case _ => 0
              }
              val lo = valued.map(_._1).reduce((a, b) =>
                if (cmpL(a, b) <= 0) a else b)
              val hi = valued.map(_._2).reduce((a, b) =>
                if (cmpL(a, b) >= 0) a else b)
              val isIdentity = valued.head._3.isDefined
              val ndv: Option[Long] =
                if (isIdentity && perFile.flatten.forall(_.isDefined))
                  Some(valued.flatMap(_._3).distinct.size.toLong)
                else None
              val stat = new ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  ndv.fold(java.util.OptionalLong.empty())(
                    java.util.OptionalLong.of)
                override def min(): java.util.Optional[Object] =
                  java.util.Optional.of(lo.asInstanceOf[Object])
                override def max(): java.util.Optional[Object] =
                  java.util.Optional.of(hi.asInstanceOf[Object])
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.empty()
              }
              out.put(Expressions.column(snap.logicalName(c)), stat)
            }
          }
        }
      }
    }
    out
  }
}

/** Generated-column predicate derivation (the public Delta idea): when a
  * generated column's expression is a MONOTONE non-decreasing function of
  * one source column, a range bound on the source implies a range bound
  * on the generated value — so a query filtering only `o_orderdate`
  * still prunes files by `o_year`'s zone maps or hidden-partition
  * envelopes. Supported shapes: `year(c)`, `to_date(c)` / `date(c)` /
  * `CAST(c AS DATE)`. Non-monotone extractions (`month`, `day`) are
  * deliberately NOT derivable.
  *
  * Timezone soundness: Spark evaluates these functions over TIMESTAMP in
  * the SESSION timezone, which may differ between the writer that stored
  * the generated values and this reader. Rather than trusting the
  * session zone, TIMESTAMP-sourced derivations compute in UTC and WIDEN
  * by one unit on each side (a year / a day) — any real zone offset is
  * under 14 h, so the widened envelope brackets every possible stored
  * value; DATE-sourced derivations are timezone-free and exact. Widening
  * only over-keeps: at multi-year/multi-day spans the pruning power is
  * intact, and correctness never depends on matching zones. */
private[sources] object TxGeneratedDerivation {
  import scala.util.Try

  import org.apache.spark.sql.types.{DateType, IntegerType, LongType}

  /** Supported shapes of this snapshot: (fn, source PHYSICAL name,
    * generated PHYSICAL name, generated type). The whole prune()
    * pipeline — zone-map sidecars, partition envelopes, the direct
    * bounds fed in — is keyed by physical names, so both the match key
    * and the emitted bound name must live there too: the stored
    * generation SQL and [[TxGeneratedCols.generatedOf]] speak LOGICAL
    * names, which drift under RENAME COLUMN (a logical-name bound would
    * go inert after a rename, or worse hit a DIFFERENT column's physical
    * zone maps in a rename-swap). */
  private def shapes(spark: SparkSession, snap: TxTable.Snapshot)
      : Seq[(String, String, String, org.apache.spark.sql.types.DataType)] =
    TxGeneratedCols.generatedOf(snap).flatMap { case (gname, sql, dt) =>
      Try(spark.sessionState.sqlParser.parseExpression(sql)).toOption
        .flatMap {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if f.nameParts.length == 1 && f.arguments.length == 1 &&
                !f.isDistinct =>
            (f.nameParts.head.toLowerCase(java.util.Locale.ROOT),
                f.arguments.head) match {
              case (fn @ ("year" | "to_date" | "date"),
                  a: org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute) if a.nameParts.length == 1 =>
                Some((if (fn == "date") "to_date" else fn,
                  snap.physicalName(a.nameParts.head),
                  snap.physicalName(gname), dt))
              case _ => None
            }
          case c: org.apache.spark.sql.catalyst.expressions.Cast
              if c.dataType == DateType =>
            c.child match {
              case a: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute if a.nameParts.length == 1 =>
                Some(("to_date", snap.physicalName(a.nameParts.head),
                  snap.physicalName(gname), dt))
              case _ => None
            }
          case _ => None
        }
    }

  /** The predicate value's epoch day + whether it is timezone-exact
    * (DATE values are; TIMESTAMP/Instant values use UTC and need the
    * one-unit widening). */
  private def epochDayOf(v: Any): Option[(Long, Boolean)] = v match {
    case d: java.sql.Date => Some((d.toLocalDate.toEpochDay, true))
    case d: java.time.LocalDate => Some((d.toEpochDay, true))
    case t: java.sql.Timestamp =>
      Some((Math.floorDiv(t.getTime, 86400000L), false))
    case i: java.time.Instant =>
      Some((Math.floorDiv(i.getEpochSecond, 86400L), false))
    case _ => None
  }

  /** Derived pruning bounds over the generated columns, one per source-
    * column bound whose shape supports derivation. Derived bounds carry
    * the ORIGINAL bound's tag (for used-marking) and are pruning-only. */
  def deriveBounds(spark: SparkSession, snap: TxTable.Snapshot,
                   direct: Seq[TxFilePlanner.Range])
      : Seq[TxFilePlanner.Range] = {
    val sh = Try(shapes(spark, snap)).getOrElse(Seq.empty)
    if (sh.isEmpty) return Seq.empty
    def genValue(fn: String,
                 dt: org.apache.spark.sql.types.DataType,
                 v: Any, widen: Int): Option[Any] =
      epochDayOf(v).flatMap { case (day, tzExact) =>
        val m = if (tzExact) 0L else widen.toLong
        fn match {
          case "year" =>
            val y = java.time.LocalDate.ofEpochDay(day).getYear + m
            dt match {
              case IntegerType => Some(Int.box(y.toInt))
              case LongType => Some(Long.box(y))
              case _ => None
            }
          case "to_date" if dt == DateType =>
            Some(java.sql.Date.valueOf(
              java.time.LocalDate.ofEpochDay(day + m)))
          case _ => None
        }
      }
    direct.flatMap { case TxFilePlanner.Range(c, lo, hi, tag) =>
      sh.filter(_._2 == c).flatMap { case (fn, _, gname, dt) =>
        // derived bounds are never strict: f(v) is the widened unit
        // containing v, and rows equal to the boundary unit must stay
        val glo = lo.flatMap { case (v, _) =>
          genValue(fn, dt, v, widen = -1).map(gv => (gv, false)) }
        val ghi = hi.flatMap { case (v, _) =>
          genValue(fn, dt, v, widen = +1).map(gv => (gv, false)) }
        if (glo.isEmpty && ghi.isEmpty) Seq.empty
        else Seq(TxFilePlanner.Range(gname, glo, ghi, tag))
      }
    }
  }
}

private[sources] object TxCatalogPruning {
  import scala.util.Try

  import org.apache.spark.sql.sources._

  import TxFilePlanner.{Eq, Probe, Range}

  /** Translate pushed filters (PHYSICAL names) into the planner's probe;
    * returns the kept entries and the filters that pruned. Strictness
    * matters when a bound ALIGNS with a file envelope edge — the common
    * case for hidden partitions (`ts < 'day boundary'` must prune that
    * day), and equally sound for zone maps (min == v under `col < v`
    * holds no matching row). */
  def prune(spark: SparkSession, path: String, snap: TxTable.Snapshot,
            schema: StructType, filters: Array[Filter])
      : (Seq[TxTable.FileEntry], Array[Filter]) = {
    val direct: Seq[Range] = filters.toSeq.zipWithIndex.flatMap {
      case (GreaterThanOrEqual(c, v), i) =>
        Seq(Range(c, Some((v, false)), None, i))
      case (GreaterThan(c, v), i) => Seq(Range(c, Some((v, true)), None, i))
      case (LessThanOrEqual(c, v), i) =>
        Seq(Range(c, None, Some((v, false)), i))
      case (LessThan(c, v), i) => Seq(Range(c, None, Some((v, true)), i))
      case (EqualTo(c, v), i) if v != null =>
        Seq(Range(c, Some((v, false)), Some((v, false)), i))
      case _ => Seq.empty
    }
    // generated-column predicate DERIVATION (the Delta trick): a bound
    // on the RAW source column implies a bound on a GENERATED column
    // through a monotone generation expression — `o_orderdate >= X`
    // implies `o_year >= year(X) − margin` — so filters written only on
    // the source column still prune by the generated column's zone maps
    // and hidden-partition envelopes. Derived bounds carry the ORIGINAL
    // filter's tag and never reach the row filter (pruning-only).
    val ranges = direct ++ TxGeneratedDerivation.deriveBounds(spark, snap,
      direct)
    // equality/IN values become literals of the column's catalyst type:
    // the value the writers' hash saw
    val eqs: Seq[Eq] = filters.toSeq.zipWithIndex.flatMap {
      case (EqualTo(c, v), i) if v != null => Seq((c, Seq(v), i))
      case (In(c, vs), i) if vs.nonEmpty && !vs.contains(null) =>
        Seq((c, vs.toSeq, i))
      case _ => Seq.empty
    }.flatMap { case (c, vs, i) =>
      schema.fields.find(_.name == c).flatMap { f =>
        Try(vs.map(Literal.create(_, f.dataType))).toOption
      }.map(Eq(c, _, i))
    }
    val (kept, used) = TxFilePlanner.plan(spark, path, snap,
      Probe(ranges, eqs))
    (kept, filters.zipWithIndex.collect { case (f, i) if used(i) => f })
  }
}

/** Snapshot-pinned scan: one input partition per bucket (exactly the
  * manifest's files — no listing, no footer merging), read through the
  * stock vectorized parquet reader, partitioning reported as
  * `bucket(n, key)` so joins/aggregations on the bucket key plan without
  * an exchange. `snap` is the whole version (the equality-delete fold is
  * memoized per version, so it must see every file); `kept` is the
  * statically pruned subset this scan serves. */
final class TxScan(path: String, snap: TxTable.Snapshot,
                   kept: Seq[TxTable.FileEntry],
                   bucketing: (String, Int), dataSchema: StructType,
                   required: StructType,
                   pinnedVersion: Option[Long] = None,
                   options: CaseInsensitiveStringMap =
                     CaseInsensitiveStringMap.empty(),
                   pushed: Array[org.apache.spark.sql.sources.Filter] =
                     Array.empty)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** Files this scan serves: the statically pruned snapshot, further
    * shrunk by runtime (dynamic-pruning) filters before execution. */
  @volatile private var entries: Seq[TxTable.FileEntry] = kept

  /** `required` is PHYSICAL (what readers ask the files for); Spark's
    * plan attributes are LOGICAL — positionally identical, names only. */
  private val logicalRequired: StructType =
    StructType(required.fields.map(f => f.copy(name = snap.logicalName(f.name))))
  private val logicalKey: String = snap.logicalName(bucketing._1)

  override def readSchema(): StructType = logicalRequired
  override def toBatch: Batch = this

  /** EXACT statistics from the log — what makes the planner's broadcast
    * and AQE decisions right without an ANALYZE pass: numRows is the
    * manifest's recorded per-file row counts (absent counts → unknown,
    * never a guess), sizeInBytes the files' actual lengths (immutable
    * files; lengths cached per (table, file) across queries). A DSv2
    * source without this reports the conf default size and a small
    * TxTable dim would never auto-broadcast. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val spark = SparkSession.active
    entries match {
      // an UNPRUNED scan over a shard-backed snapshot: exact statistics
      // would cost the driver materialization laziness exists to avoid
      // PLUS one filesystem stat per file (10⁸ RPCs at scale — Spark
      // re-requests stats per plan, including once per streaming
      // micro-batch). Unknown is the honest answer, and Spark's
      // conservative defaults (assume big, never broadcast) are exactly
      // right for a table that large. Pruned scans carry eager
      // survivor lists and keep exact stats.
      case le: TxTable.LazyEntries if !le.isForced =>
        return new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
        }
      case _ => ()
    }
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val size = entries.map(e => TxFileSizes.of(fs, path, e)).sum
    val rows = entries.map(_.liveRows)
    // column-level stats for the CBO: the zone-map sidecars fold into
    // per-column (min, max, nullCount) over exactly the planned file
    // set, and NDV-ANALYZEd columns add a distinctCount from the merged
    // per-file HLL sketches — so filter-selectivity estimation and join
    // reordering see real numbers instead of defaults. Computed only
    // under spark.sql.cbo.enabled (logical-stats requests happen per
    // plan; the fold is in-memory over cached sidecar maps, the sketch
    // union memoized per (table, version, column)).
    val cstats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (!spark.sessionState.conf.cboEnabled)
        java.util.Collections.emptyMap()
      else TxColumnStats.forEntries(spark, path,
        snap.copy(entries = entries), entries)
    // unfolded equality deletes make liveRows an overcount — report
    // rows unknown rather than a wrong exact number (CBO estimates
    // degrade gracefully; a wrong broadcast decision would not)
    val eqDirty = TxTable.parseEqDeletes(snap.props).nonEmpty
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        if (eqDirty || rows.exists(_.isEmpty))
          java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(rows.flatten.sum)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        cstats
    }
  }

  /** Dynamic pruning for the catalog scan (the DSv2 runtime-filtering
    * shape): when this table joins a filtered dimension on its bucket
    * key, Spark feeds the dim's surviving key values here at execution
    * time and the scan drops every bucket they don't hash into —
    * partition pruning for a layout that has no directory partitions.
    * Over-keep only; the join itself still evaluates exactly. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(logicalKey))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Unit = {
    entries = TxRuntimePrune(path, snap.copy(entries = entries), predicates,
      logicalKey, dataSchema(bucketing._1).dataType)
  }

  /** The commit log as a streaming source (offsets = commit versions; the
    * public Delta streaming-source shape) — see [[TxMicroBatchStream]]. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pinnedVersion.isEmpty,
      s"cannot stream a time-travel snapshot $path@v${snap.version}: a " +
        "pinned version never advances — use option startingVersion to " +
        "begin the subscription at a specific commit instead")
    new TxMicroBatchStream(path, dataSchema, required, options)
  }

  override def description(): String =
    s"GraftTxTable $path v${snap.version} buckets=${bucketing._2}"

  /** ONE input partition per data FILE, each carrying its bucket as the
    * partition key. Spark owns the grouping decision from there:
    * with `spark.sql.sources.v2.bucketing.enabled` it groups same-key
    * splits back into one task per bucket (the storage-partitioned join
    * shape); without it every file is its own task (maximal plain-scan
    * parallelism — a pre-grouped scan would cap reads at |buckets| tasks
    * no matter how many executors exist); and with
    * `partiallyClusteredDistribution.enabled` it can keep a HOT bucket's
    * files as separate tasks while replicating the other side — the skew
    * escape hatch for co-bucketed joins, which AQE cannot provide because
    * there is no exchange to re-plan (spec-pinned skew posture in
    * TxCatalogSpec). */
  override def planInputPartitions(): Array[InputPartition] =
    TxScanPlanning.partitionsFor(path, entries,
      TxEqFold.bitmapsFor(SparkSession.active, path, snap))

  override def createReaderFactory(): PartitionReaderFactory =
    TxScanPlanning.augmentedReaderFor(entries, dataSchema, required,
      pushed,
      eqDirty = TxEqFold.bitmapsFor(SparkSession.active, path, snap)
        .nonEmpty)

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(bucketing._2, logicalKey)),
      entries.size)
}

/** Shared physical planning for every batch scan over a TxTable file
  * list (plain scans and row-level-operation scans): one input partition
  * per data file keyed by its bucket, and a reader factory over the
  * on-disk file schema. One definition so a future planning change
  * (file-size capping, locality hints) applies to every scan shape. */
private[sources] object TxScanPlanning {
  def partitionsFor(path: String,
                    entries: Seq[TxTable.FileEntry],
                    eqBitmaps: Map[String, (String, Array[Byte])] =
                      Map.empty): Array[InputPartition] = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deletion-vector payloads are resolved HERE, driver-side, and each
    // attached to its own file's partition — a task then serializes only
    // the bitmap it will apply, not the union of every scanned file's
    // (the factory travels with every task; a map there is paid per task).
    // Unfolded equality deletes arrive pre-folded to positions
    // ([[TxEqFold]]) and OR into the same payload — one machinery.
    val byRel = graft.ops.DeletionVectors.loadBitmaps(spark, path,
      entries.filter(_.dv.isDefined))
    entries.sortBy(e => (e.bucket, e.rel)).zipWithIndex.map {
      case (e, i) =>
        val p = new Path(s"$path/${e.rel}")
        // length from the manifest's recorded statistic (zero metadata
        // RPCs at plan time); legacy entries degrade to one cached stat
        GraftParquetShim.bucketFilePartition(i,
          Array(GraftParquetShim.partitionedFile(p.toString,
            TxFileSizes.of(fs, path, e), 0L)), e.bucket,
          TxEqFold.merge(byRel.get(e.rel), eqBitmaps.get(e.rel)))
          : InputPartition
    }.toArray
  }

  /** The file schema includes the layout bucket column (it travels inside
    * every data file), so a projection requesting the bucket METADATA
    * column is served straight from the files. `pushed` filters enable
    * row-group/page skipping inside kept files — pass them ONLY for plain
    * query scans: a row-level-operation scan must read every row of the
    * affected files (the non-matching rows are the COW rewrite's
    * keep-side), so its reader never filters. */
  def readerFor(dataSchema: StructType, required: StructType,
                pushed: Array[org.apache.spark.sql.sources.Filter] =
                  Array.empty): PartitionReaderFactory =
    GraftParquetShim.readerFactory(SparkSession.active,
      TxFileSchema(dataSchema), required, pushed)

  /** DV-aware reader factory for `entries`: when none carry a deletion
    * vector this IS the stock (vectorized, filter-pushing) factory —
    * zero overhead on clean tables. When some do, the scan degrades to
    * row-based reads (Spark's DSv2 exec refuses mixed row/columnar
    * partitions) and DV'd files additionally read WITHOUT pushed parquet
    * filters — row-group/page skipping would break the physical-position
    * arithmetic the bitmaps index — while a per-partition wrapper drops
    * the marked positions. The read tax lasts until the next [[TxTable
    * .compact]] folds the vectors away; correctness never depends on the
    * fast path. */
  def dvReaderFor(entries: Seq[TxTable.FileEntry],
                  dataSchema: StructType, required: StructType,
                  pushed: Array[org.apache.spark.sql.sources.Filter] =
                    Array.empty,
                  eqDirty: Boolean = false): PartitionReaderFactory = {
    val base = readerFor(dataSchema, required, pushed)
    if (!entries.exists(_.dv.isDefined) && !eqDirty) base
    else {
      val raw =
        if (pushed.isEmpty) base else readerFor(dataSchema, required)
      // the factory carries NO bitmaps — each partition ships its own
      // file's payload (attached by [[partitionsFor]])
      new DvPartitionReaderFactory(base, raw)
    }
  }

  /** The synthesized row-identity columns ([[GraftFileMetadataColumn]],
    * [[GraftPosMetadataColumn]]) — never stored in data files. */
  private val SynthCols = Set("_file", "_pos")

  /** [[dvReaderFor]] plus row-identity synthesis: when `required` asks
    * for `_file`/`_pos`, the parquet reader serves the remaining columns
    * UNFILTERED (pushed parquet filters would skip rows and corrupt the
    * physical-position count) and a per-partition wrapper appends the
    * file's table-relative rel and the running physical position —
    * positions stay correct over deletion-vector'd files because the DV
    * skip COUNTS the dead rows it drops. Scans that don't ask for
    * identity pay nothing (delegates to [[dvReaderFor]]). */
  def augmentedReaderFor(entries: Seq[TxTable.FileEntry],
                         dataSchema: StructType, required: StructType,
                         pushed: Array[org.apache.spark.sql.sources.Filter] =
                           Array.empty,
                         eqDirty: Boolean = false): PartitionReaderFactory = {
    if (!required.fieldNames.exists(SynthCols))
      return dvReaderFor(entries, dataSchema, required, pushed, eqDirty)
    val dataRequired =
      StructType(required.fields.filterNot(f => SynthCols(f.name)))
    val raw = readerFor(dataSchema, dataRequired)
    new SynthPartitionReaderFactory(raw, required, dataRequired)
  }
}

/** Row-identity synthesis over a delegate parquet reader: every served
  * partition must hold exactly ONE file (the TxTable planners' shape);
  * the wrapper counts physical positions, drops deletion-vector-marked
  * ones, and projects `(data columns…, _file, _pos)` in the required
  * order. Row-based by construction — identity scans are the row-level
  * operations' affected-file reads, never the hot analytical path. */
private[sources] final class SynthPartitionReaderFactory(
    raw: PartitionReaderFactory, required: StructType,
    dataRequired: StructType)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.PartitionReader

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FilePartition]
    require(fp.files.length == 1,
      "row-identity scans plan one file per partition")
    val rel = DvPartitionReaderFactory.RelRe
      .findFirstIn(fp.files.head.filePath.toString)
      .getOrElse(fp.files.head.filePath.toString)
    val bm = DvPartitionReaderFactory.payloadOf(p).map { case (key, bytes) =>
      graft.ops.DeletionVectors.cachedBitmap(key, bytes) }
    val relUtf = org.apache.spark.unsafe.types.UTF8String.fromString(rel)
    val dataIdx = dataRequired.fieldNames.zipWithIndex.toMap
    // per-output-field plan: Left(data ordinal) | Right(synthesizer)
    val plan: Array[Either[Int, String]] = required.fields.map { f =>
      if (f.name == "_file" || f.name == "_pos") Right(f.name)
      else Left(dataIdx(f.name))
    }
    val delegate = raw.createReader(p)
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private val out = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(required.length)
      override def next(): Boolean = {
        while (delegate.next()) {
          pos += 1
          val dead = bm.exists(b =>
            pos <= graft.ops.DeletionVectors.MaxPos && b.contains(pos.toInt))
          if (!dead) return true
        }
        false
      }
      override def get(): InternalRow = {
        val row = delegate.get()
        var i = 0
        while (i < plan.length) {
          plan(i) match {
            case Left(j) =>
              out.update(i, row.get(j, dataRequired.fields(j).dataType))
            case Right("_file") => out.update(i, relUtf)
            case Right(_) => out.update(i, pos)
          }
          i += 1
        }
        out
      }
      override def close(): Unit = delegate.close()
    }
  }
}

/** Per-partition deletion-vector application over delegate parquet
  * readers: clean partitions delegate untouched (row-based — see
  * [[TxScanPlanning.dvReaderFor]] for why the whole scan drops columnar),
  * DV'd partitions read through the UNFILTERED delegate counting physical
  * row positions and skip the bitmap-marked ones. Positions count per
  * FILE, so a DV'd partition must hold exactly one file — every TxTable
  * planner that can serve DV'd entries plans them one-file-per-partition.
  * The factory itself carries NO bitmaps (it is serialized with EVERY
  * task): each DV'd partition ships its own file's serialized bitmap,
  * attached driver-side at planning time; executors deserialize each once
  * through [[graft.ops.DeletionVectors]]'s bounded cache. */
private[sources] final class DvPartitionReaderFactory(
    base: PartitionReaderFactory, raw: PartitionReaderFactory)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.PartitionReader

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val dvs = DvPartitionReaderFactory.payloadOf(p)
    if (dvs.isEmpty) return base.createReader(p)
    require(p.asInstanceOf[FilePartition].files.length == 1,
      "a deletion-vector'd file must be planned as its own partition")
    val (key, bytes) = dvs.get
    val delegate = raw.createReader(p)
    new PartitionReader[InternalRow] {
      private val bm = graft.ops.DeletionVectors.cachedBitmap(key, bytes)
      private var pos = -1L
      override def next(): Boolean = {
        while (delegate.next()) {
          pos += 1
          if (pos > graft.ops.DeletionVectors.MaxPos ||
              !bm.contains(pos.toInt)) return true
        }
        false
      }
      override def get(): InternalRow = delegate.get()
      override def close(): Unit = delegate.close()
    }
  }
}

private[sources] object DvPartitionReaderFactory {
  /** The table-relative data-file suffix (same shape the DataFrame path's
    * `input_file_name()` regexp extracts). */
  val RelRe: scala.util.matching.Regex =
    graft.ops.DeletionVectors.RelPattern.r

  /** The partition's own deletion-vector payload (planning-time attached
    * by [[TxScanPlanning.partitionsFor]] / the streaming planner). */
  def payloadOf(p: InputPartition): Option[(String, Array[Byte])] =
    p match {
      case g: GraftParquetShim.GraftBucketFilePartition => g.dv
      case _ => None
    }
}

/** The on-disk file schema: the SQL-visible columns plus the layout
  * bucket column every writer appends. */
private[sources] object TxFileSchema {
  def apply(dataSchema: StructType): StructType =
    if (dataSchema.fieldNames.contains(graft.ops.LayoutOps.BucketCol))
      dataSchema
    else StructType(dataSchema.fields :+ org.apache.spark.sql.types
      .StructField(graft.ops.LayoutOps.BucketCol, IntegerType))
}

/** Runtime-filter translator: IN/= predicates on the bucket key (the v2
  * Predicate shape dynamic pruning delivers, values already catalyst-
  * internal, attribute named by its LOGICAL name) become the planner's
  * equality probe on the PHYSICAL key over `snap`'s entries.
  * Unrecognized predicates prune nothing. */
private[sources] object TxRuntimePrune {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  def apply(path: String, snap: TxTable.Snapshot,
            predicates: Array[Predicate], logicalKey: String,
            keyType: DataType): Seq[TxTable.FileEntry] = {
    def keyRef(e: V2Expr): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 && r.fieldNames()(0) == logicalKey
      case _ => false
    }
    def valuesOf(p: Predicate): Option[Seq[Any]] = p.name() match {
      case "IN" if p.children().nonEmpty && keyRef(p.children()(0)) =>
        val vs = p.children().drop(1).toSeq.map {
          case l: V2Literal[_] => Option(l.value: Any)
          case _ => None
        }
        if (vs.forall(_.isDefined)) Some(vs.flatten) else None
      case "=" if p.children().length == 2 && keyRef(p.children()(0)) =>
        p.children()(1) match {
          case l: V2Literal[_] => Some(Seq(l.value))
          case _ => None
        }
      case _ => None
    }
    val key = snap.bucketing.fold(logicalKey)(_._1)
    val eqs = predicates.toSeq.flatMap(valuesOf).map(vs =>
      TxFilePlanner.Eq(key, vs.map(Literal(_, keyType))))
    if (eqs.isEmpty) snap.entries
    else TxFilePlanner.plan(SparkSession.active, path, snap,
      TxFilePlanner.Probe(Nil, eqs))._1
  }
}

/** Per-(table, file) length cache for scan statistics — data files are
  * immutable and write-once, so a length never goes stale. Bounded: a
  * long-lived session that churns tables (write/compact/vacuum/drop)
  * would otherwise accrete one entry per ever-seen file forever; past
  * the cap the map is simply cleared (a miss is one cheap metadata RPC,
  * and correctness never depends on a hit). */
private[graft] object TxFileSizes {
  private val MaxEntries = 100000
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def of(fs: org.apache.hadoop.fs.FileSystem, table: String,
         rel: String): Long = {
    if (cache.size() > MaxEntries) cache.clear()
    cache.computeIfAbsent(s"$table/$rel",
      k => java.lang.Long.valueOf(fs.getFileStatus(new Path(k)).getLen))
      .longValue()
  }
  /** Entry length: the manifest's recorded `b:` statistic when present
    * (zero filesystem calls — every post-round-15 commit records it),
    * else one cached stat (legacy entries). */
  def of(fs: org.apache.hadoop.fs.FileSystem, table: String,
         e: graft.ops.TxTable.FileEntry): Long =
    e.bytes.getOrElse(of(fs, table, e.rel))
}

/** The bucket layout column surfaced as a metadata column. */
object GraftBucketMetadataColumn extends MetadataColumn {
  override def name(): String = graft.ops.LayoutOps.BucketCol
  override def dataType(): DataType = IntegerType
  override def comment(): String =
    "layout bucket this row's key hashes into (pmod(xxhash64(key, 42), n))"
}

/** Position-based row identity (the public Iceberg `_file`/`_pos` shape):
  * the table-relative data file and the row's PHYSICAL position inside
  * it. Together they are the rowId the delta-based row-level operations
  * address deletes by — the same (file, position) domain the deletion-
  * vector bitmaps index, so a delta DELETE is literally "set this bit".
  * Synthesized by the scan (see [[TxScanPlanning.augmentedReaderFor]]);
  * never stored in data files. */
object GraftFileMetadataColumn extends MetadataColumn {
  override def name(): String = "_file"
  override def dataType(): DataType =
    org.apache.spark.sql.types.StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "table-relative data file this row lives in"
}

object GraftPosMetadataColumn extends MetadataColumn {
  override def name(): String = "_pos"
  override def dataType(): DataType = org.apache.spark.sql.types.LongType
  override def isNullable: Boolean = false
  override def comment(): String =
    "physical row position inside _file (deletion-vector bit domain)"
}

// --- SQL row-level operations (MERGE / UPDATE / DELETE) -------------------

/** Group-based (copy-on-write) row-level operation over the commit log —
  * the rewrite every SQL `MERGE INTO` / `UPDATE` / `DELETE` on a TxTable
  * plans through (the public Iceberg/Delta COW shape):
  *
  *   - Spark rewrites the statement into ReplaceData: scan the AFFECTED
  *     groups (here: files), apply the merge actions, write back every
  *     surviving row of those groups, then swap.
  *   - **Group granularity is the file, pruned to the touched BUCKETS.**
  *     Static conditions prune through the same zone-map/bucket-identity
  *     kernel as any read ([[TxCatalogPruning]]); for MERGE, Spark's
  *     runtime group filtering feeds the SOURCE's join-key values into
  *     [[TxRowLevelScan.filter]], which hashes them with the writers' own
  *     layout kernel and keeps only their buckets' files — I/O and rewrite
  *     volume ∝ update key spread, never table size (spec-pinned
  *     file-count assertion), the property that makes CDC-style MERGE
  *     viable at 100 TB.
  *   - **One atomic commit**: the write removes exactly the files the
  *     filtered scan served and adds the staged replacements, validating
  *     under the optimistic protocol that no concurrent commit touched the
  *     rewritten files (a stale basis fails loudly — re-run the MERGE —
  *     rather than silently undoing the concurrent write).
  *
  * The scan and the write share this operation instance: [[scannedFiles]]
  * is the contract between them. */
final class TxRowLevelOperation(path: String, snap: TxTable.Snapshot,
    bucketing: (String, Int), dataSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with TxAffectedFiles {

  scannedFiles = snap.entries
  basisProps = snap.props

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftTxTable $cmd $path v${snap.version}"

  /** Requiring the bucket metadata column keeps Spark's rewrite on the
    * metadata-projecting write path (copied/updated rows arrive through
    * the data projection, never as raw MergeRows output). The writer
    * itself recomputes placement from the key, so the metadata row is
    * informational. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(graft.ops.LayoutOps.BucketCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TxRowLevelScanBuilder(this, path, snap, bucketing, dataSchema)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        // replacement rows arrive under LOGICAL names; files store
        // PHYSICAL — positional rename, like every write boundary
        new TxReplaceDataWrite(TxRowLevelOperation.this, path,
          StructType(info.schema().fields.map(f =>
            f.copy(name = snap.physicalName(f.name)))), bucketing)
    }
}

/** The scan↔write contract every row-level operation shape shares: the
  * files the (statically + runtime) filtered scan serves — exactly what
  * the group-based commit removes, and the candidate set whose deletion
  * vectors the delta-based commit may touch. Starts at the full snapshot
  * (no filterable condition = full-table work) and only shrinks. */
private[sources] trait TxAffectedFiles {
  @volatile private[sources] var scannedFiles: Seq[TxTable.FileEntry] =
    Seq.empty
  /** Properties of the operation's basis snapshot — the commit-time
    * staleness check compares the equality-delete registry against the
    * fresh head (a key sidecar registered mid-statement kills rows the
    * rewrite would otherwise resurrect). */
  @volatile private[sources] var basisProps: Map[String, String] =
    Map.empty
}

/** Scan side of the rewrite: static predicates prune files exactly like
  * the ordinary catalog scan; the build result additionally accepts
  * runtime group filters. */
final class TxRowLevelScanBuilder(op: TxAffectedFiles, path: String,
                                  snap: TxTable.Snapshot,
                                  bucketing: (String, Int),
                                  dataSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = dataSchema
  private var kept: Seq[TxTable.FileEntry] = snap.entries

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // LOGICAL in (plan attributes), PHYSICAL stored (file readers);
    // metadata columns (_file/_pos/bucket) are never in the rename map
    required = StructType(requiredSchema.fields.map(f =>
      f.copy(name = snap.physicalName(f.name))))
  }

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (k, _) = TxCatalogPruning.prune(SparkSession.active, path, snap,
      dataSchema, filters.map(TxFilterNames.rename(_, snap.physicalName)))
    kept = k
    op.scannedFiles = k
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def build(): Scan =
    new TxRowLevelScan(op, path, kept, bucketing, dataSchema, required, snap)
}

/** The affected-groups scan: serves the kept files and, via
  * [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]],
  * accepts Spark's runtime group filter — the distinct join-key values of
  * the MERGE source — hashed through the writers' own bucket kernel to
  * keep only the touched buckets' files. Over-keep only; every predicate
  * is still evaluated on rows by the rewrite plan itself. */
final class TxRowLevelScan(op: TxAffectedFiles, path: String,
                           initialEntries: Seq[TxTable.FileEntry],
                           bucketing: (String, Int),
                           dataSchema: StructType, required: StructType,
                           snap: TxTable.Snapshot)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  @volatile private var entries: Seq[TxTable.FileEntry] = initialEntries

  // column-mapping twins: plan-facing names logical, file-facing physical
  private val logicalRequired: StructType = StructType(required.fields.map(
    f => f.copy(name = snap.logicalName(f.name))))
  private val logicalKey: String = snap.logicalName(bucketing._1)

  override def readSchema(): StructType = logicalRequired
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftTxTable row-level scan $path ($logicalKey)"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(logicalKey))

  override def filter(predicates: Array[Predicate]): Unit = {
    entries = TxRuntimePrune(path, snap.copy(entries = entries), predicates,
      logicalKey, dataSchema(bucketing._1).dataType)
    op.scannedFiles = entries
  }

  private def eqBitmaps: Map[String, (String, Array[Byte])] =
    TxEqFold.bitmapsFor(SparkSession.active, path, snap)

  override def planInputPartitions(): Array[InputPartition] =
    TxScanPlanning.partitionsFor(path, entries, eqBitmaps)

  /** DV-aware (and equality-delete-aware): an affected file with
    * marked-dead rows must hand the rewrite only its LIVE rows — a
    * plain read would resurrect the dead ones into the replacement
    * files. Synthesizes `_file`/`_pos` when the operation is
    * delta-based (its rowId projection needs them). */
  override def createReaderFactory(): PartitionReaderFactory =
    TxScanPlanning.augmentedReaderFor(entries, dataSchema, required,
      eqDirty = eqBitmaps.nonEmpty)
}

/** Write side of the rewrite: stages replacement rows per bucket like any
  * catalog write, then publishes ONE commit that removes exactly the
  * scanned files. The conflict check makes concurrent-writer races loud:
  * if any rewritten file is no longer live at commit time, the merge's
  * basis is stale and the statement must re-run. */
final class TxReplaceDataWrite(op: TxRowLevelOperation, path: String,
                               querySchema: StructType,
                               bucketing: (String, Int))
    extends org.apache.spark.sql.connector.write.Write {
  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new TxReplaceBatchWrite(op, path, querySchema, bucketing)
}

final class TxReplaceBatchWrite(op: TxRowLevelOperation, path: String,
                                querySchema: StructType,
                                bucketing: (String, Int))
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private val stagedRel = s"files/${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val spark = SparkSession.active
    val gens = TxGeneratedCols.compile(spark, path, querySchema)
    new TxDataWriterFactory(path, stagedRel, querySchema, bucketing,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.execution.datasources.v2.parquet
          .GraftParquetShim.writeHadoopConf(spark)),
      TxPartTag.forWrite(spark, path,
        StructType(querySchema.fields ++ gens.appended)),
      gens, genEnforce = false)
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val adds = messages.toSeq.flatMap {
      case TxCommitMessage(fls) => fls.map { case (b, rel, nr) =>
        TxTable.FileEntry(b, rel, Some(nr)) }
      case _ => Seq.empty
    }
    val scanned = op.scannedFiles
    val removes = scanned.map(_.rel).toSet
    if (adds.isEmpty && removes.isEmpty) return // nothing was affected
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writeSchema = StructType(querySchema.fields :+
      org.apache.spark.sql.types.StructField(
        graft.ops.LayoutOps.BucketCol, IntegerType))
    var attempt = 0
    while (attempt <= 5) {
      val snap = TxTable.snapshot(spark, path)
      val liveByRel = snap.entries.map(e => e.rel -> e).toMap
      val gone = removes.filterNot(liveByRel.contains)
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$path: a concurrent commit rewrote files this MERGE/UPDATE/" +
            "DELETE read — its basis is stale; re-run the statement " +
            s"(missing: ${gone.take(3).mkString(", ")}…)")
      // a rel can survive while its DELETION VECTOR grows (a concurrent
      // MOR delete): committing this rewrite — written from the pre-
      // delete scan — would resurrect those rows AND erase the delete.
      // Same staleness, made loud.
      val dvDrift = scanned.filter(e => liveByRel(e.rel).dv != e.dv)
      if (dvDrift.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$path: a concurrent delete marked rows dead in files this " +
            "MERGE/UPDATE/DELETE read — its basis is stale; re-run the " +
            s"statement (drifted: ${dvDrift.take(3).map(_.rel)
              .mkString(", ")}…)")
      // same staleness through the EQUALITY-delete registry: a key
      // sidecar registered since the scan kills rows this rewrite would
      // resurrect
      if (TxTable.parseEqDeletes(snap.props) !=
          TxTable.parseEqDeletes(op.basisProps))
        throw new java.util.ConcurrentModificationException(
          s"$path: a concurrent equality delete registered since this " +
            "MERGE/UPDATE/DELETE read its basis — re-run the statement")
      val merged = TxTable.mergeSchemas(
        snap.schema.getOrElse(TxTable.allNullable(writeSchema)), writeSchema, snap.dropped)
      if (TxTable.commitNext(fs, path, snap, adds = adds,
          removes = removes, txn = None, schema = Some(merged),
          bucketing = Some(bucketing)))
        return
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$path: row-level commit lost the race 5 times; staged files " +
        s"remain under $stagedRel for vacuum")
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path, stagedRel), true)
    ()
  }
}

// --- delta-based (merge-on-read) row-level operations ----------------------

/** SQL MERGE INTO / UPDATE / DELETE as a DELTA operation (Spark's
  * `SupportsDelta`, the public Iceberg position-delta shape) over the
  * commit log: instead of rewriting every affected file (the group-based
  * COW sibling), the write receives exactly the CHANGED rows —
  *
  *   - a matched-and-deleted row arrives as its `(_file, _pos)` row id →
  *     one bit in that file's deletion-vector bitmap;
  *   - an update arrives as delete + insert
  *     ([[representUpdateAsDeleteAndInsert]]), so a row whose bucket key
  *     changes migrates buckets correctly by construction;
  *   - inserts append through the same per-bucket staging writer as any
  *     catalog write.
  *
  * ONE atomic commit publishes the appended files plus the touched
  * entries re-added with merged [[TxTable.DvRef]]s (a file whose live
  * rows all died drops instead). Write volume ∝ changed rows — the CDC
  * MERGE posture at 100 TB, where the COW rewrite's write amplification
  * (whole files per sparse update) dominates statement cost. The read-
  * side bitmap tax is reclaimed by the next compaction. Candidate I/O is
  * still pruned like the COW path: static predicates + the runtime
  * group filter shrink the scan to the source keys' buckets. */
final class TxDeltaRowLevelOperation(path: String, snap: TxTable.Snapshot,
    bucketing: (String, Int), dataSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta
    with TxAffectedFiles {

  scannedFiles = snap.entries
  basisProps = snap.props

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftTxTable delta $cmd $path v${snap.version}"

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(GraftFileMetadataColumn.name()),
      Expressions.column(GraftPosMetadataColumn.name()))

  /** False — updates arrive WHOLE at [[TxDeltaWriter.update]] (rowId +
    * new row in one call), which is what lets the task pair each
    * deleted position with its replacement's position for exact
    * update_preimage/update_postimage change-feed rows. The writer
    * still splits them into delete-bit + append internally, so
    * bucket-key migration works by construction either way. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TxRowLevelScanBuilder(this, path, snap, bucketing, dataSchema)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new TxDeltaWrite(TxDeltaRowLevelOperation.this, path,
          StructType(info.schema().fields.map(f =>
            f.copy(name = snap.physicalName(f.name)))), bucketing)
    }
}

final class TxDeltaWrite(op: TxAffectedFiles, path: String,
                         dataSchema: StructType, bucketing: (String, Int))
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  override def toBatch
      : org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new TxDeltaBatchWrite(op, path, dataSchema, bucketing)
}

/** Commit side of the delta write: tasks report appended files and
  * per-file deleted-position bitmaps; the driver ORs the task bitmaps,
  * merges them with any EXISTING vectors on a fresh snapshot (a repeat
  * MERGE on the same files unions, never resets), stages ONE DV sidecar,
  * and publishes one manifest commit. Conflicts are loud: a touched file
  * no longer live at commit time means the statement's row positions
  * refer to a rewritten file — stale basis, re-run. */
final class TxDeltaBatchWrite(op: TxAffectedFiles, path: String,
                              dataSchema: StructType,
                              bucketing: (String, Int))
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  private val stagedRel = s"files/${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val spark = SparkSession.active
    val gens = TxGeneratedCols.compile(spark, path, dataSchema)
    new TxDeltaWriterFactory(path, stagedRel, dataSchema, bucketing,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.execution.datasources.v2.parquet
          .GraftParquetShim.writeHadoopConf(spark)),
      TxPartTag.forWrite(spark, path,
        StructType(dataSchema.fields ++ gens.appended)),
      gens)
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    import org.roaringbitmap.RoaringBitmap
    val spark = SparkSession.active
    val inserts = messages.toSeq.flatMap {
      case TxDeltaCommitMessage(fls, _, _, _) =>
        fls.map { case (b, rel, nr) => TxTable.FileEntry(b, rel, Some(nr)) }
      case _ => Seq.empty
    }
    // OR the task bitmaps per file (tasks partition rows, bitmaps union)
    val taskDeletes = scala.collection.mutable.Map
      .empty[String, RoaringBitmap]
    def fold(into: scala.collection.mutable.Map[String, RoaringBitmap],
             dels: Seq[(String, Array[Byte])]): Unit =
      dels.foreach { case (rel, b) =>
        val bm = graft.ops.DeletionVectors.deserialize(b)
        into.get(rel) match {
          case Some(acc) => acc.or(bm)
          case None => into(rel) = bm
        }
      }
    val updDel = scala.collection.mutable.Map.empty[String, RoaringBitmap]
    val updIns = scala.collection.mutable.Map.empty[String, RoaringBitmap]
    messages.foreach {
      case TxDeltaCommitMessage(_, dels, ud, ui) =>
        fold(taskDeletes, dels); fold(updDel, ud); fold(updIns, ui)
      case _ =>
    }
    if (inserts.isEmpty && taskDeletes.isEmpty) return
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writeSchema = StructType(dataSchema.fields :+
      org.apache.spark.sql.types.StructField(
        graft.ops.LayoutOps.BucketCol, IntegerType))
    // the scan basis: the files (and their DvRefs) the row positions
    // were computed against — the scan side of the TxAffectedFiles
    // contract
    val scannedByRel = op.scannedFiles.map(e => e.rel -> e).toMap
    // UPDATE classification sidecar (row-level CDF pre/post images):
    // staged ONCE — its bitmaps are positions relative to the scanned
    // files and this statement's own staged inserts, neither of which a
    // lost CAS race changes. Referenced from the commit header; a
    // conflict-abort leaves it an orphan for vacuum like any stage.
    val cdfRel =
      if (updDel.isEmpty && updIns.isEmpty) None
      else Some(graft.ops.DeletionVectors.stageCdfFile(spark, path,
        updDel.toSeq.sortBy(_._1).map { case (r, bm) =>
          ("ud", r, graft.ops.DeletionVectors.serialize(bm)) } ++
        updIns.toSeq.sortBy(_._1).map { case (r, bm) =>
          ("ui", r, graft.ops.DeletionVectors.serialize(bm)) }))
    var attempt = 0
    while (attempt <= 5) {
      val snap = TxTable.snapshot(spark, path)
      val liveByRel = snap.entries.map(e => e.rel -> e).toMap
      val gone = taskDeletes.keySet.filterNot(liveByRel.contains)
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$path: a concurrent commit rewrote files this MERGE/UPDATE " +
            "deleted rows from — its row positions are stale; re-run " +
            s"the statement (missing: ${gone.take(3).mkString(", ")}…)")
      // a touched file whose DELETION VECTOR changed since the scan is a
      // write-write conflict this merge cannot resolve: a concurrently-
      // deleted row may be one this statement UPDATES, and silently
      // re-inserting its new version would undo the delete (the public
      // ConcurrentDeleteReadException posture). Union-only growth cannot
      // distinguish that case, so any drift on a touched file is loud.
      if (TxTable.parseEqDeletes(snap.props) !=
          TxTable.parseEqDeletes(op.basisProps))
        throw new java.util.ConcurrentModificationException(
          s"$path: a concurrent equality delete registered since this " +
            "MERGE/UPDATE read its basis — re-run the statement")
      val dvDrift = taskDeletes.keySet.filter { rel =>
        scannedByRel.get(rel).fold(true)(_.dv != liveByRel(rel).dv) }
      if (dvDrift.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$path: a concurrent delete marked rows dead in files this " +
            "MERGE/UPDATE touched — its basis is stale; re-run the " +
            s"statement (drifted: ${dvDrift.take(3).mkString(", ")}…)")
      // merge with the files' existing vectors (== the scan basis, just
      // verified drift-free)
      val touched = taskDeletes.keys.toSeq.sorted.map(liveByRel)
      val existing = graft.ops.DeletionVectors
        .loadBitmaps(spark, path, touched.filter(_.dv.isDefined))
      val merged = touched.map { e =>
        val bm = taskDeletes(e.rel).clone()
        existing.get(e.rel).foreach { case (_, bytes) =>
          bm.or(graft.ops.DeletionVectors.deserialize(bytes)) }
        (e, graft.ops.DeletionVectors.serialize(bm),
          bm.getLongCardinality)
      }
      // a file whose physical rows ALL died drops outright (exact only
      // when the manifest recorded its count; otherwise keep the DV)
      val (fullyDead, partial) = merged.partition { case (e, _, total) =>
        e.rows.contains(total) }
      val dvRel =
        if (partial.isEmpty) None
        else Some(graft.ops.DeletionVectors.stageDvFile(spark, path,
          partial.map { case (e, bytes, total) => (e.rel, bytes, total) }))
      val reAdds = partial.map { case (e, _, total) =>
        e.copy(dv = Some(TxTable.DvRef(dvRel.get, total)))
      }
      val merged0 = TxTable.mergeSchemas(
        snap.schema.getOrElse(TxTable.allNullable(writeSchema)), writeSchema, snap.dropped)
      if (TxTable.commitNext(fs, path, snap, adds = inserts ++ reAdds,
          removes = taskDeletes.keySet.toSet, txn = None,
          schema = Some(merged0), bucketing = Some(bucketing),
          cdf = cdfRel))
        return
      // lost the race: this attempt's DV sidecar references a stale
      // merge basis — drop it (tasks' appended files are reused as-is)
      dvRel.foreach(r => fs.delete(
        new Path(path, r.split('/').take(2).mkString("/")), true))
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$path: delta commit lost the race 6 times; staged files remain " +
        s"under $stagedRel for vacuum")
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path, stagedRel), true)
    ()
  }
}

/** Task message: appended `(bucket, rel, rows)` files plus this task's
  * serialized per-file deleted-position bitmaps — bounded by the task's
  * own deletes (RoaringBitmaps over row positions compress runs). */
final case class TxDeltaCommitMessage(
    files: Seq[(Int, String, Long)],
    deletes: Seq[(String, Array[Byte])],
    updDeletes: Seq[(String, Array[Byte])] = Seq.empty,
    updInserts: Seq[(String, Array[Byte])] = Seq.empty)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

final class TxDeltaWriterFactory(
    path: String, stagedRel: String, schema: StructType,
    bucketing: (String, Int),
    conf: org.apache.spark.util.SerializableConfiguration,
    part: Option[graft.ops.PartitionTransforms.PartTagger] = None,
    gens: TxGeneratedCols.Gens = TxGeneratedCols.empty)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new TxDeltaWriter(path, stagedRel, schema, bucketing, conf.value,
      partitionId, taskId, part = part, gens = gens)
}

/** Task-side delta writer: inserts ride the shared per-bucket staging
  * writer ([[TxDataWriter]] — placement recomputed from the key);
  * deletes set bits in per-file RoaringBitmaps keyed by the rowId's
  * `_file`. Updates arrive pre-split as delete + insert. */
final class TxDeltaWriter(
    path: String, stagedRel: String, schema: StructType,
    bucketing: (String, Int),
    conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int, taskId: Long,
    part: Option[graft.ops.PartitionTransforms.PartTagger] = None,
    gens: TxGeneratedCols.Gens = TxGeneratedCols.empty)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.roaringbitmap.RoaringBitmap

  private val inserts =
    new TxDataWriter(path, stagedRel, schema, bucketing, conf,
      partitionId, taskId, part = part, gens = gens)

  /** UPDATE rows RECOMPUTE generated columns (the Delta semantics: an
    * update changing a source column must not carry the stale generated
    * value, and explicit assignment is not distinguishable here) — null
    * the generated ordinals so the shared writer fills computed values. */
  private def regenerated(row: InternalRow): InternalRow =
    if (gens.isEmpty) row
    else {
      val r = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(schema.length)
      var i = 0
      while (i < schema.length) {
        r.update(i, row.get(i, schema.fields(i).dataType)); i += 1
      }
      gens.items.foreach { case (ord, _, _) =>
        if (ord < schema.length) r.update(ord, null)
      }
      r
    }
  private val deletes =
    scala.collection.mutable.Map.empty[String, RoaringBitmap]
  // UPDATE pairing (row-level CDF): which deleted positions and which
  // inserted positions belong to updates — pre/post images downstream
  private val updDel =
    scala.collection.mutable.Map.empty[String, RoaringBitmap]
  private val updIns =
    scala.collection.mutable.Map.empty[String, RoaringBitmap]

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val rel = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    require(pos >= 0 && pos <= graft.ops.DeletionVectors.MaxPos,
      s"row position $pos outside positional-bitmap range")
    deletes.getOrElseUpdate(rel, new RoaringBitmap()).add(pos.toInt)
  }

  /** An update IS a delete + insert on the log (bucket-key migration by
    * construction) — but arriving through THIS method (the operation
    * reports `representUpdateAsDeleteAndInsert = false`) lets the task
    * additionally record which delete and which insert were two halves
    * of one update, so the change feed can emit exact
    * `update_preimage`/`update_postimage` rows instead of the
    * conservative delete/insert pair. */
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    val rel = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    require(pos >= 0 && pos <= graft.ops.DeletionVectors.MaxPos,
      s"row position $pos outside positional-bitmap range")
    deletes.getOrElseUpdate(rel, new RoaringBitmap()).add(pos.toInt)
    updDel.getOrElseUpdate(rel, new RoaringBitmap()).add(pos.toInt)
    val (insRel, insPos) = inserts.writeTracked(regenerated(row))
    require(insPos <= graft.ops.DeletionVectors.MaxPos,
      s"insert position $insPos outside positional-bitmap range")
    updIns.getOrElseUpdate(insRel, new RoaringBitmap()).add(insPos.toInt)
  }

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val dataMsg = inserts.commit() match {
      case TxCommitMessage(fls) => fls
      case _ => Seq.empty
    }
    def ser(m: scala.collection.mutable.Map[String, RoaringBitmap]) =
      m.toSeq.map { case (rel, bm) =>
        (rel, graft.ops.DeletionVectors.serialize(bm)) }
    TxDeltaCommitMessage(dataMsg, ser(deletes), ser(updDel), ser(updIns))
  }

  override def abort(): Unit = inserts.abort()
  override def close(): Unit = inserts.close()
}

/** A streaming offset that IS a commit version — the whole point of
  * owning the log: progress tracking needs no file-listing diffs, just a
  * monotonically increasing manifest number. */
final case class TxStreamOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** TxTable as a DSv2 streaming SOURCE — the read half of the exactly-once
  * loop whose write half is [[TxStreamingWrite]]: downstream incremental
  * consumers `spark.readStream.table("txcat.\`/path\`")` and receive each
  * commit's ADDED files as micro-batch input, instead of driving
  * change-feed cursors by hand (the Delta streaming-source design; batch
  * shape shared with [[TxTable.changesSince]]).
  *
  *   - **Offsets are commit versions.** `latestOffset` is one manifest
  *     resolution; a batch (start, end] plans exactly the files commits
  *     start+1..end added — I/O ∝ new data, never a table rescan, which is
  *     what makes a 100 TB table subscribable. Offset resolution walks at
  *     most [[TxTable.CheckpointInterval]] deltas per version (manifest
  *     metadata only).
  *   - **Restart-exact**: offsets live in the stream checkpoint; the same
  *     (start, end] replans the same file list from the log, so a crashed
  *     query resumes at the right version with no duplicates or gaps.
  *     [[TxTable.vacuum]] retention must cover consumer lag, exactly as
  *     with any log-compacted source — a vacuumed version fails loudly.
  *   - **Non-append commits are a decision, not an accident**: a commit
  *     that REMOVES files (upsert/compaction rewrite) throws by default;
  *     `skipChangeCommits=true` skips such commits entirely,
  *     `ignoreChanges=true` re-emits their added files (at-least-once for
  *     rewritten rows) — the documented Delta option pair.
  *   - `startingVersion` (a version number, or `latest`) begins the
  *     subscription at a commit instead of the initial snapshot;
  *     `startingTimestamp` serves commits published at or after the
  *     given instant (the Delta convention; past-the-head serves only
  *     future commits, before-the-log serves the full history);
  *     `maxVersionsPerTrigger` / `maxFilesPerTrigger` /
  *     `maxRowsPerTrigger` rate-limit admission by commits / added files
  *     / the manifests' exact added-row counts (T7 for the table source;
  *     an over-sized single commit still admits, so the stream never
  *     stalls). `Trigger.AvailableNow` is first-class: the head version is
  *     pinned at prepare time, so the query drains to a fixed point and
  *     stops even while writers keep committing. */
final class TxMicroBatchStream(path: String, dataSchema: StructType,
                               required: StructType,
                               options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active
  private val startingVersion = Option(options.get("startingVersion"))
  private val startingTimestamp = Option(options.get("startingTimestamp"))
  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "startingVersion and startingTimestamp are mutually exclusive")
  private val skipChangeCommits = options.getBoolean("skipChangeCommits", false)
  private val ignoreChanges = options.getBoolean("ignoreChanges", false)
  private val maxVersionsPerTrigger: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)
  private val maxRowsPerTrigger: Option[Long] =
    Option(options.get("maxRowsPerTrigger")).map(_.toLong)

  /** Head version pinned by Trigger.AvailableNow at prepare time. */
  @volatile private var availableNowCap: Option[Long] = None

  private def headVersion: Long = TxTable.snapshot(spark, path).version

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headVersion)

  override def initialOffset(): Offset = TxStreamOffset(startingVersion match {
    case Some("latest") => headVersion // only commits after stream start
    case Some(v) => v.toLong - 1 // serve from commit v inclusive
    case None => startingTimestamp match {
      // commits published AT OR AFTER the instant (the Delta
      // convention); a timestamp past the head serves only future
      // commits, one before the earliest retained commit serves the
      // full history
      case Some(ts) =>
        TxTable.firstVersionAtOrAfter(spark, path,
            TxTimestamps.parseMillis(ts))
          .map(_ - 1).getOrElse(headVersion)
      case None => -1L // initial snapshot: every commit from v0
    }
  })

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.allAvailable() // version/file caps applied in latestOffset

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: Spark calls latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TxStreamOffset].version
    val head = availableNowCap.getOrElse(headVersion)
    TxStreamOffset(TxStreamAdmission.chooseAppend(spark, path, s, head,
      maxVersionsPerTrigger, maxFilesPerTrigger, maxRowsPerTrigger))
  }

  override def deserializeOffset(json: String): Offset =
    TxStreamOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The files commits (start, end] ADDED, grouped one partition per
    * bucket like the batch scan. Walks the per-version snapshots (bounded
    * manifest metadata) so a multi-version batch attributes adds/removes
    * to the exact commit that made them. */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[TxStreamOffset].version
    val e = end.asInstanceOf[TxStreamOffset].version
    if (e <= s) return Array.empty
    val picked = Seq.newBuilder[TxTable.FileEntry]
    val fsForFlags = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (s + 1 to e).foreach { v =>
      // a dataChange=false commit reorganized files without changing live
      // rows — skip it outright (no option needed, no error): its rows
      // were all served when they were actually appended
      if (!TxTable.commitIsRewrite(fsForFlags, path, v)) {
        // per-commit changes come from THE COMMIT'S OWN manifest — never
        // a snapshot diff, so a trigger's planning cost is O(the window's
        // changes) even at 10⁸ live files. A same-commit remove+re-add of
        // one rel is a deletion-vector attach (MOR delete): the file's
        // already-served rows didn't move, so it is neither a removal
        // (no throw) nor an emission — exactly the snapshot-diff answer,
        // since the rel stays live across the commit.
        val (adds, removes) =
          TxTable.commitChanges(spark, fsForFlags, path, v)
        val readdRels = adds.map(_.rel).toSet
        val trueRemoved = removes.filterNot(readdRels)
        val added = adds.filterNot(en => removes.contains(en.rel))
        if (trueRemoved.nonEmpty && !ignoreChanges && !skipChangeCommits)
          throw new IllegalStateException(
            s"$path: commit v$v rewrote or removed data files (upsert) " +
              "mid-stream. Streaming reads serve appends exactly-once; " +
              "for rewriting tables choose: skipChangeCommits=true " +
              "(skip rewrite commits) or ignoreChanges=true (re-emit " +
              "rewritten files, at-least-once for their rows). " +
              "Data-preserving maintenance (compact/zorder/purge/" +
              "rebucket) is dataChange=false and never trips this.")
        if (trueRemoved.isEmpty || ignoreChanges) picked ++= added
      }
    }
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a re-emitted file carrying a deletion vector (possible only under
    // ignoreChanges — appends never carry DVs) must be its own partition:
    // the DV reader wrapper counts physical positions per FILE
    val (dvd, clean) = picked.result().partition(_.dv.isDefined)
    // each DV'd partition ships its OWN file's bitmap (planning-time
    // attached — the factory travels with every task, so bitmaps must not
    // live there); the sticky flag keeps later factories DV-aware
    if (dvd.nonEmpty) streamSawDv = true
    val byRel = graft.ops.DeletionVectors.loadBitmaps(spark, path, dvd)
    def pf(en: TxTable.FileEntry): org.apache.spark.sql.execution
        .datasources.PartitionedFile = {
      val p = new Path(s"$path/${en.rel}")
      // manifest-recorded length; legacy entries → one cached stat
      GraftParquetShim.partitionedFile(p.toString,
        TxFileSizes.of(fs, path, en), 0L)
    }
    val grouped: Seq[(Int, Array[org.apache.spark.sql.execution
        .datasources.PartitionedFile], Option[(String, Array[Byte])])] =
      clean.groupBy(_.bucket).toSeq.sortBy(_._1).map {
        case (b, entries) =>
          (b, entries.sortBy(_.rel).map(pf).toArray,
            None: Option[(String, Array[Byte])])
      } ++ dvd.sortBy(e => (e.bucket, e.rel)).map(e =>
        (e.bucket, Array(pf(e)), byRel.get(e.rel)))
    grouped.zipWithIndex.map { case ((b, pfs, dv), i) =>
      GraftParquetShim.bucketFilePartition(i, pfs, b, dv): InputPartition
    }.toArray
  }

  /** Whether any planned micro-batch re-emitted a DV'd file (possible
    * only under ignoreChanges — appends never carry DVs). Sticky: once
    * true, every later factory stays payload-aware (clean partitions
    * still delegate to the stock reader inside the wrapper). */
  @volatile private var streamSawDv = false

  override def createReaderFactory(): PartitionReaderFactory = {
    val stock = TxScanPlanning.readerFor(dataSchema, required)
    if (!streamSawDv) stock
    else new DvPartitionReaderFactory(stock, stock)
  }
}

/** ONE admission-control implementation for BOTH streaming sources (the
  * append source and the `#changes` row-level CDF source): choose the
  * batch's end version in (start, head] so the cumulative per-version
  * (files, rows) cost stays under the caps — always admitting at least
  * one version, or a single over-sized commit would stall the stream
  * forever. The cost of a version comes from manifest metadata alone
  * (exact per-file row counts; a file without one fills the row cap by
  * itself — conservative, never a silent flood), and `dataChange=false`
  * rewrite commits cost ZERO on both sources (they emit nothing at
  * planning). The two sources differ only in their cost function:
  * appends count a version's ADDED files/rows; the change feed counts
  * adds + removes + same-file deletion-vector diffs — the upper bound of
  * the change rows the version emits. */
private[sources] object TxStreamAdmission {
  type Entries = Map[String, TxTable.FileEntry]

  def choose(spark: SparkSession, path: String, s: Long, head: Long,
             maxVersions: Option[Long], maxFiles: Option[Int],
             maxRows: Option[Long],
             cost: (Entries, Entries) => (Int, Long)): Long =
    chooseWith(spark, path, s, head, maxVersions, maxFiles, maxRows) {
      (spark, fs, v, prevRef) =>
        val cur: Entries = TxTable.snapshot(spark, path, Some(v)).entries
          .map(e => e.rel -> e).toMap
        val out = cost(prevRef(), cur)
        (out, () => cur)
    }

  /** [[choose]] for the APPEND source: per-version cost from the
    * commit's OWN manifest ([[TxTable.commitChanges]]) — O(the window's
    * changes), never a per-version snapshot materialization, which at
    * 10⁸ live files would dominate every rate-limited trigger. */
  def chooseAppend(spark: SparkSession, path: String, s: Long, head: Long,
                   maxVersions: Option[Long], maxFiles: Option[Int],
                   maxRows: Option[Long]): Long =
    chooseWith(spark, path, s, head, maxVersions, maxFiles, maxRows) {
      (spark, fs, v, prevRef) =>
        val (adds, removes) = TxTable.commitChanges(spark, fs, path, v)
        // same re-add algebra as planInputPartitions: a same-commit
        // remove+re-add is a DV attach, not an emission
        val added = adds.filterNot(e => removes.contains(e.rel))
        val out = (added.size,
          if (added.exists(_.rows.isEmpty)) Long.MaxValue / 2
          else added.flatMap(_.rows).sum)
        (out, () => Map.empty: Entries)
    }

  private def chooseWith(spark: SparkSession, path: String, s: Long,
                         head: Long, maxVersions: Option[Long],
                         maxFiles: Option[Int], maxRows: Option[Long])(
      costAt: (SparkSession, org.apache.hadoop.fs.FileSystem, Long,
               () => Entries) => ((Int, Long), () => Entries)): Long = {
    var end = maxVersions.fold(head)(m => math.min(head, s + m))
    if ((maxFiles.nonEmpty || maxRows.nonEmpty) && end > s) {
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the previous version's entries are LAZY: the append path never
      // asks for them, the change-feed path materializes once and then
      // rolls forward
      var prevThunk: () => Entries = () =>
        if (s < 0) Map.empty
        else TxTable.snapshot(spark, path, Some(s)).entries
          .map(e => e.rel -> e).toMap
      var prevMemo: Option[Entries] = None
      def prevRef(): Entries = prevMemo match {
        case Some(m) => m
        case None =>
          val m = prevThunk(); prevMemo = Some(m); m
      }
      var accF = 0
      var accR = 0L
      var chosen = s
      var v = s + 1
      var full = false
      while (v <= end && !full) {
        val ((af, ar), nextPrev) =
          if (TxTable.commitIsRewrite(fs, path, v))
            ((0, 0L), () => TxTable.snapshot(spark, path, Some(v))
              .entries.map(e => e.rel -> e).toMap)
          else costAt(spark, fs, v, prevRef)
        val fits = maxFiles.forall(accF + af <= _) &&
          maxRows.forall(accR + ar <= _)
        if (chosen == s || fits) { chosen = v; accF += af; accR += ar }
        else full = true
        prevThunk = nextPrev
        prevMemo = None
        v += 1
      }
      end = chosen
    }
    math.max(end, s)
  }

  /** Change-feed cost: adds + removes + changed-vector files; rows are
    * the LIVE rows each side emits plus the bitmap-diff cardinality for
    * same-file vector changes (|Δndel| — exact for deletes, an upper
    * bound under a restore that both revives and re-kills). */
  def changesCost(prev: Entries, cur: Entries): (Int, Long) = {
    val added = cur.valuesIterator.filterNot(e => prev.contains(e.rel)).toSeq
    val removed = prev.valuesIterator.filterNot(e => cur.contains(e.rel)).toSeq
    val changed = cur.keysIterator
      .filter(r => prev.contains(r) && cur(r).dv != prev(r).dv).toSeq
    val files = added.size + removed.size + changed.size
    val sides = added.map(_.liveRows) ++ removed.map(_.liveRows)
    val rows =
      if (sides.exists(_.isEmpty)) Long.MaxValue / 2
      else sides.flatten.sum + changed.map(r =>
        math.abs(cur(r).dv.fold(0L)(_.ndel) -
          prev(r).dv.fold(0L)(_.ndel))).sum
    (files, rows)
  }
}

/** The `bucket` transform function Spark resolves through the catalog when
  * comparing two scans' reported partitionings. The bound kernel evaluates
  * the writers' own catalyst `xxhash64(key, seed 42)` expression, so the
  * SQL surface and the storage layout can never disagree on placement. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): graft TxTable layout hash pmod(xxhash64(key, 42), n)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, key), got $inputType")
    require(inputType.fields(0).dataType == IntegerType,
      s"numBuckets must be int, got ${inputType.fields(0).dataType}")
    new GraftBoundBucket(inputType.fields(1).dataType)
  }
}

// --- SQL write path ------------------------------------------------------

/** INSERT INTO a TxTable through the catalog: executors route rows to
  * bucket files with the writers' own layout hash and stage them under a
  * fresh `files/<uuid>/` directory; the driver publishes ONE manifest
  * commit over the staged entries (optimistic CAS retry, like every other
  * TxTable writer) — a failed or aborted INSERT leaves only unreferenced
  * staging files for vacuum, never a torn table. */
final class TxWriteBuilder(path: String, querySchema: StructType,
                           bucketing: (String, Int), queryId: String,
                           logicalKey: String = "",
                           physOf: String => String = identity,
                           branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var replaceAll = false
  private var overwriteFilters: Option[Array[
    org.apache.spark.sql.sources.Filter]] = None
  private val distKey = if (logicalKey.isEmpty) bucketing._1 else logicalKey

  /** `INSERT OVERWRITE` (truncate-and-write): the commit removes every
    * file of the snapshot it lands on — one atomic swap, old versions
    * remain time-travelable until vacuum. Schema stays under the same
    * widening enforcement as appends (overwrite replaces DATA, never
    * silently changes a column's type). */
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    require(branch.isEmpty,
      s"cannot INSERT OVERWRITE $path@branch.${branch.getOrElse("")}: " +
        "branches take appends only")
    replaceAll = true
    this
  }

  /** REPLACE WHERE (`df.writeTo(t).overwrite(cond)`): atomically delete
    * the rows matching `cond` and insert the new rows — the idempotent
    * backfill shape. Commit-time routing per file via the shared
    * [[TxMetadataDelete]] coverage kernel: fully-covered files drop from
    * the manifest unread, zero-covered files are untouched, and only
    * partially-covered files rewrite their non-matching remainder.
    * Evaluating the predicate row-exactly is validated HERE (planning
    * time) so an unsupported shape fails before any work. */
  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(branch.isEmpty,
      s"cannot REPLACE WHERE on $path@branch.${branch.getOrElse("")}: " +
        "branches take appends only")
    filters.foreach(TxMetadataDelete.filterColumn) // throws on unsupported
    // the whole REPLACE WHERE path downstream (coverage verdicts AND the
    // remainder rewrite over raw file reads) runs in PHYSICAL names
    overwriteFilters = Some(filters.map(TxFilterNames.rename(_, physOf)))
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new TxWrite(path, querySchema, bucketing, queryId, replaceAll,
      overwriteFilters, distKey, branch)
}

/** The append/overwrite write. Requests a CLUSTERED distribution on the
  * table's own `bucket(n, key)` transform (resolved through this
  * catalog's FunctionCatalog to the writers' exact xxhash64 kernel) so
  * Spark shuffles rows bucket-together before the task writers run:
  * an INSERT or streaming epoch from N upstream tasks stages ~nBuckets
  * files instead of N×nBuckets — at 1000 executors the difference
  * between 42 files per commit and 42,000. Best-effort rather than
  * strict, deliberately: the writers route every row by key themselves
  * (placement never depends on the incoming partitioning), so AQE stays
  * free to coalesce tiny partitions and split a skewed hot bucket across
  * tasks — that just means one extra file for that bucket, not a wrong
  * table. */
final class TxWrite(path: String, querySchema: StructType,
                    bucketing: (String, Int), queryId: String,
                    replaceAll: Boolean = false,
                    overwriteFilters: Option[Array[
                      org.apache.spark.sql.sources.Filter]] = None,
                    distKey: String = "",
                    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    // the distribution resolves against the QUERY's attributes — LOGICAL
    // names; the writers themselves route by the physical key
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(Expressions.bucket(bucketing._2,
        if (distKey.isEmpty) bucketing._1 else distKey)))
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
  override def distributionStrictlyRequired(): Boolean = false

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new TxBatchWrite(path, querySchema, bucketing, replaceAll,
      overwriteFilters, branch)
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(overwriteFilters.isEmpty,
      "overwrite-by-filter is a batch operation; streaming writes are " +
        "Append (per-epoch commits) or Complete (per-epoch truncate)")
    require(branch.isEmpty,
      s"cannot stream into $path@branch.${branch.getOrElse("")}: branch " +
        "offsets have no exactly-once stamp until the branch publishes")
    new TxStreamingWrite(path, querySchema, bucketing, queryId, replaceAll)
  }
}

/** Exactly-once streaming sink through the catalog
  * (`df.writeStream.toTable("txcat.\`/path\`")`): every epoch's rows
  * stage like a batch INSERT, and the epoch commit stamps
  * `(txcat:<queryId>, epochId)` into the manifest header — the same
  * Delta txn pattern [[graft.ops.TxTable.appendOnce]] uses, so a
  * replayed epoch (crash between sink commit and checkpoint write)
  * detects its own stamp, discards its staged files, and no-ops.
  *
  * Complete output mode (`replaceAll=true`, routed here by Spark calling
  * [[TxWriteBuilder.truncate]] before building the micro-batch write):
  * each epoch's commit removes every file of the snapshot it lands on,
  * so the table always holds exactly the latest recomputed result —
  * prior epochs remain time-travelable until vacuum.
  *
  * CHECK constraints: Spark's analyzer injects its native CheckInvariant
  * only into BATCH V2 writes (AppendData et al.), never into the
  * micro-batch write node — so this sink compiles the table's CHECK
  * predicates itself ([[TxConstraintChecks.compile]], once per query at
  * factory-build time) and the task writers evaluate them per row during
  * the write pass: zero extra jobs, and a violating row fails the epoch
  * before anything commits. */
final class TxStreamingWrite(path: String, querySchema: StructType,
                             bucketing: (String, Int), queryId: String,
                             replaceAll: Boolean = false)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val stagedBase = s"files/${java.util.UUID.randomUUID()}"
  private[sources] def appId: String = s"txcat:$queryId"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val gens = TxGeneratedCols.compile(spark, path, querySchema)
    new TxStreamingWriterFactory(path, stagedBase, querySchema, bucketing,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.execution.datasources.v2.parquet
          .GraftParquetShim.writeHadoopConf(spark)),
      TxConstraintChecks.compile(spark, path, querySchema),
      TxPartTag.forWrite(spark, path,
        StructType(querySchema.fields ++ gens.appended)),
      gens)
  }

  override def commit(epochId: Long,
                      messages: Array[org.apache.spark.sql.connector.write
                        .WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    TxWapConf.requireUnset(spark, "a streaming epoch commit")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val adds = messages.toSeq.flatMap {
      case TxCommitMessage(fls) => fls.map { case (b, rel, n) =>
        TxTable.FileEntry(b, rel, Some(n)) }
      case _ => Seq.empty
    }
    def dropStaged(): Unit = {
      adds.map(_.rel.split('/').take(2).mkString("/")).distinct
        .foreach(u => fs.delete(new Path(path, u), true))
      ()
    }
    // an Append epoch with no rows is a no-op; a Complete epoch with no
    // rows is a real recomputed result (empty) and must still truncate
    if (adds.isEmpty && !replaceAll) return
    val writeSchema = StructType(querySchema.fields :+
      org.apache.spark.sql.types.StructField(
        graft.ops.LayoutOps.BucketCol, IntegerType))
    var attempt = 0
    while (attempt <= 5) {
      val snap = TxTable.snapshot(spark, path)
      // replay check bound to THIS snapshot version (the appendOnce
      // race-free pattern): a duplicate epoch either shows up here or
      // commits in between and our CAS loses
      if (TxTable.lastCommittedBatchUpTo(fs, path, appId, snap.version)
          .exists(_ >= epochId)) {
        dropStaged()
        return
      }
      val merged = TxTable.mergeSchemas(
        snap.schema.getOrElse(TxTable.allNullable(writeSchema)), writeSchema, snap.dropped)
      val removes: Set[String] =
        if (replaceAll) snap.entries.map(_.rel).toSet else Set.empty
      if (TxTable.commitNext(fs, path, snap, adds = adds,
          removes = removes, txn = Some((appId, epochId)),
          schema = Some(merged), bucketing = Some(bucketing)))
        return
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$path: streaming epoch $epochId lost the commit race 6 times")
  }

  override def abort(epochId: Long,
                     messages: Array[org.apache.spark.sql.connector.write
                       .WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.toSeq.flatMap {
      case TxCommitMessage(fls) => fls.map(_._2)
      case _ => Seq.empty
    }.map(_.split('/').take(2).mkString("/")).distinct
      .foreach(u => fs.delete(new Path(path, u), true))
    ()
  }
}

final class TxStreamingWriterFactory(
    path: String, stagedBase: String, schema: StructType,
    bucketing: (String, Int),
    conf: org.apache.spark.util.SerializableConfiguration,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    part: Option[graft.ops.PartitionTransforms.PartTagger] = None,
    gens: TxGeneratedCols.Gens = TxGeneratedCols.empty)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new TxDataWriter(path, s"$stagedBase-e$epochId", schema, bucketing,
      conf.value, partitionId, taskId, checks, part = part, gens = gens)
}

/** Compiles a TxTable's CHECK constraints into bound, serializable
  * catalyst predicates over a write's query schema, for paths Spark's
  * own CheckInvariant injection does not reach (the streaming sink).
  * Each predicate is analyzed against the table's data schema (so
  * functions and implicit casts resolve exactly as in SQL), then every
  * attribute is bound to its ordinal in the query schema — or replaced
  * by a typed NULL literal when the write omits that column (the stored
  * value will be NULL, and SQL CHECK passes on NULL). The whole
  * expression is wrapped `coalesce(pred, true)` so a NULL verdict
  * passes, per the SQL standard. */
/** Option-string timestamp parsing shared by the streaming source and
  * the change feed: `yyyy-MM-dd HH:mm:ss[.SSS]` (T separator accepted)
  * or epoch millis. */
private[sources] object TxTimestamps {
  def parseMillis(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else java.sql.Timestamp.valueOf(
      if (s.contains(' ') || s.contains('T')) s.replace('T', ' ')
      else s + " 00:00:00").getTime
}

/** GENERATED ALWAYS AS columns (the Delta generated-columns design, via
  * Spark's own DDL plumbing): the generation expression rides the
  * column's StructField metadata under Spark's GENERATION_EXPRESSION key
  * — set at CREATE (the analyzer validates determinism, type match, and
  * no generated-on-generated references because the catalog declares
  * SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS), preserved by every
  * data commit (mergeSchemas copies fields), and COMPUTED at write by
  * all writer surfaces. Write policy, mirroring Delta: a row providing
  * NULL for the column gets the computed value; a non-null provided
  * value must EQUAL the computed value or the write refuses loudly;
  * row-level UPDATEs recompute (the delta writer nulls the ordinal
  * before insert). Reads treat it as a normal stored column. */
private[sources] object TxGeneratedCols {
  import org.apache.spark.sql.catalyst.expressions.{
    AttributeReference, BoundReference, Expression}

  /** Spark's GeneratedColumn metadata key (public DDL convention, the
    * same place `Column.generationExpression()` round-trips through). */
  val Key = "GENERATION_EXPRESSION"

  def generatedOf(snap: TxTable.Snapshot): Seq[(String, String,
      org.apache.spark.sql.types.DataType)] =
    snap.schema.toSeq.flatMap(_.fields)
      .filter(f => f.metadata.contains(Key) &&
        !snap.dropped.exists(_.equalsIgnoreCase(f.name)))
      .map(f => (snap.logicalName(f.name), f.metadata.getString(Key),
        f.dataType))

  /** Column names a generation expression references (logical). */
  def referencedBy(spark: SparkSession, sql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.nameParts.head
    }.distinct

  /** Compiled write-side generation plan: `appended` are generated
    * columns the write schema OMITS (a union-evolving batch / streaming
    * epoch) — the writer appends and computes them instead of storing a
    * silently-violating NULL; `items` are (ordinal in querySchema ++
    * appended, "name := sql" for error text, compute expression bound
    * to querySchema ordinals — generated columns never reference each
    * other, so source refs always resolve in the provided row). */
  final case class Gens(appended: Seq[org.apache.spark.sql.types.StructField],
                        items: Seq[(Int, String, Expression)]) {
    def isEmpty: Boolean = items.isEmpty
  }
  val empty: Gens = Gens(Seq.empty, Seq.empty)

  /** The same dummy-analyze + bind shape as
    * [[TxConstraintChecks.compile]]. */
  def compile(spark: SparkSession, path: String, querySchema: StructType)
      : Gens = {
    if (!TxTable.isTxTable(spark, path)) return empty
    val snap = TxTable.snapshot(spark, path)
    val gens = generatedOf(snap)
    if (gens.isEmpty) return empty
    val dataFields = snap.schema.toSeq.flatMap(_.fields).filterNot(f =>
      f.name == graft.ops.LayoutOps.BucketCol ||
        snap.dropped.exists(_.equalsIgnoreCase(f.name)))
      .map(f => f.copy(name = snap.logicalName(f.name)))
    val dummy = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(dataFields.toArray))
    val logicalQuery = StructType(querySchema.fields.map(f =>
      f.copy(name = snap.logicalName(f.name))))
    val appended = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    var nextAppended = querySchema.length
    val items = gens.map { case (name, sql, dt) =>
      val i0 = logicalQuery.fields.indexWhere(_.name.equalsIgnoreCase(name))
      val i = if (i0 >= 0) i0 else {
        appended += org.apache.spark.sql.types
          .StructField(name, dt, nullable = true)
        val a = nextAppended; nextAppended += 1; a
      }
      val analyzed = dummy.select(org.apache.spark.sql.functions
        .expr(sql).cast(dt)).queryExecution.analyzed
      val e = analyzed.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.head match {
            case a: org.apache.spark.sql.catalyst.expressions.Alias =>
              a.child
            case other => other
          }
      }.getOrElse(throw new IllegalStateException(
        s"$path: generation expression for '$name' ($sql) did not " +
          "analyze to a projection"))
      val bound = e.transform {
        case a: AttributeReference =>
          val j = logicalQuery.fields
            .indexWhere(_.name.equalsIgnoreCase(a.name))
          if (j < 0) Literal.create(null, a.dataType)
          else BoundReference(j, logicalQuery.fields(j).dataType,
            nullable = true)
      }
      (i, s"$name := $sql", bound)
    }
    Gens(appended.result(), items)
  }
}

private[sources] object TxConstraintChecks {
  import org.apache.spark.sql.catalyst.expressions.{
    AttributeReference, BoundReference, Coalesce, Expression}

  def compile(spark: SparkSession, path: String, querySchema: StructType)
      : Seq[(String, String, Expression)] = {
    if (!TxTable.isTxTable(spark, path)) return Seq.empty
    val snap = TxTable.snapshot(spark, path)
    val cons = TxTable.constraintsOf(snap).toSeq.sortBy(_._1)
    if (cons.isEmpty) return Seq.empty
    // the analysis dummy carries LOGICAL names — constraint SQL is
    // written against what the user sees, not the stored field names
    val dataFields = snap.schema.toSeq.flatMap(_.fields).filterNot(f =>
      f.name == graft.ops.LayoutOps.BucketCol ||
        snap.dropped.exists(_.equalsIgnoreCase(f.name)))
      .map(f => f.copy(name = snap.logicalName(f.name)))
    val dummy = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(dataFields.toArray))
    cons.map { case (name, sql) =>
      val analyzed = dummy.filter(org.apache.spark.sql.functions.expr(sql))
        .queryExecution.analyzed
      val cond = analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(throw new IllegalStateException(
        s"$path: CHECK constraint '$name' ($sql) did not analyze to a " +
          "filter predicate"))
      // the write's row shape arrives PHYSICAL; constraint SQL speaks
      // LOGICAL — bind against the logicalized twin (positions match)
      val logicalQuery = StructType(querySchema.fields.map(f =>
        f.copy(name = snap.logicalName(f.name))))
      val bound = cond.transform {
        case a: AttributeReference =>
          val i = logicalQuery.fields
            .indexWhere(_.name.equalsIgnoreCase(a.name))
          if (i < 0) Literal.create(null, a.dataType)
          else BoundReference(i, logicalQuery.fields(i).dataType,
            nullable = true)
      }
      (name, sql, Coalesce(Seq(bound, Literal(true))): Expression)
    }
  }
}

final case class TxCommitMessage(files: Seq[(Int, String, Long)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

final class TxBatchWrite(path: String, querySchema: StructType,
                         bucketing: (String, Int),
                         replaceAll: Boolean = false,
                         overwriteFilters: Option[Array[
                           org.apache.spark.sql.sources.Filter]] = None,
                         branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private val stagedRel = s"files/${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val spark = SparkSession.active
    val gens = TxGeneratedCols.compile(spark, path, querySchema)
    new TxDataWriterFactory(path, stagedRel, querySchema, bucketing,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.execution.datasources.v2.parquet
          .GraftParquetShim.writeHadoopConf(spark)),
      TxPartTag.forWrite(spark, path,
        StructType(querySchema.fields ++ gens.appended)),
      gens)
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val adds = messages.toSeq.flatMap {
      case TxCommitMessage(fs) => fs.map { case (b, rel, n) =>
        TxTable.FileEntry(b, rel, Some(n)) }
      case _ => Seq.empty
    }
    // an append of nothing is a no-op; an OVERWRITE (full or by filter)
    // with nothing is a real statement and must still commit the removal
    if (adds.isEmpty && !replaceAll && overwriteFilters.isEmpty) return
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writeSchema = StructType(querySchema.fields :+
      org.apache.spark.sql.types.StructField(
        graft.ops.LayoutOps.BucketCol, IntegerType))
    // BRANCH INSERT: the staged files land as the branch's next delta
    // commit (CAS on the branch's own chain) — invisible on main until
    // CALL publish_branch. Appends only; WAP staging does not compose
    // with a branch target (a branch IS the staged lineage).
    branch match {
      case Some(b) =>
        require(TxWapConf.id(spark).isEmpty,
          s"cannot stage a WAP id into $path@branch.$b — a branch is " +
            "already unpublished lineage; publish or drop one of the two")
        graft.ops.TxTable.publishBranchDelta(spark, path, b, adds,
          writeSchema, bucketing)
        return
      case None => ()
    }
    // WRITE-AUDIT-PUBLISH: with `spark.graft.wap.id` set, the INSERT's
    // files land as a STAGED commit — invisible to readers, auditable
    // via `t@wap.<id>`, atomically published by CALL publish_staged.
    // CHECK constraints already enforced per row above (the auditor
    // must see the rows that would land). Overwrites refuse: staging
    // can only represent adds.
    TxWapConf.id(spark) match {
      case Some(id) =>
        require(!replaceAll && overwriteFilters.isEmpty,
          "write-audit-publish staging covers appends only — run " +
            "INSERT OVERWRITE / REPLACE WHERE on the published table")
        graft.ops.TxTable.stagePublish(spark, path, id, adds,
          graft.ops.TxTable.mergeSchemas(
            new StructType(), writeSchema), bucketing)
        return
      case None => ()
    }
    var attempt = 0
    while (attempt <= 5) {
      val snap = TxTable.snapshot(spark, path)
      val merged = TxTable.mergeSchemas(
        snap.schema.getOrElse(TxTable.allNullable(writeSchema)), writeSchema, snap.dropped)
      // overwrite = last-writer-wins replacement of whatever snapshot the
      // CAS lands on (the standard non-conflicting overwrite semantics)
      val (removes: Set[String], rewriteAdds: Seq[TxTable.FileEntry]) =
        overwriteFilters match {
          case Some(ofs) =>
            // REPLACE WHERE routing per file: Full drops by metadata,
            // Zero is untouched, Partial rewrites its non-matching
            // remainder through the shared staging writer. "Matching" is
            // cond IS TRUE (a null predicate keeps the row — delete
            // semantics), so the remainder filter is NOT coalesce(cond,
            // false).
            import org.apache.spark.sql.functions.{coalesce, lit, not}
            val vs = TxMetadataDelete.verdicts(spark, path, snap, ofs.toSeq)
            val full = vs.collect { case (e, TxMetadataDelete.Full) => e }
            val partial = vs.collect { case (e, TxMetadataDelete.Partial) => e }
            val rewrites =
              if (partial.isEmpty) Seq.empty
              else {
                val cond =
                  if (ofs.isEmpty) lit(true)
                  else ofs.map(TxMetadataDelete.filterColumn)
                    .reduce(_ && _)
                // live rows only: a partially-covered file's dead rows
                // must not resurrect into the remainder rewrite — the
                // restaged file postdates the registry entries, so they
                // would come back for good. Row tracking: remainder rows
                // are UNCHANGED rows, so their (_row_id,
                // _row_commit_version) materialize through.
                val tracked = snap.props
                  .get(TxTable.RowTrackingProp).contains("true")
                val keep = TxTable.liveRows(spark, path, snap, partial,
                    Some(snap.schema.getOrElse(merged)), tracked)
                  .filter(not(coalesce(cond, lit(false))))
                TxTable.stageRewrite(spark, path, keep)
              }
            ((full ++ partial).map(_.rel).toSet, rewrites)
          case None =>
            (if (replaceAll) snap.entries.map(_.rel).toSet
             else Set.empty[String], Seq.empty[TxTable.FileEntry])
        }
      if (TxTable.commitNext(fs, path, snap, adds = adds ++ rewriteAdds,
          removes = removes, txn = None, schema = Some(merged),
          bucketing = Some(bucketing)))
        return
      // lost the race: this attempt's rewrite staging references a stale
      // base — drop it (the tasks' own staged files are reused as-is)
      rewriteAdds.map(_.rel.split('/').take(2).mkString("/")).distinct
        .foreach(u => fs.delete(new Path(path, u), true))
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$path: INSERT lost the commit race 6 times; staged files remain " +
        s"under $stagedRel for vacuum")
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path, stagedRel), true)
    ()
  }
}


/** Driver-side tagger resolution shared by every DSv2 write factory.
  * The write's row shape arrives PHYSICAL (the same contract
  * [[TxConstraintChecks.compile]] documents), and the recorded transform
  * stores the PHYSICAL column — bind it directly; a renamed source
  * column needs no translation because renames never touch physical
  * names. None for unpartitioned tables. */
private[sources] object TxPartTag {
  def forWrite(spark: SparkSession, path: String, writeSchema: StructType)
      : Option[graft.ops.PartitionTransforms.PartTagger] = {
    val snap = TxTable.snapshot(spark, path)
    graft.ops.PartitionTransforms.of(snap.props).map(spec =>
      graft.ops.PartitionTransforms.taggerFor(spec,
        graft.ops.PartitionTransforms.headSid(snap.props), writeSchema))
  }
}

final class TxDataWriterFactory(
    path: String, stagedRel: String, schema: StructType,
    bucketing: (String, Int),
    conf: org.apache.spark.util.SerializableConfiguration,
    part: Option[graft.ops.PartitionTransforms.PartTagger] = None,
    gens: TxGeneratedCols.Gens = TxGeneratedCols.empty,
    genEnforce: Boolean = true)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new TxDataWriter(path, stagedRel, schema, bucketing, conf.value,
      partitionId, taskId, part = part, gens = gens,
      genEnforce = genEnforce)
}

/** Task-side writer: one parquet file per bucket this task sees, rows
  * carried through Spark's own ParquetWriteSupport with the bucket id
  * appended — byte-compatible with files the Scala writers stage. */
final class TxDataWriter(
    path: String, stagedRel: String, schema: StructType,
    bucketing: (String, Int),
    conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int, taskId: Long,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    part: Option[graft.ops.PartitionTransforms.PartTagger] = None,
    gens: TxGeneratedCols.Gens = TxGeneratedCols.empty,
    genEnforce: Boolean = true)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.spark.sql.execution.datasources.v2.parquet.GraftParquetShim

  private val (key, nBuckets) = bucketing
  // CHECK predicates compiled once per task (codegen with interpreted
  // fallback); row-local on the write hot path, zero extra jobs
  private val checkPreds = checks.map { case (name, sql, e) =>
    (name, sql,
      org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
  }
  // the ROW shape this writer stores: the query schema plus any
  // generated columns the write omitted (computed below) — the bucket
  // key and partition source may live in the appended region
  private val fullFields = schema.fields ++ gens.appended
  private val keyIdx = fullFields.indexWhere(_.name == key)
  require(keyIdx >= 0, s"$path: write omits bucket key '$key'")
  private val keyType = fullFields(keyIdx).dataType
  // GENERATED ALWAYS AS: one codegen'd projection per generated column,
  // evaluated on the incoming row (expressions never reference other
  // generated columns — CREATE-time validation). Resolution happens
  // BEFORE bucketing/partition placement and CHECK evaluation, so a
  // generated bucket key or partition source places by its computed
  // value.
  private val genProjs = gens.items.map { case (ord, label, e) =>
    (ord, label, org.apache.spark.sql.catalyst.expressions
      .MutableProjection.create(Seq(e)), fullFields(ord).dataType)
  }
  private val genRow =
    if (gens.isEmpty) null
    else new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(fullFields.length)

  /** Substitute generated-column values: NULL provided -> computed;
    * non-null provided must EQUAL computed (when enforcing — the plain
    * INSERT surface) or the write refuses; recompute-silently serves the
    * COW rewrite path, whose rows mix copied and updated images. */
  private def resolveGenerated(row: InternalRow): InternalRow =
    if (gens.isEmpty) row
    else {
      var i = 0
      while (i < schema.length) {
        genRow.update(i, row.get(i, schema.fields(i).dataType)); i += 1
      }
      while (i < fullFields.length) { genRow.update(i, null); i += 1 }
      genProjs.foreach { case (ord, label, proj, dt) =>
        val computed = proj(row).get(0, dt)
        val provided = if (ord < schema.length) row.get(ord, dt) else null
        if (provided == null || !genEnforce) genRow.update(ord, computed)
        else if (!java.util.Objects.equals(provided, computed))
          throw new IllegalArgumentException(
            s"$path: GENERATED column conflict ($label): the expression " +
              s"computes $computed but the write provided $provided - " +
              "omit the column or write the matching value")
      }
      genRow
    }
  private val writeSchema = StructType(fullFields :+
    org.apache.spark.sql.types.StructField(
      graft.ops.LayoutOps.BucketCol, IntegerType))
  // keyed by (partition segment, bucket) — one file per hidden-partition
  // value × bucket this task sees ("" segment when unpartitioned)
  private val writers = scala.collection.mutable.Map.empty[(String, Int),
    (String, org.apache.parquet.hadoop.ParquetWriter[InternalRow])]
  // exact per-file row counts, tallied on the write path for free — they
  // ride the commit message into the manifest so COUNT(*) can answer from
  // metadata alone
  private val rowCounts =
    scala.collection.mutable.Map.empty[(String, Int), Long]
  private val out = new org.apache.spark.sql.catalyst.expressions
    .GenericInternalRow(writeSchema.length)

  private def bucketOf(row: InternalRow): Int =
    graft.ops.LayoutOps.bucketOf(row.get(keyIdx, keyType), keyType, nBuckets)

  /** Metadata-carrying write (copied/updated rows of a COW rewrite): the
    * metadata row holds the bucket the row CAME from; placement is always
    * recomputed from the key — same value by construction, and immune to
    * a future rebucket racing the rewrite. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = { writeTracked(row); () }

  /** Write and report WHERE the row landed — (staged rel, physical row
    * position in that file): the delta writer's update pairing records
    * post-image positions through this. */
  private[sources] def writeTracked(row0: InternalRow): (String, Long) = {
    val row = resolveGenerated(row0)
    checkPreds.foreach { case (name, sql, p) =>
      if (!p.eval(row)) throw new IllegalArgumentException(
        s"$path: CHECK constraint '$name' ($sql) violated by a row in " +
          s"partition $partitionId")
    }
    val b = bucketOf(row)
    val seg = part.fold("")(_.segOf(row))
    val fk = (seg, b)
    val (rel, w) = writers.getOrElseUpdate(fk, {
      val r = s"$stagedRel/${seg}bucket-$b/" +
        s"part-$partitionId-$taskId-$b.snappy.parquet"
      (r, GraftParquetShim.rowParquetWriter(s"$path/$r", writeSchema,
        new org.apache.hadoop.conf.Configuration(conf)))
    })
    var i = 0
    while (i < fullFields.length) {
      out.update(i, row.get(i, fullFields(i).dataType)); i += 1
    }
    out.update(fullFields.length, b)
    w.write(out)
    val pos = rowCounts.getOrElse(fk, 0L)
    rowCounts(fk) = pos + 1L
    (rel, pos)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writers.values.foreach(_._2.close())
    TxCommitMessage(writers.toSeq.map { case (fk @ (_, b), (rel, _)) =>
      (b, rel, rowCounts.getOrElse(fk, 0L)) })
  }

  override def abort(): Unit = {
    writers.values.foreach(w => scala.util.Try(w._2.close()))
    val fs = new Path(path).getFileSystem(conf)
    writers.values.foreach { case (rel, _) =>
      scala.util.Try(fs.delete(new Path(s"$path/$rel"), false))
    }
    ()
  }

  override def close(): Unit = ()
}

final class GraftBoundBucket(keyType: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft.bucket"
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer =
    graft.ops.LayoutOps.bucketOf(input.get(1, keyType), keyType,
      input.getInt(0))
}

// --- SQL maintenance procedures (CALL txspj.<proc>(...)) ------------------

/** A driver-computed one-row procedure result. */
/** Manifest-backed METADATA TABLES — the Iceberg `t#files` / Delta
  * DESCRIBE-HISTORY system-table idea on this log, served by the
  * reserved `#files` / `#history` path suffixes: every row is computed
  * driver-side from the commit log (plus file statuses for sizes), the
  * scan plans as a LocalTableScan — ZERO data files opened, zero jobs.
  * What a 100 TB operator dashboards table health from without touching
  * the table. */
private[sources] final class TxMetaTable(
    tname: String, outSchema: StructType,
    rowsFn: () => Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = tname
  override def schema(): StructType = outSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan =
      new TxLocalResultScan(tname, outSchema, rowsFn())
  }
}

private[sources] object TxMetaTables {
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private def spark = SparkSession.active

  /** `t#files`: one row per LIVE file of the head snapshot — bucket,
    * exact rows/deleted counts, DV sidecar, physical size. */
  def files(path: String, name: String = "",
            snapAt: Option[() => TxTable.Snapshot] = None): TxMetaTable = {
    val schema = StructType(Seq(
      StructField("rel", StringType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("deleted_rows", LongType, nullable = false),
      StructField("dv_rel", StringType, nullable = true),
      StructField("size_bytes", LongType, nullable = false),
      // sequence + row-tracking anchors (null on pre-stamp / untracked
      // files): what equality deletes scope by and where _row_id ranges
      // start — the observability row for both features
      StructField("added_version", LongType, nullable = true),
      StructField("base_row_id", LongType, nullable = true)))
    val display = if (name.isEmpty) path else name
    new TxMetaTable(s"$display#files", schema, () => {
      val snap = snapAt.fold(TxTable.snapshot(spark, path))(_.apply())
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      snap.entries.sortBy(e => (e.bucket, e.rel)).map { e =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](
            UTF8String.fromString(e.rel),
            e.bucket,
            e.rows.map(java.lang.Long.valueOf).orNull,
            e.dv.fold(0L)(_.ndel),
            e.dv.map(d => UTF8String.fromString(d.rel)).orNull,
            TxFileSizes.of(fs, path, e),
            e.addV.map(java.lang.Long.valueOf).orNull,
            e.base.map(b => java.lang.Long.valueOf(b._1)).orNull))
          : InternalRow
      }.toArray
    })
  }

  /** `t#partitions`: one row per hidden-partition VALUE of the head
    * snapshot — the SHOW PARTITIONS surface for a transform the user
    * never writes: partition value, its human rendering under the
    * table's transform ([start, end) instants for timestamp sources,
    * dates for DATE sources), file/bucket counts, exact live rows when
    * every file recorded one, physical bytes. Pre-partitioning files
    * and `part-null/` files surface as a NULL partition row. Manifest
    * metadata + one `getFileStatus` per file — the partition-retention
    * decision input (what does dropping a day free?), zero data I/O. */
  def partitions(path: String, name: String = "",
                 snapAt: Option[() => TxTable.Snapshot] = None)
      : TxMetaTable = {
    val schema = StructType(Seq(
      StructField("part", LongType, nullable = true),
      StructField("part_start", StringType, nullable = true),
      StructField("part2", StringType, nullable = true),
      StructField("part3", StringType, nullable = true),
      StructField("spec_id", IntegerType, nullable = true),
      StructField("spec", StringType, nullable = true),
      StructField("files", IntegerType, nullable = false),
      StructField("buckets", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("deleted_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false)))
    val display = if (name.isEmpty) path else name
    new TxMetaTable(s"$display#partitions", schema, () => {
      val snap = snapAt.fold(TxTable.snapshot(spark, path))(_.apply())
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hist = graft.ops.PartitionTransforms.history(snap.props)
      def isDate(c: String): Boolean = snap.schema.exists(_.fields.exists(
        f => f.name == c &&
          f.dataType == org.apache.spark.sql.types.DateType))
      // one row per (generation, partition-value vector): post-evolution
      // tables surface each generation's live slices under ITS spec —
      // the retention/migration decision input. Field-0 renders into
      // part/part_start (numeric value + human range start / decoded
      // identity); deeper fields render into part2/part3.
      def keyOf(e: TxTable.FileEntry)
          : Option[graft.ops.PartitionTransforms.Resolved] =
        graft.ops.PartitionTransforms.resolve(e.rel, hist)
      def renderAt(res: graft.ops.PartitionTransforms.Resolved, i: Int)
          : String =
        res.raw.lift(i).flatten.map { t =>
          val f = res.spec.fields(i)
          graft.ops.PartitionTransforms.renderRaw(f, t, isDate(f.column))
        }.orNull
      snap.entries
        .groupBy(e => keyOf(e).map(r => (r.sid, r.raw)))
        .toSeq
        .sortBy { case (k, _) =>
          (k.fold(-1)(_._1),
            k.flatMap(_._2.headOption.flatten)
              .flatMap(t => scala.util.Try(t.toLong).toOption)
              .getOrElse(Long.MinValue),
            k.fold("")(_._2.map(_.getOrElse("")).mkString("/")))
        }
        .map { case (_, es) =>
          val res = keyOf(es.head)
          val rows =
            if (es.forall(_.liveRows.isDefined))
              java.lang.Long.valueOf(es.flatMap(_.liveRows).sum)
            else null
          val p0: java.lang.Long = res.flatMap(_.raw.headOption.flatten)
            .flatMap(t => scala.util.Try(t.toLong).toOption)
            .map(java.lang.Long.valueOf).orNull
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](
              p0,
              res.map(r => renderAt(r, 0)).filter(_ != null)
                .map(UTF8String.fromString).orNull,
              res.map(r => renderAt(r, 1)).filter(_ != null)
                .map(UTF8String.fromString).orNull,
              res.map(r => renderAt(r, 2)).filter(_ != null)
                .map(UTF8String.fromString).orNull,
              res.map(r => java.lang.Integer.valueOf(r.sid)).orNull,
              res.map(r => UTF8String.fromString(r.spec.render)).orNull,
              es.size,
              es.map(_.bucket).distinct.size,
              rows,
              es.map(_.dv.fold(0L)(_.ndel)).sum,
              es.map(e => TxFileSizes.of(fs, path, e)).sum)): InternalRow
        }.toArray
    })
  }

  /** `t#refs`: every named ref — tags (immutable pins), branches
    * (writable forks), open WAP stages, and OPEN equality-delete
    * registry entries (each holds its key sidecar live and taxes every
    * read until folded — maintenance state an operator lists exactly
    * like WAP ids) — as one queryable table: name, kind, the pinned/
    * base/registered version, and a kind-specific count (branch commits,
    * WAP staged manifests, an eqdelete entry's known key tuples, -1
    * unknown; 0 for tags). Manifest-metadata only, like every system
    * table. */
  def refs(path: String): TxMetaTable = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("commits", IntegerType, nullable = false)))
    new TxMetaTable(s"$path#refs", schema, () => {
      val tags = TxTable.tags(spark, path).toSeq.map { case (n, v) =>
        (n, "tag", v, 0)
      }
      val brs = TxTable.branches(spark, path).toSeq.map { case (n, base) =>
        val head = TxTable.branchSnapshot(spark, path, n)
        (n, "branch", base, (head.version - base).toInt)
      }
      val headSnap = TxTable.snapshot(spark, path)
      // open write-audit-publish stages are refs too (the anonymous
      // single-commit branch): version = the current head they would
      // publish onto, commits = staged manifest count
      val waps = TxTable.stagedIds(spark, path).map { id =>
        (id, "wap", headSnap.version,
          TxTable.stagedAdds(spark, path, id)._2.size)
      }
      // unfolded equality deletes: name = the key sidecar rel, version
      // = the delete's commit, count = known key tuples
      val eqs = TxTable.parseEqDeletes(headSnap.props).map { d =>
        (d.rel, "eqdelete", d.version,
          math.min(d.nKeys, Int.MaxValue.toLong).toInt)
      }
      (tags ++ brs ++ waps ++ eqs).sortBy(r => (r._2, r._1))
        .map { case (n, k, v, c) =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](UTF8String.fromString(n), UTF8String.fromString(k),
              v, c)): InternalRow
        }.toArray
    })
  }

  /** `t#history`: the DESCRIBE HISTORY frame as a queryable table. */
  def history(path: String): TxMetaTable = {
    val df = TxTable.history(spark, path) // schema source (tiny, local)
    val schema = df.schema
    new TxMetaTable(s"$path#history", schema, () => {
      val d = TxTable.history(spark, path)
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(d.schema)
      d.collect().map(r => conv(r).asInstanceOf[InternalRow])
    })
  }
}

final class TxLocalResultScan(desc: String, schema: StructType,
                              resultRows: Array[InternalRow])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = resultRows
  override def description(): String = desc
}

/** The table-maintenance surface for SQL-only sessions — DSv2 stored
  * procedures (the Iceberg `CALL catalog.proc(...)` shape): compaction,
  * zone-map profiling, vacuum, and rebucket migration are all one CALL
  * away, so a deployment can schedule maintenance from plain SQL instead
  * of a Scala job. Each procedure delegates to the same [[TxTable]]
  * kernel every Scala caller uses and returns a one-row result frame. */
object TxProcedures {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private def spark = SparkSession.active

  private abstract class Proc(procName: String, doc: String,
                              params: Seq[ProcedureParameter],
                              resultSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = doc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): Array[Any]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row: InternalRow =
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(run(input))
      java.util.Collections.singletonList[Scan](
        new TxLocalResultScan(s"GraftTxTable procedure $procName",
          resultSchema, Array(row))).iterator()
    }
  }

  private val compact: Proc = new Proc("compact",
    "rewrite buckets holding more than max_files_per_bucket files; " +
      "max_buckets bounds one maintenance slice to the N most " +
      "fragmented buckets (incremental OPTIMIZE — repeat to converge)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_files_per_bucket", IntegerType)
        .defaultValue("4").build(),
      ProcedureParameter.in("max_buckets", IntegerType)
        .defaultValue(Int.MaxValue.toString).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("buckets_compacted", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.compact(spark, input.getUTF8String(0).toString,
        input.getInt(1), maxBuckets = input.getInt(2)))
  }

  private val compactPartitionProc: Proc = new Proc("compact_partition",
    "partition-aligned compaction: rewrite ONE hidden-partition value's " +
      "fragmented buckets (the 'compact yesterday' maintenance unit); " +
      "I/O bounded by that partition alone",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("part", LongType).build(),
      ProcedureParameter.in("max_files_per_bucket", IntegerType)
        .defaultValue("1").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("buckets_compacted", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.compactPartition(spark,
        input.getUTF8String(0).toString, input.getLong(1),
        input.getInt(2)))
  }

  private val dropPartitionProc: Proc = new Proc("drop_partition",
    "metadata-only retention: remove ONE hidden-partition value's files " +
      "from the manifest (no predicate, no file read; the change feed " +
      "surfaces the drop as file-granular deletes)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("part", LongType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("files_dropped", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.dropPartition(spark,
        input.getUTF8String(0).toString, input.getLong(1)))
  }

  private val computeStats: Proc = new Proc("compute_stats",
    "build/refresh the per-file (min,max) zone-map sidecar for a column",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("column", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("files_profiled", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.computeStats(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString))
  }

  private val computeBloom: Proc = new Proc("compute_bloom",
    "build/refresh the per-file bloom sidecar for equality pruning on a " +
      "non-key column",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("column", StringType).build(),
      ProcedureParameter.in("fpp", org.apache.spark.sql.types.DoubleType)
        .defaultValue("0.01").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("files_profiled", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.computeBloom(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString, input.getDouble(2)))
  }

  private val tagProc: Proc = new Proc("tag",
    "pin a committed version under an immutable name; readable as " +
      "t@<name>, vacuum-protected until untagged",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("version", LongType)
        .defaultValue("-1").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("pinned_version", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      val v = input.getLong(2)
      Array(TxTable.tag(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString,
        if (v < 0) None else Some(v)))
    }
  }

  private val untagProc: Proc = new Proc("untag",
    "release a tag's pin (the version stays until a later vacuum)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("removed", org.apache.spark.sql.types.BooleanType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.untag(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString))
  }

  private val purgeDeletes: Proc = new Proc("purge_deletes",
    "rewrite files whose deletion-vector fraction reaches the threshold " +
      "(folds the vectors; bounded by the dirty files alone)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("min_deleted_fraction",
        org.apache.spark.sql.types.DoubleType)
        .defaultValue("0.1").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("files_purged", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.purgeDeletes(spark, input.getUTF8String(0).toString,
        input.getDouble(1)))
  }

  private val vacuum: Proc = new Proc("vacuum",
    "drop pre-horizon log versions and unreferenced data (respecting the " +
      "in-flight orphan retention; keep_ms >= 0 additionally retains " +
      "every version published within the window; dry_run reports the " +
      "would-be deletions without touching anything)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_versions", IntegerType)
        .defaultValue("1").build(),
      ProcedureParameter.in("orphan_retention_ms", LongType)
        .defaultValue("0").build(),
      ProcedureParameter.in("keep_ms", LongType)
        .defaultValue("-1").build(),
      ProcedureParameter.in("dry_run",
        org.apache.spark.sql.types.BooleanType)
        .defaultValue("false").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("deleted_paths", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.vacuum(spark, input.getUTF8String(0).toString,
        input.getInt(1), input.getLong(2),
        Some(input.getLong(3)).filter(_ >= 0),
        dryRun = input.getBoolean(4)).size)
  }

  private val rebucket: Proc = new Proc("rebucket",
    "one-commit bucket-count migration (full rewrite; changes the " +
      "table's layout identity)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("key", StringType).build(),
      ProcedureParameter.in("n_buckets", IntegerType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("committed_version", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.rebucket(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString, input.getInt(2)))
  }

  private val restoreProc: Proc = new Proc("restore",
    "roll the table's head to a committed version or tag as a NEW " +
      "metadata-only commit (history preserved; a second restore undoes " +
      "it)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType)
        .defaultValue("-1").build(),
      ProcedureParameter.in("tag", StringType)
        .defaultValue("''").build()),
    StructType(Seq(
      org.apache.spark.sql.types
        .StructField("committed_version", LongType, nullable = false),
      org.apache.spark.sql.types
        .StructField("restored_version", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      val table = input.getUTF8String(0).toString
      val v = input.getLong(1)
      val tagName = input.getUTF8String(2).toString
      require((v >= 0) != tagName.nonEmpty,
        "pass exactly one of version => N or tag => 'name'")
      val target = if (v >= 0) v
        else TxTable.tags(spark, table).getOrElse(tagName,
          throw new IllegalArgumentException(
            s"$table: no tag named '$tagName'"))
      Array(TxTable.restore(spark, table, target), target)
    }
  }

  private val history: Proc = new Proc("history",
    "DESCRIBE HISTORY: one row per retained log version, from manifest " +
      "headers alone (zero data I/O)",
    Seq(ProcedureParameter.in("table", StringType).build()),
    org.apache.spark.sql.types.StructType(Seq())) {
    // multi-row result: the schema/rows come from the history frame itself
    override protected def run(input: InternalRow): Array[Any] =
      throw new UnsupportedOperationException("unused — call() overridden")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val df = TxTable.history(spark, input.getUTF8String(0).toString)
      val schema = df.schema
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(schema)
      val rows = df.collect().map(r =>
        conv(r).asInstanceOf[InternalRow]) // bounded: one row per version
      java.util.Collections.singletonList[Scan](
        new TxLocalResultScan("GraftTxTable procedure history", schema,
          rows)).iterator()
    }
  }

  private val publishStaged: Proc = new Proc("publish_staged",
    "atomically publish a write-audit-publish id's staged commits onto " +
      "the head (one commit; staged manifests release)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("wap_id", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("published_version", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.publishStaged(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString))
  }

  private val dropStaged: Proc = new Proc("drop_staged",
    "abandon a write-audit-publish id: staged manifests delete; the " +
      "staged data files become vacuum orphans",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("wap_id", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("stagings_dropped", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.dropStaged(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString))
  }

  private val zorder: Proc = new Proc("zorder",
    "OPTIMIZE ZORDER BY: rewrite fragmented buckets clustered on the " +
      "N-dimensional Morton interleave of the given columns (comma-" +
      "separated) and refresh all N zone-map sidecars. bounds are " +
      "lo:hi pairs normalizing each column onto the grid, or '' to " +
      "AUTO-derive them from the columns' zone-map sidecars (ANALYZE " +
      "runs footer-first when missing)",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("columns", StringType).build(),
      ProcedureParameter.in("bounds", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("max_files_per_bucket", IntegerType)
        .defaultValue("0").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("buckets_rewritten", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      val table = input.getUTF8String(0).toString
      val cols = input.getUTF8String(1).toString.split(',').toSeq
        .map(_.trim).filter(_.nonEmpty)
      val boundsStr = input.getUTF8String(2).toString.trim
      if (boundsStr.isEmpty) {
        require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
        return Array(TxTable.compactZOrderedAuto(spark, table, cols,
          maxFilesPerBucket = input.getInt(3)))
      }
      val bounds = boundsStr.split(',').toSeq
        .map(_.trim).filter(_.nonEmpty).map { b =>
          val parts = b.split(':')
          require(parts.length == 2,
            s"bound '$b' must be lo:hi (e.g. '0:100')")
          (parts(0).toDouble, parts(1).toDouble)
        }
      require(cols.size == bounds.size && cols.size >= 2,
        s"need >= 2 columns with one lo:hi bound each, got " +
          s"${cols.size} columns / ${bounds.size} bounds")
      Array(TxTable.compactZOrderedN(spark, table,
        cols.zip(bounds).map { case (c, (lo, hi)) => (c, lo, hi) },
        maxFilesPerBucket = input.getInt(3)))
    }
  }

  private val analyzeLayout: Proc = new Proc("analyze_layout",
    "layout-health advisor: one row per bucket from manifest metadata + " +
      "file sizes (fragmentation, deleted fraction, bytes) with the " +
      "maintenance action each bucket needs, plus one bucket=-1 row " +
      "per OPEN equality-delete registry state (rows = registered key " +
      "tuples, detail = budget pressure, recommendation = " +
      "fold_eq_deletes) — the scheduled-OPTIMIZE decision input at " +
      "100 TB, zero data I/O",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_files_per_bucket", IntegerType)
        .defaultValue("4").build(),
      ProcedureParameter.in("max_deleted_fraction",
        org.apache.spark.sql.types.DoubleType)
        .defaultValue("0.1").build()),
    org.apache.spark.sql.types.StructType(Seq())) {
    override protected def run(input: InternalRow): Array[Any] =
      throw new UnsupportedOperationException("unused — call() overridden")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      import org.apache.spark.unsafe.types.UTF8String
      val path = input.getUTF8String(0).toString
      val maxFiles = input.getInt(1)
      val maxDeleted = input.getDouble(2)
      val snap = TxTable.snapshot(spark, path)
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val schema = StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket", IntegerType,
          nullable = false),
        org.apache.spark.sql.types.StructField("n_files", IntegerType,
          nullable = false),
        org.apache.spark.sql.types.StructField("rows", LongType,
          nullable = true),
        org.apache.spark.sql.types.StructField("deleted_rows", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("total_bytes", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("recommendation",
          StringType, nullable = false),
        org.apache.spark.sql.types.StructField("detail",
          StringType, nullable = true)))
      // the one read tax the per-bucket rows cannot see: an OPEN
      // equality-delete registry (every read pays it as a join until
      // fold_eq_deletes/auto_maintain runs). Surfaced as a bucket=-1
      // row — rows = registered key tuples known, detail = pressure
      // against the write-side budget — so a scheduler acting on this
      // frame fixes everything auto_maintain would.
      val eqDels = TxTable.parseEqDeletes(snap.props)
      val regRow =
        if (eqDels.isEmpty) Seq.empty
        else {
          val keys = TxTable.eqKnownKeys(eqDels)
          val budget = scala.util.Try(spark.conf
            .get(TxTable.EqMaxRegisteredKeysConf).toLong)
            .getOrElse(TxTable.DefaultEqMaxRegisteredKeys)
          val bytes = eqDels.map { d =>
            scala.util.Try(fs.getContentSummary(
              new Path(s"$path/${d.rel}")).getLength).getOrElse(0L)
          }.sum
          Seq(new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](-1, eqDels.size,
              java.lang.Long.valueOf(keys), 0L, bytes,
              UTF8String.fromString("fold_eq_deletes"),
              UTF8String.fromString(
                f"eq-registry: keys=$keys budget=$budget " +
                  f"used=${keys.toDouble / budget}%.4f")))
            : InternalRow)
        }
      val rows = regRow ++ snap.entries.groupBy(_.bucket).toSeq.sortBy(_._1)
        .map { case (b, es) =>
          val nFiles = es.size
          val rowsOpt =
            if (es.forall(_.rows.isDefined)) Some(es.flatMap(_.rows).sum)
            else None
          val ndel = es.flatMap(_.dv).map(_.ndel).sum
          val bytes = es.map(e => TxFileSizes.of(fs, path, e)).sum
          val delFrac = rowsOpt.filter(_ > 0)
            .map(r => ndel.toDouble / r).getOrElse(if (ndel > 0) 1.0 else 0.0)
          val rec =
            if (nFiles > maxFiles && delFrac >= maxDeleted)
              "compact" // folds the vectors too
            else if (nFiles > maxFiles) "compact"
            else if (delFrac >= maxDeleted) "purge_deletes"
            else "ok"
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](b, nFiles,
              rowsOpt.map(java.lang.Long.valueOf).orNull, ndel, bytes,
              UTF8String.fromString(rec), null)): InternalRow
        }
      java.util.Collections.singletonList[Scan](
        new TxLocalResultScan("GraftTxTable procedure analyze_layout",
          schema, rows.toArray)).iterator()
    }
  }

  private val createBranch: Proc = new Proc("create_branch",
    "fork a writable branch at a committed version (default: the head); " +
      "readable as t@branch.<name>, appendable via INSERT INTO it, " +
      "vacuum-protected until published or dropped",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("version", LongType)
        .defaultValue("-1").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("base_version", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      val v = input.getLong(2)
      Array(TxTable.createBranch(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString, if (v < 0) None else Some(v)))
    }
  }

  private val publishBranch: Proc = new Proc("publish_branch",
    "fast-forward the branch onto main as ONE atomic commit (refuses " +
      "when main moved past the branch's base — diverged); the ref " +
      "releases after the publish",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("published_version", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.publishBranch(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString))
  }

  private val dropBranch: Proc = new Proc("drop_branch",
    "delete the branch ref and its commits; the branch's staged files " +
      "become vacuum orphans",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("commits_dropped", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.dropBranch(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString))
  }

  private val cloneProc: Proc = new Proc("clone",
    "shallow clone: a NEW table referencing the source version's live " +
      "files (zero data I/O); pins the version in the source's log " +
      "until release_clone",
    Seq(ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("target", StringType).build(),
      ProcedureParameter.in("version", LongType)
        .defaultValue("-1").build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("cloned_version", LongType, nullable = false),
      org.apache.spark.sql.types
        .StructField("files_shared", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      val v = input.getLong(2)
      val snap = TxTable.cloneTable(spark,
        input.getUTF8String(0).toString, input.getUTF8String(1).toString,
        if (v < 0) None else Some(v))
      Array(snap.props(TxTable.CloneVersionProp).toLong,
        snap.entries.size)
    }
  }

  private val releaseCloneProc: Proc = new Proc("release_clone",
    "drop the pin a clone holds in its source's log (a later source " +
      "vacuum may then collect the shared files)",
    Seq(ProcedureParameter.in("target", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("released", org.apache.spark.sql.types.BooleanType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.releaseClone(spark, input.getUTF8String(0).toString))
  }

  private val localizeCloneProc: Proc = new Proc("localize_clone",
    "rewrite a clone's still-shared files into table-local bytes (the " +
      "incremental deep copy); 0 returned means nothing is shared and " +
      "release_clone is safe",
    Seq(ProcedureParameter.in("target", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("files_localized", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.localizeClone(spark, input.getUTF8String(0).toString))
  }

  private val computeStatsNdv: Proc = new Proc("compute_stats_ndv",
    "ANALYZE with distinct sketches: build/refresh the zone-map sidecar " +
      "AND a per-file DataSketches HLL for the column (one column-pruned " +
      "scan) — the merged estimate feeds the CBO's distinctCount",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("column", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("files_profiled", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.computeStats(spark, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString, withNdv = true))
  }

  private val vacuumIndexProc: Proc = new Proc("vacuum_index",
    "side-index GC: drop index rows whose id no longer exists in the " +
      "corpus table (ghosts left by drop_partition / MOR DELETE / " +
      "replaceWhere retention) — one bounded merge-on-read commit; a " +
      "ghost can dedup-reject a FRESH document against content the " +
      "corpus no longer holds",
    Seq(ProcedureParameter.in("index", StringType).build(),
      ProcedureParameter.in("corpus", StringType).build(),
      ProcedureParameter.in("id_col", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("rows_vacuumed", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      val corpus = input.getUTF8String(1).toString
      require(TxTable.isTxTable(spark, corpus),
        s"$corpus is not a TxTable — pass the corpus TABLE whose live " +
          "keys define the index's surviving rows")
      Array(graft.ops.DedupOps.vacuumIndex(spark,
        input.getUTF8String(0).toString,
        TxTable.read(spark, corpus),
        input.getUTF8String(2).toString))
    }
  }

  private val enableRowTrackingProc: Proc = new Proc(
    "enable_row_tracking",
    "switch on durable row identity (_row_id / _row_commit_version): " +
      "one dataChange=false commit backfills a base-row-id range for " +
      "every live file and sets the allocation watermark; every later " +
      "commit allocates ranges for its added files automatically",
    Seq(ProcedureParameter.in("table", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("enabled", org.apache.spark.sql.types.BooleanType,
        nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      TxTable.enableRowTracking(spark, input.getUTF8String(0).toString)
      Array(true)
    }
  }

  private val foldEqDeletesProc: Proc = new Proc("fold_eq_deletes",
    "rewrite exactly the files the unfolded equality-delete registry " +
      "can still address, dropping the matched rows and retiring the " +
      "registry entries in the same commit — after the fold every " +
      "surface (incl. the DSv2 metadata shortcuts) is tax-free again",
    Seq(ProcedureParameter.in("table", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("files_rewritten", IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.foldEqDeletes(spark,
        input.getUTF8String(0).toString))
  }

  private val autoMaintainProc: Proc = new Proc("auto_maintain",
    "apply analyze_layout's own recommendations in one bounded call: " +
      "fold unfolded equality deletes, compact the max_buckets worst " +
      "fragmented buckets (worst-first, convergent across calls), and " +
      "purge heavily-deleted files — dataChange=false commits only; " +
      "remaining_actions = 0 means the layout converged",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_files_per_bucket", IntegerType)
        .defaultValue("4").build(),
      ProcedureParameter.in("max_deleted_fraction",
        org.apache.spark.sql.types.DoubleType)
        .defaultValue("0.1").build(),
      ProcedureParameter.in("max_buckets", IntegerType)
        .defaultValue("8").build()),
    StructType(Seq(
      org.apache.spark.sql.types.StructField("eq_folded_files",
        IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("compacted_buckets",
        IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("purged_files",
        IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("remaining_actions",
        IntegerType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] = {
      val m = TxTable.autoMaintain(spark,
        input.getUTF8String(0).toString, input.getInt(1),
        input.getDouble(2), input.getInt(3))
      Array(m("eq_folded_files"), m("compacted_buckets"),
        m("purged_files"), m("remaining_actions"))
    }
  }

  private val deleteWhereEqProc: Proc = new Proc("delete_where_eq",
    "register an equality delete from SQL: the KEY TUPLES produced by " +
      "keys_query (its output COLUMNS name the equality key, exactly " +
      "like the Scala verb's frame) commit as a registry entry — zero " +
      "data files read or written, the zero-read-amplification MOR " +
      "delete shape. Reads pay the registry as a key-budgeted " +
      "anti-join until CALL fold_eq_deletes / auto_maintain folds it",
    Seq(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keys_query", StringType).build()),
    StructType(Seq(org.apache.spark.sql.types
      .StructField("keys_registered", LongType, nullable = false)))) {
    override protected def run(input: InternalRow): Array[Any] =
      Array(TxTable.deleteWhereEq(spark,
        input.getUTF8String(0).toString,
        spark.sql(input.getUTF8String(1).toString)))
  }

  private val all: Map[String, UnboundProcedure] =
    Seq(compact, computeStats, computeBloom, purgeDeletes, vacuum,
      rebucket, history, tagProc, untagProc, restoreProc,
      publishStaged, dropStaged, zorder, createBranch, publishBranch,
      dropBranch, analyzeLayout, cloneProc, releaseCloneProc,
      enableRowTrackingProc, foldEqDeletesProc, autoMaintainProc,
      localizeCloneProc, compactPartitionProc, dropPartitionProc,
      vacuumIndexProc, computeStatsNdv, deleteWhereEqProc)
      .map(p => p.name() -> (p: UnboundProcedure)).toMap

  def names: Seq[String] = all.keys.toSeq.sorted
  def load(name: String): Option[UnboundProcedure] = all.get(name)

  /** One resolved CALL argument: the rewritten value plus an optional
    * UNDO for any side effect the resolution itself performed (a clone
    * target's freshly claimed metastore binding) — run iff the
    * procedure body then fails, so a failed CALL cannot leave a
    * dangling name behind. */
  final case class ResolvedArg(value: String,
                               undo: Option[() => Unit] = None)

  /** Wrap a procedure so every STRING parameter runs through the
    * calling catalog's resolver (keyed by parameter name) before the
    * kernel sees it — `CALL cat.compact('db.t')` maintains exactly the
    * table `CALL cat.compact('/path')` would, and the same holds for
    * every other table-reference parameter (`source`/`target` of
    * clone/release_clone/localize_clone): a warehouse catalog's
    * maintenance surface must accept NAMES everywhere paths work. The
    * resolver decides which names it touches; non-reference parameters
    * (a keys_query, a tag name) pass through untouched. */
  def resolved(p: UnboundProcedure,
               resolve: (String, String) => ResolvedArg): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = p.name()
      override def description(): String = p.description()
      override def bind(inputType: StructType): BoundProcedure = {
        val b = p.bind(inputType)
        new UnboundProcedure with BoundProcedure {
          override def name(): String = b.name()
          override def description(): String = b.description()
          override def bind(t: StructType): BoundProcedure = this
          override def parameters(): Array[ProcedureParameter] =
            b.parameters()
          override def isDeterministic: Boolean = b.isDeterministic
          override def call(input: InternalRow)
              : java.util.Iterator[Scan] = {
            val ps = b.parameters()
            val undos = Seq.newBuilder[() => Unit]
            val vals = ps.indices.map { i =>
              val v = input.get(i, ps(i).dataType())
              if (ps(i).dataType() == StringType && v != null) {
                val r = resolve(ps(i).name(), v.toString)
                r.undo.foreach(u => undos += u)
                UTF8String.fromString(r.value)
              } else v
            }.toArray[Any]
            try b.call(new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(vals))
            catch { case e: Throwable =>
              undos.result().reverse
                .foreach(u => scala.util.Try(u()))
              throw e
            }
          }
        }
      }
      override def parameters(): Array[ProcedureParameter] =
        bind(new StructType()).parameters()
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] =
        bind(new StructType()).call(input)
    }
}
