package graft.plans

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

import graft.sources.TxFilePlanner

/** Catalyst optimizer rule: file skipping for SQL reads of
  * [[graft.ops.TxTable]] views.
  *
  * A `spark.sql` session reading a registered TxTable view
  * ([[graft.ops.TxTable.registerView]]) plans a parquet relation over
  * every committed file. This rule translates a `Filter` with simple
  * range/equality conjuncts over such a relation (files under
  * `<root>/files/...` with `<root>/_txlog`) into a
  * [[graft.sources.TxFilePlanner]] probe — the same planner, and so the
  * same zone-map, partition-envelope, bloom and bucket verdicts, as the
  * catalog scan and the Scala read verbs — and rescans only the kept
  * files. Every unknown keeps the file, and the full filter still
  * applies on top, so the rewrite changes I/O, never rows.
  *
  * Convergence: when pruning removes nothing the node is returned
  * unchanged, so the fixed-point optimizer batch terminates. */
case class TxTablePruneRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, rel: LogicalRelation)
        if rel.relation.isInstanceOf[HadoopFsRelation] =>
      pruneFilter(f, cond, rel, identity).getOrElse(f)

    // the column-mapping shape: a renamed table's view reads through a
    // rename-only Project (`fromPhysical`'s positional SELECT) — prune
    // through it by translating the filter's LOGICAL attribute names
    // back to the PHYSICAL names the sidecars and manifest are keyed by
    case f @ Filter(cond,
        p @ org.apache.spark.sql.catalyst.plans.logical.Project(
          projectList, rel: LogicalRelation))
        if rel.relation.isInstanceOf[HadoopFsRelation] &&
          projectList.forall {
            case _: AttributeReference => true
            case Alias(_: AttributeReference, _) => true
            case _ => false
          } =>
      val toPhys: Map[String, String] = projectList.collect {
        case Alias(a: AttributeReference, n) => n -> a.name
      }.toMap
      pruneFilter(f, cond, rel, n => toPhys.getOrElse(n, n)) match {
        case Some(Filter(c, newRel)) =>
          Filter(c, p.copy(child = newRel))
        case _ => f
      }
  }

  /** Extract the probe from `cond` (attribute names mapped through
    * `nameOf` into physical space), plan it against the table's newest
    * snapshot restricted to the relation's files, and rebuild the Filter
    * over the kept files. None = nothing pruned (caller keeps the
    * original node — fixed-point safe). */
  private def pruneFilter(f: Filter, cond: Expression,
                          rel: LogicalRelation,
                          nameOf: String => String): Option[Filter] = {
    val hfs = rel.relation.asInstanceOf[HadoopFsRelation]
    tableRootOf(hfs).flatMap { root =>
      val probe = TxFilePlanner.Probe(
        extractBounds(cond).map(r => r.copy(column = nameOf(r.column))),
        extractEqualities(cond).map(q => q.copy(column = nameOf(q.column))))
      val snap =
        if (probe.isEmpty) None
        else Try(graft.ops.TxTable.cachedSnapshot(session, root)).toOption
      snap.flatMap { sn =>
        val current = hfs.location.inputFiles
        def relOf(f: String): Option[String] = {
          val cut = f.lastIndexOf("/files/")
          if (cut < 0) None else Some(f.substring(cut + 1))
        }
        // a file the snapshot does not list (a view pinned to an older
        // version) still prunes by its sidecar rows and path envelope;
        // its bucket is unknown, which the bucket stage keeps
        val byRel = sn.entries.map(e => e.rel -> e).toMap
        val entries = current.toSeq.flatMap(relOf).map(r =>
          byRel.getOrElse(r, graft.ops.TxTable.FileEntry(-1, r)))
        val keptRels = TxFilePlanner.plan(session, root,
          sn.copy(entries = entries), probe)._1.map(_.rel).toSet
        val kept = current.filter(f => relOf(f).forall(keptRels))
        if (kept.length == current.length) None
        else {
          val idx = new InMemoryFileIndex(session,
            kept.map(new Path(_)).toSeq, Map.empty[String, String],
            Some(hfs.dataSchema))
          val newHfs = HadoopFsRelation(idx, hfs.partitionSchema,
            hfs.dataSchema, hfs.bucketSpec, hfs.fileFormat,
            hfs.options)(session)
          Some(Filter(cond, rel.copy(relation = newHfs)))
        }
      }
    }
  }

  /** The TxTable root owning this relation's files, if any: every file a
    * TxTable commit references sits at `<root>/files/<uuid>/bucket-N/…`
    * with the commit log at `<root>/_txlog`. Positive answers are cached
    * (a table's root never stops being one); the check itself only runs
    * for paths that contain a `/files/` segment. */
  private def tableRootOf(hfs: HadoopFsRelation): Option[String] = {
    val head = hfs.location.rootPaths.headOption.map(_.toString)
    head.filter(_.contains("/files/")).flatMap { h =>
      val cut = h.lastIndexOf("/files/")
      val root = h.substring(0, cut)
      val hit = TxTablePruneRule.knownRoots.get(root)
      if (hit != null) Some(root).filter(_ => hit)
      else {
        val isTx = Try {
          val p = new Path(root, "_txlog")
          p.getFileSystem(session.sparkContext.hadoopConfiguration).exists(p)
        }.getOrElse(false)
        if (isTx) TxTablePruneRule.knownRoots.put(root, true)
        Some(root).filter(_ => isTx)
      }
    }
  }

  /** Simple single-column bounds from the filter's conjuncts, in EXTERNAL
    * Scala types (the sidecars hold external values), with their
    * strictness. Anything non-literal or non-attribute is ignored (it
    * still filters rows, just not files). */
  private def extractBounds(cond: Expression): Seq[TxFilePlanner.Range] = {
    def ext(l: Literal): Option[Any] =
      Option(l.value).map(CatalystTypeConverters.convertToScala(_, l.dataType))
    def lo(a: AttributeReference, l: Literal, strict: Boolean) =
      ext(l).map(v => TxFilePlanner.Range(a.name, Some((v, strict)), None))
    def hi(a: AttributeReference, l: Literal, strict: Boolean) =
      ext(l).map(v => TxFilePlanner.Range(a.name, None, Some((v, strict))))
    type A = AttributeReference
    splitConjunctivePredicates(cond).flatMap {
      case GreaterThanOrEqual(a: A, l: Literal) => lo(a, l, false)
      case GreaterThan(a: A, l: Literal) => lo(a, l, true)
      case LessThanOrEqual(a: A, l: Literal) => hi(a, l, false)
      case LessThan(a: A, l: Literal) => hi(a, l, true)
      case GreaterThanOrEqual(l: Literal, a: A) => hi(a, l, false)
      case GreaterThan(l: Literal, a: A) => hi(a, l, true)
      case LessThanOrEqual(l: Literal, a: A) => lo(a, l, false)
      case LessThan(l: Literal, a: A) => lo(a, l, true)
      case EqualTo(a: A, l: Literal) =>
        ext(l).map(v => TxFilePlanner.Range(a.name, Some((v, false)),
          Some((v, false))))
      case EqualTo(l: Literal, a: A) =>
        ext(l).map(v => TxFilePlanner.Range(a.name, Some((v, false)),
          Some((v, false))))
      case _ => None
    }
  }

  /** Equality / IN literals per column, kept as CATALYST literals: the
    * bucket and bloom hashes must run on exactly the internal value the
    * writers hashed, and the analyzer has already cast the literal to the
    * column's type. */
  private def extractEqualities(cond: Expression): Seq[TxFilePlanner.Eq] =
    splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
        Some(TxFilePlanner.Eq(a.name, Seq(l)))
      case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
        Some(TxFilePlanner.Eq(a.name, Seq(l)))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall {
            case l: Literal => l.value != null; case _ => false } =>
        Some(TxFilePlanner.Eq(a.name, vs.map(_.asInstanceOf[Literal])))
      case InSet(a: AttributeReference, hset) if !hset.contains(null) =>
        Some(TxFilePlanner.Eq(a.name, hset.toSeq.map(Literal(_, a.dataType))))
      case _ => None
    }
}

object TxTablePruneRule {
  /** Roots confirmed to carry a TxTable log — never invalidated (a
    * directory does not stop being a table root). */
  private val knownRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
}
