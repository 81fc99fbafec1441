package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, Cast, CreateNamedStruct, EqualTo, Expression, GetStructField, In,
  InSubquery, ListQuery, Literal, SubqueryExpression, UpdateFields}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, LogicalPlan, MergeAction,
  MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.types.StructType

import graft.core.TableDefinition
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * SQL row-level DML for graft catalog tables — `MERGE INTO`, `UPDATE`, and
 * row-level `DELETE` become partition-granular COPY-ON-WRITE rewrites
 * through the ordinary versioned write path (one time-travelable commit
 * each), the way Delta/Iceberg users expect to drive a versioned table:
 *
 * {{{
 *   MERGE INTO graft.db.t t USING src s ON t.k = s.k
 *   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
 *
 *   UPDATE graft.db.t SET label = 'x' WHERE id > 5
 *   DELETE FROM graft.db.t WHERE id > 5       -- row-level predicate
 * }}}
 *
 * Spark's own row-level planning requires `SupportsRowLevelOperations` (a
 * full V2 delta-write surface); this engine's commit granularity is the
 * partition, so the statements are intercepted AFTER analysis has resolved
 * them and BEFORE the planner's row-level-operation check would reject the
 * table, then executed copy-on-write: only partitions holding affected rows
 * are read and rewritten — every other partition's version pointer stays
 * put. A `DELETE` whose predicate is decidable from partition VALUES alone
 * is deliberately NOT intercepted: it keeps flowing to the metadata-only
 * `SupportsDelete` path (a `RemovePartition` commit, no data rewrite).
 *
 * The MERGE ON condition needs at least one `target.col = source.col`
 * equality (the join key — names may differ, `ON t.id = s.src_id`); every
 * other conjunct (non-equi comparisons, one-sided filters) rides the
 * clause join as a residual with SQL ON semantics. UPDATE and MERGE SET
 * may assign partition columns — rows migrate between partitions (the
 * copy-on-write UPDATE rewrites source ∪ destination partitions in one
 * commit; merge-on-read hides + re-lands) — and may target nested struct
 * fields (`SET meta.lang = 'en'`, folded into one struct rebuild per root
 * column). Honest limits (reject with a clear error, never approximate):
 * DELETE/UPDATE conditions admit subqueries — non-correlated ones re-plan
 * as the semi/anti join a SELECT would get, correlated ones re-express as
 * a non-correlated membership test over the statement's own resolved plan
 * ([[membershipRewrite]]) — but MERGE clause conditions and SET values
 * refuse them (Delta parity); copy-on-write MERGE SET of a partition
 * column still refuses (merge-on-read handles it).
 *
 * Registered by `graft.plans.GraftExtensions` (post-hoc resolution rule).
 */
final case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved || wideningBlockedOnly(m) =>
      graftRelation(m.targetTable) match {
        case None => m
        case Some(rel) =>
          val table = rel.table.asInstanceOf[GraftV2Table]
          val (keyPairs, residual) = mergeKeys(m.mergeCondition, m.targetTable, m.sourceTable)
          val keys = keyPairs.map(_._1)
          // the one-join fast path needs the keys to BE the join: plain
          // same-named equi keys, nothing residual
          val plainKeys = residual.isEmpty &&
            keyPairs.forall { case (t, s) => t.equalsIgnoreCase(s) }
          if (plainKeys && isCanonicalStar(m) &&
            !TableProperties.effectiveFlag(
              spark, table.tableBinding.log, table.tableDefinition, TableProperties.MergeOnRead))
            // the classic upsert keeps its one-join fast path (no
            // table-wide discovery pass; source-partition-scoped contract).
            // Merge-on-read mode routes through the conditional engine
            // instead — its output lands as vectors + overlay rows with no
            // partition rewrite ([[Merge.mergeConditional]]).
            GraftMergeCommand(
              table.tableDefinition, table.tableBinding,
              m.sourceTable, keys, rel.schema)
          else if (m.resolved)
            translateConditional(m, table, rel.schema, keyPairs, residual)
          else m // widening-blocked but non-canonical: Spark's cast error stands
      }

    case u: UpdateTable if u.resolved =>
      graftRelation(u.table) match {
        case None => u
        case Some(rel) =>
          val table = rel.table.asInstanceOf[GraftV2Table]
          val defn = table.tableDefinition
          // partition-column assignments are legal on BOTH paths: the
          // merge-on-read command migrates rows natively (old copy
          // vector-hidden, new copy lands wherever its values say), and
          // the copy-on-write command rewrites source ∪ destination
          // partitions in one commit ([[GraftUpdateCommand]] migration).
          // Nested struct fields (`SET meta.lang = …`) fold into one
          // root-column struct rebuild per root.
          u.assignments.foreach(a => rejectSubqueries(a.value))
          val parsed = u.assignments.map { a =>
            val (root, path) = nestedPath(a.key).getOrElse(
              unsupported(s"non-column assignment target ${a.key.sql}"))
            (root, path, a.value)
          }
          GraftUpdateCommand(
            defn, table.tableBinding,
            foldNested(parsed, "UPDATE").map { case (r, e) =>
              r.name -> new Detached(detach(e)) },
            u.condition.map(c => new Detached(detach(membershipRewrite(c, u.table)))))
      }

    case d @ DeleteFromTable(target, cond) if d.resolved =>
      graftRelation(target) match {
        case None => d
        case Some(rel) =>
          val table = rel.table.asInstanceOf[GraftV2Table]
          val defn = table.tableDefinition
          val partCols = defn.partitionSchema.columns.map(_.name).toSet
          // partition-value-only predicates keep the metadata-only
          // SupportsDelete path (RemovePartition commit, zero data rewrite)
          // — but ONLY on a uniform fold: that path matches partitions by
          // the CURRENT scheme's column values, so on a mixed fold (after
          // a metadata-only evolution) old-era dirs keyed by the old
          // column would silently survive a predicate they match. Mixed
          // folds route to the row-level command, where merge-on-read
          // handles them and copy-on-write refuses with the
          // consolidation escape hatch named.
          if (!defn.isSnapshot && !table.isMixedFold && partitionOnly(cond, partCols)) d
          else
            GraftDeleteCommand(
              defn, table.tableBinding,
              new Detached(detach(membershipRewrite(cond, target))))
      }
  }

  private def graftRelation(target: LogicalPlan): Option[DataSourceV2Relation] =
    target.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] => r
    }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(s"graft SQL DML: unsupported: $what")

  private def rejectSubqueries(e: Expression): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      unsupported(s"subquery in condition: ${e.sql}")

  /** DELETE/UPDATE conditions admit subqueries, correlated or not.
    *
    * NON-correlated (`k IN (SELECT …)`, `EXISTS (SELECT …)`): the subquery
    * plan is already analyzed and self-contained, so the command's own
    * read re-anchors the outer attributes by name and Spark's subquery
    * planning rewrites the predicate into the semi/anti join it would be
    * in a SELECT — no driver-side materialization.
    *
    * CORRELATED (`EXISTS (SELECT 1 FROM s WHERE s.k = t.k)`): the outer
    * references bind to the STATEMENT's attribute ids, which do not exist
    * in the command's re-read — so [[membershipRewrite]] re-expresses the
    * WHOLE condition as a non-correlated membership test built from the
    * statement's own resolved nodes:
    *
    * {{{ struct(cols) IN (SELECT struct(cols) FROM target WHERE cond) }}}
    *
    * The correlation now closes over the target INSIDE the subquery
    * (ids consistent — standard decorrelation territory), while the outer
    * struct's attributes detach by name like any other condition and the
    * planner turns the test into one semi-join (left-anti for survivors).
    * Matching is by VALUE, which is exactly DML semantics: a
    * deterministic predicate holds for every copy of identical rows or
    * none. Struct equality in Spark is ordering-based — null FIELDS
    * compare equal — so rows carrying nulls in columns the predicate
    * never touches still match their own values (a bare tuple IN would
    * wrongly drop them to UNKNOWN). */
  private def membershipRewrite(cond: Expression, target: LogicalPlan): Expression =
    if (!cond.exists {
      case s: SubqueryExpression => s.isCorrelated
      case _ => false
    }) cond
    else {
      def rowStruct = CreateNamedStruct(
        target.output.flatMap(a => Seq(Literal(a.name), a)))
      val matched = org.apache.spark.sql.catalyst.plans.logical.Project(
        Seq(org.apache.spark.sql.catalyst.expressions.Alias(rowStruct, "__graft_row")()),
        Filter(cond, target))
      InSubquery(Seq(rowStruct), ListQuery(matched))
    }

  /** Re-anchor a resolved expression onto a fresh DataFrame: attribute ids
    * belong to the statement's relation, so rebind by NAME and let the
    * command's own query resolve them. */
  private def detach(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  /** A MERGE left unresolved ONLY because the analyzer's star-expansion
    * tried to cast a PROPERLY-WIDENED source struct down to the target's
    * narrow shape (nested autoMerge evolution: the source carries extra
    * struct fields). Such a statement is safe to intercept when
    * autoMergeSchema is on — the command keeps the source's wide shape
    * instead of the impossible down-cast; anything else stays with
    * Spark's own analysis error. */
  private def wideningBlockedOnly(m: MergeIntoTable): Boolean =
    graftRelation(m.targetTable).map { r =>
      val t = r.table.asInstanceOf[GraftV2Table]
      TableProperties.effectiveFlag(
        spark, t.tableBinding.log, t.tableDefinition, TableProperties.AutoMergeSchema)
    }.getOrElse(
      spark.conf.get("spark.graft.dml.autoMergeSchema", "false").toBoolean) &&
      m.targetTable.resolved && m.sourceTable.resolved && m.mergeCondition.resolved &&
      m.notMatchedBySourceActions.isEmpty && {
        val actions = m.matchedActions ++ m.notMatchedActions
        actions.nonEmpty && actions.forall {
          case UpdateAction(cond, assigns, _) =>
            cond.forall(_.resolved) && assigns.forall(wideningBlockedAssign)
          case InsertAction(cond, assigns) =>
            cond.forall(_.resolved) && assigns.forall(wideningBlockedAssign)
          case _ => false
        }
      }

  private def wideningBlockedAssign(a: Assignment): Boolean =
    a.resolved || (a.key.resolved && (a.value match {
      case c: Cast if c.child.resolved =>
        StructEvolution.isProperWidening(c.dataType, c.child.dataType)
      case _ => false
    }))

  private def rootAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c: Cast               => rootAttr(c.child)
    case _                     => None
  }

  /** An assignment key as (root column, struct-field path): `s.x.y` is
    * `(s, [x, y])`, a plain column is `(c, [])`. The analyzer resolved the
    * key, so every path element names a REAL field — no existence check
    * needed (and none wanted: resolution failing is Spark's own error). */
  private def nestedPath(e: Expression): Option[(AttributeReference, Seq[String])] = e match {
    case a: AttributeReference => Some((a, Nil))
    case g: GetStructField =>
      nestedPath(g.child).map { case (r, p) => (r, p :+ g.extractFieldName) }
    case c: Cast => nestedPath(c.child)
    case _       => None
  }

  private def fieldType(
      dt: org.apache.spark.sql.types.DataType,
      path: Seq[String]): Option[org.apache.spark.sql.types.DataType] =
    if (path.isEmpty) Some(dt)
    else dt match {
      case s: StructType =>
        s.fields.find(_.name.equalsIgnoreCase(path.head))
          .flatMap(f => fieldType(f.dataType, path.tail))
      case _ => None
    }

  /** Fold nested-field assignments into ONE root-column expression per
    * root: `SET meta.lang = 'en', meta.score = 0.9` becomes a single
    * `meta -> UpdateFields(UpdateFields(meta, "lang", …), "score", …)`
    * struct rebuild — the write projection then treats the root like any
    * whole-column assignment (the struct keeps its declared shape; each
    * value is cast to ITS field's type). Whole-column assignments pass
    * through; mixing both forms on one root, or assigning the same target
    * twice, is ambiguous and refuses. */
  private def foldNested(
      parsed: Seq[(AttributeReference, Seq[String], Expression)],
      what: String): Seq[(AttributeReference, Expression)] = {
    parsed.foreach { case (r, path, _) =>
      path.foreach(el => if (el.contains(".") || el.contains("`"))
        unsupported(s"struct field name `$el` of ${r.name} contains '.' or '`' — " +
          s"nested assignment in $what cannot address it"))
    }
    val roots = parsed.map(_._1).foldLeft(Vector.empty[AttributeReference])(
      (acc, r) => if (acc.exists(_.exprId == r.exprId)) acc else acc :+ r)
    roots.map { r =>
      val mine = parsed.filter(_._1.exprId == r.exprId)
      val whole = mine.filter(_._2.isEmpty)
      if (whole.nonEmpty && mine.size > 1)
        unsupported(s"conflicting assignments to ${r.name} in $what " +
          "(whole column and nested field together)")
      mine.map(_._2).groupBy(_.map(_.toLowerCase)).foreach { case (p, g) =>
        if (g.size > 1) unsupported(s"duplicate assignment target " +
          s"${(r.name +: p).mkString(".")} in $what")
      }
      if (whole.nonEmpty) r -> whole.head._3
      else r -> mine.foldLeft(r: Expression) { case (acc, (_, path, v)) =>
        val ft = fieldType(r.dataType, path).getOrElse(
          unsupported(s"${(r.name +: path).mkString(".")} is not a struct field path"))
        UpdateFields(acc, path.mkString("."), Cast(v, ft))
      }
    }
  }

  /** Mirror of `GraftV2Table.partitionOnly` in the catalyst domain: true
    * only for predicates the metadata-only delete path will accept. */
  private def partitionOnly(e: Expression, partCols: Set[String]): Boolean = e match {
    case And(l, r) => partitionOnly(l, partCols) && partitionOnly(r, partCols)
    case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
      partitionOnly(l, partCols) && partitionOnly(r, partCols)
    case EqualTo(a: AttributeReference, rhs) if rhs.foldable =>
      partCols.exists(_.equalsIgnoreCase(a.name))
    case EqualTo(lhs, a: AttributeReference) if lhs.foldable =>
      partCols.exists(_.equalsIgnoreCase(a.name))
    case In(a: AttributeReference, vs) if vs.forall(_.foldable) =>
      partCols.exists(_.equalsIgnoreCase(a.name))
    case Literal(true, _) => true // unconditional DELETE = drop every partition
    case _ => false
  }

  /** Split the ON condition into equi-key pairs and a residual: every
    * `target.a = source.b` conjunct over plain columns becomes a
    * (targetName, sourceName) key pair — names need NOT match — and every
    * OTHER conjunct (non-equi comparisons, one-sided filters, expressions)
    * joins the residual, evaluated inside the clause join exactly as the
    * SQL ON condition demands. At least one equi pair is required: it is
    * what the join shuffles on — a keyless MERGE would be a cross join. */
  private def mergeKeys(
      cond: Expression, target: LogicalPlan, source: LogicalPlan)
      : (Seq[(String, String)], Option[Expression]) = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    val (pairs, residual) =
      conjuncts(cond).foldLeft((Seq.empty[(String, String)], Seq.empty[Expression])) {
        case ((ps, rs), EqualTo(a: AttributeReference, b: AttributeReference))
            if (target.outputSet.contains(a) && source.outputSet.contains(b)) ||
               (target.outputSet.contains(b) && source.outputSet.contains(a)) =>
          val (t, s) =
            if (target.outputSet.contains(a)) (a, b) else (b, a)
          (ps :+ (t.name -> s.name), rs)
        case ((ps, rs), other) =>
          rejectSubqueries(other)
          (ps, rs :+ other)
      }
    if (pairs.isEmpty)
      unsupported("MERGE ON condition has no target-column = source-column " +
        "equality — at least one equi key is required to join on")
    (pairs, residual.reduceOption(And))
  }

  /** The analyzer's expansion of the canonical `WHEN MATCHED THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *` upsert: EVERY target column
    * assigned, each from the same-named SOURCE column (possibly cast),
    * both clauses unconditional, nothing else. This shape keeps the
    * one-join [[GraftMergeCommand]] fast path; everything else goes
    * through the conditional clause engine. */
  private def isCanonicalStar(m: MergeIntoTable): Boolean = {
    val targetCols = m.targetTable.output.map(_.name.toLowerCase).toSet
    def starShaped(assigns: Seq[Assignment]): Boolean = {
      val covered = assigns.flatMap(a => rootAttr(a.key).map(_.name.toLowerCase)).toSet
      covered == targetCols && assigns.forall { a =>
        (rootAttr(a.key), rootAttr(a.value)) match {
          case (Some(k), Some(v)) =>
            k.name.equalsIgnoreCase(v.name) && m.sourceTable.outputSet.contains(v)
          case _ => false
        }
      }
    }
    (m.matchedActions match {
      case Seq(UpdateAction(None, assigns, _)) => starShaped(assigns)
      case _                                   => false
    }) && (m.notMatchedActions match {
      case Seq(InsertAction(None, assigns)) => starShaped(assigns)
      case _                                => false
    }) && m.notMatchedBySourceActions.isEmpty
  }

  /** Translate a resolved non-star MERGE into the conditional-clause
    * command. Attribute references in conditions and assignment values are
    * detached SIDE-AWARE (`__t_`/`__s_` prefixes) — both relations carry
    * the same column names, so plain by-name detachment would be ambiguous
    * inside the merge join. */
  private def translateConditional(
      m: MergeIntoTable,
      table: GraftV2Table,
      relationSchema: StructType,
      keyPairs: Seq[(String, String)],
      residual: Option[Expression]): LogicalPlan = {
    val defn = table.tableDefinition
    val partCols = defn.partitionSchema.columns.map(_.name.toLowerCase).toSet
    def side(e: Expression): Detached = {
      rejectSubqueries(e)
      new Detached(e.transform {
        case a: AttributeReference if m.targetTable.outputSet.contains(a) =>
          UnresolvedAttribute(Seq("__t_" + a.name))
        case a: AttributeReference if m.sourceTable.outputSet.contains(a) =>
          UnresolvedAttribute(Seq("__s_" + a.name))
      })
    }
    // UPDATE-like clause assignments may target nested struct fields —
    // they fold into one root-column rebuild per root (same contract as
    // row-level UPDATE); INSERT clauses assign whole columns only (there
    // is no target row whose struct a nested setter could rebuild)
    def assigns(as: Seq[Assignment], clause: String): Seq[(String, Detached)] = {
      val parsed = as.map { a =>
        val (root, path) = nestedPath(a.key).getOrElse(
          unsupported(s"non-column assignment target ${a.key.sql} in $clause"))
        if (path.nonEmpty && clause.contains("NOT MATCHED") && !clause.contains("BY SOURCE"))
          unsupported(s"nested-field INSERT target ${a.key.sql} in $clause " +
            "(INSERT clauses assign whole columns)")
        (root, path, a.value)
      }
      foldNested(parsed, clause).map { case (r, e) => r.name -> side(e) }
    }
    def updateLike(action: MergeAction, clause: String): (Option[Detached], Option[Seq[(String, Detached)]]) =
      action match {
        case UpdateAction(cond, as, _) =>
          as.foreach { a =>
            rootAttr(a.key).foreach { k =>
              // merge-on-read migrates rows natively (hide + re-land)
              if (partCols.contains(k.name.toLowerCase) &&
                !TableProperties.effectiveFlag(
                  spark, table.tableBinding.log, defn, TableProperties.MergeOnRead))
                unsupported(s"UPDATE of partition column ${k.name} in $clause (rows would " +
                  "migrate between partitions; SET spark.graft.dml.mergeOnRead=true to allow)")
            }
          }
          (cond.map(side), Some(assigns(as, clause)))
        case DeleteAction(cond) => (cond.map(side), None)
        case other => unsupported(s"$clause action ${other.getClass.getSimpleName}")
      }
    val matched = m.matchedActions.map(updateLike(_, "WHEN MATCHED"))
    val notMatched = m.notMatchedActions.map {
      case InsertAction(cond, as) => (cond.map(side), assigns(as, "WHEN NOT MATCHED"))
      case other => unsupported(s"WHEN NOT MATCHED action ${other.getClass.getSimpleName}")
    }
    val nmbs = m.notMatchedBySourceActions.map(updateLike(_, "WHEN NOT MATCHED BY SOURCE"))
    GraftConditionalMergeCommand(
      defn, table.tableBinding, m.sourceTable, keyPairs.map(_._1), matched, notMatched, nmbs,
      relationSchema, sourceKeys = keyPairs.map(_._2), residual = residual.map(side))
  }
}

/** Opaque holder: keeps a detached expression OUT of the command node's
  * `expressions` traversal — CheckAnalysis would otherwise reject the
  * deliberately-unresolved by-name attributes before the command runs.
  * (Plain class, not a case class: QueryPlan recurses into Products.) */
private[spark] final class Detached(val expr: Expression) {
  override def toString: String = expr.sql
}

/** Shared copy-on-write machinery for the DML commands. */
private[spark] object GraftDml {

  def column(e: Expression): Column = org.apache.spark.sql.GraftSqlShim.column(e)

  /** Commit a COW rewrite derived from state `readCommit` with the
    * [[graft.core.TableVersions.commitRebase]] discipline: rebase over
    * concurrent disjoint-partition commits, refuse loudly on overlap. */
  def commit(
      defn: TableDefinition,
      binding: GraftTableCatalog.Binding,
      df: DataFrame,
      message: String,
      readCommit: graft.core.TableVersions.CommitId,
      alsoRemove: Seq[graft.core.Partition] = Nil): Unit = {
    import graft.spark.VersionContext.DatasetVersionOps
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    df.versionedInsertIntoRebase(
      ctx, defn, UserId("sql"), UpdateMessage(message), readCommit,
      alsoRemove = alsoRemove)
    ()
  }

}

/** Driver-side execution of the intercepted MERGE: materialize the source,
  * align it to the table's columns, and run the partition-granular
  * copy-on-write upsert. One ordinary commit — time travel shows the
  * pre-merge state. */
final case class GraftMergeCommand(
    defn: TableDefinition,
    binding: GraftTableCatalog.Binding,
    source: LogicalPlan,
    keys: Seq[String],
    relationSchema: StructType) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = GeneratedColumns.withSqlNullFill {
    val src = org.apache.spark.sql.GraftSqlShim.ofRows(session, source)
    // align to the WRITE-side schema: the versioned reader's view of the
    // current contents when the table holds data (partition columns stay
    // strings there), else the relation's column order as declared — in
    // LOGICAL names, the ones the source speaks and Merge.mergeInto
    // rewrites by (a renamed column's files keep the physical name)
    val current = VersionedScan(
      session, binding.log, defn, vectors = VersionedScan.Vectors.Raw,
      names = VersionedScan.Names.AtState)
    // MERGE SCHEMA EVOLUTION (`SET spark.graft.dml.autoMergeSchema=true`,
    // the Delta autoMerge contract): NEW source columns survive the
    // alignment, the DECLARED schema widens (nullable, metadata-only
    // commit — the q62 posture), and the rewrite carries pre-evolution
    // rows with typed NULLs (Merge.mergeInto's kept alignment). NESTED
    // evolution rides the same flag: a source STRUCT column carrying
    // extra fields (a proper widening, [[StructEvolution.isWidening]])
    // keeps its wide shape through the alignment, kept rows conform with
    // typed NULLs inside mergeInto, and the widening lands as a
    // commit-anchored schema state so time travel reads the addressed
    // commit's struct shape ([[SchemaStates]]). Without the flag extra
    // source columns drop and struct sources cast down, as before.
    val autoMerge =
      TableProperties.effectiveFlag(session, binding.log, defn, TableProperties.AutoMergeSchema)
    val extras =
      if (autoMerge && current.columns.nonEmpty)
        src.schema.filterNot(f => current.columns.exists(_.equalsIgnoreCase(f.name))).toSeq
      else Nil
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    // AUTOMATIC TYPE WIDENING (`graft.dml.typeWidening`, the Delta
    // typeWidening contract): a source carrying a losslessly WIDER
    // numeric leaf (int→bigint, float→double, int→double — top-level,
    // struct fields, array/map leaves) widens the TABLE instead of
    // casting the source down. Declared BEFORE the data lands — unlike
    // the adds below, a widen alone is benign (metadata-only; old files
    // upcast), while data-first would open a mixed-width-footers window
    // with no scan override. Without the property a wider source keeps
    // the pre-existing cast-down alignment.
    val numWide: List[(Seq[String], String)] =
      if (current.columns.nonEmpty &&
          TableProperties.effectiveFlag(session, binding.log, defn, TableProperties.TypeWidening))
        ColumnMapping.numericWidenings(current.schema, src.schema)
      else Nil
    numWide.foreach { case (p, t) =>
      ColumnMapping.widenPath(session, ctx, defn, p, t, UserId("sql"))
    }
    val numWideMap = numWide.map { case (p, t) =>
      p.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(".") ->
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t)
    }.toMap
    val currentSchema =
      if (numWide.isEmpty) current.schema
      else ColumnMapping.applyWideningToSchema(current.schema, numWideMap)
    val structWide: Map[String, org.apache.spark.sql.types.DataType] =
      if (autoMerge && current.columns.nonEmpty)
        StructEvolution.widenedColumns(currentSchema, src.schema)
      else Map.empty
    val aligned =
      if (current.columns.nonEmpty)
        src.select(currentSchema.map { f =>
          val target = structWide.getOrElse(
            f.name.toLowerCase(java.util.Locale.ROOT), f.dataType)
          col(f.name).cast(target).as(f.name)
        } ++ extras.map(f => col(f.name)): _*)
      else
        src.select(relationSchema.map(f => col(f.name).as(f.name)): _*)
    // DATA FIRST, adds/struct-widening AFTER: a merge that fails
    // (duplicate source keys, OCC conflict, constraint refusal) must not
    // leave the table permanently widened with no data for the new column
    // — the declared schema and its audit commit land only once the data
    // commit is in (Delta folds both into one transaction; a versioned
    // log is append-only, so after-on-success is the equivalent posture).
    // In the one-commit gap a concurrent reader sees the PRE-evolution
    // schema — the new column appears with the declaration, never a
    // phantom column with no declaration.
    Merge.mergeInto(
      ctx, binding.log, defn, aligned, keys, UserId("sql"), UpdateMessage("MERGE (SQL)"))
    if (extras.nonEmpty || structWide.nonEmpty || numWide.nonEmpty) {
      val key = defn.name.fullyQualifiedName
      val base = binding.tables.get(key).flatMap(_._2).getOrElse(relationSchema)
      val widened = org.apache.spark.sql.types.StructType(
        ColumnMapping.applyWideningToSchema(base, numWideMap)
          .map(f => structWide.get(f.name.toLowerCase(java.util.Locale.ROOT))
            .map(t => f.copy(dataType = t)).getOrElse(f)) ++
          extras.map(f => f.copy(nullable = true)))
      binding.tables.put(key, (defn, Some(widened)))
      val parts = Seq(
        if (extras.nonEmpty)
          Some(s"ADD COLUMNS (${extras.map(_.name).mkString(", ")})") else None,
        if (structWide.nonEmpty)
          Some(s"WIDEN COLUMNS (${structWide.keys.toSeq.sorted.mkString(", ")})") else None,
        if (numWide.nonEmpty)
          Some(s"WIDEN TYPES (${numWide.map(_._1.mkString(".")).sorted.mkString(", ")})")
        else None
      ).flatten.mkString(", ")
      // struct/type widenings record a schema state on this audit commit:
      // time travel to the merge's own data commit (or earlier) keeps
      // reading the narrow shape/width
      GraftV2Table.metastoreFor(binding, defn).commit(defn.name,
        graft.core.TableVersions.TableUpdate(
          UserId("sql"),
          UpdateMessage(s"MERGE SCHEMA EVOLUTION $parts"),
          java.time.Instant.now(), Nil).withTableMetadata(
          if (structWide.nonEmpty || numWide.nonEmpty) SchemaStates.entry(base, widened)
          else Map.empty))
    }
    Seq.empty
  }
}

/** Driver-side execution of a CONDITIONAL MERGE (clauses beyond the
  * canonical star upsert): materialize the source and hand the detached
  * side-aware clause expressions to [[Merge.mergeConditional]] — table-wide
  * matching via narrow discovery, one full-outer clause join, affected
  * partitions only rewritten, one time-travelable commit. */
final case class GraftConditionalMergeCommand(
    defn: TableDefinition,
    binding: GraftTableCatalog.Binding,
    source: LogicalPlan,
    keys: Seq[String],
    matched: Seq[(Option[Detached], Option[Seq[(String, Detached)]])],
    notMatched: Seq[(Option[Detached], Seq[(String, Detached)])],
    notMatchedBySource: Seq[(Option[Detached], Option[Seq[(String, Detached)]])],
    relationSchema: StructType,
    sourceKeys: Seq[String] = Nil,
    residual: Option[Detached] = None) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = GeneratedColumns.withSqlNullFill {
    val src = org.apache.spark.sql.GraftSqlShim.ofRows(session, source)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    def c(d: Detached): Column = GraftDml.column(d.expr)
    def set(s: Seq[(String, Detached)]): Seq[(String, Column)] =
      s.map { case (n, d) => n -> c(d) }
    Merge.mergeConditional(
      ctx, binding.log, defn, src, keys,
      matched = matched.map { case (cond, as) => Merge.WhenMatched(cond.map(c), as.map(set)) },
      notMatched = notMatched.map { case (cond, vs) => Merge.WhenNotMatched(cond.map(c), set(vs)) },
      notMatchedBySource = notMatchedBySource.map { case (cond, as) =>
        Merge.WhenMatched(cond.map(c), as.map(set)) },
      userId = UserId("sql"),
      message = UpdateMessage("MERGE (SQL)"),
      emptySchema = Some(relationSchema),
      sourceKeys = if (sourceKeys.isEmpty) None else Some(sourceKeys),
      residual = residual.map(c))
    Seq.empty
  }
}

/** Copy-on-write `UPDATE`: rewrite the partitions holding matching rows
  * with the assignments applied (matching rows updated, the partition's
  * other rows carried as-is); untouched partitions keep their version. */
final case class GraftUpdateCommand(
    defn: TableDefinition,
    binding: GraftTableCatalog.Binding,
    assignments: Seq[(String, Detached)],
    condition: Option[Detached]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = GeneratedColumns.withSqlNullFill {
    // MERGE-ON-READ mode (`SET spark.graft.dml.mergeOnRead=true`): hide the
    // matched preimages behind deletion vectors and land the postimages as
    // a row overlay — O(matched rows) written, no partition rewritten, and
    // it works on MIXED folds where copy-on-write must refuse.
    if (TableProperties.effectiveFlag(session, binding.log, defn, TableProperties.MergeOnRead)) {
      RowOverlay.update(
        VersionContext(GraftV2Table.metastoreFor(binding, defn)), defn,
        condition.map(d => GraftDml.column(d.expr))
          .getOrElse(org.apache.spark.sql.functions.lit(true)),
        assignments.map { case (n, e) => n -> GraftDml.column(e.expr) },
        UserId("sql"), UpdateMessage("UPDATE (SQL, merge-on-read)"))
      return Seq.empty
    }
    // copy-on-write UPDATE rewrites whole partitions under the CURRENT
    // scheme without removing old-era dirs — on a mixed fold (after a
    // metadata-only evolution) the old copies would stay referenced and
    // the updated rows duplicate; refuse until consolidateEras
    PartitionEvolution.requireUniformFold(binding.log, defn, "UPDATE (SQL)")
    val cond = condition.map(d => GraftDml.column(d.expr))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // the state this rewrite derives from (rebase discipline)
    val readCommit = binding.log.currentCommit(defn.name)
    // DV-aware + column-mapped: rewriting from a raw read would resurrect
    // hidden rows / break against logical column references
    val current = ColumnMapping.read(session, binding.log, defn)
    if (current.columns.isEmpty) return Seq.empty // never written
    val byName = assignments.map { case (n, e) => n.toLowerCase -> GraftDml.column(e.expr) }.toMap
    val names = defn.partitionSchema.columns.map(_.name)
    val partSet = names.map(_.toLowerCase).toSet
    // partition-column assignment = ROW MIGRATION: updated rows leave
    // their partitions for whatever their new values say. Copy-on-write
    // expresses that as ONE commit rewriting source ∪ destination
    // partitions — destinations must be read too (a versioned partition
    // write REPLACES the partition, so its existing rows have to carry),
    // and a source emptied of everything removes in the same commit.
    val migrating = !defn.isSnapshot && byName.keys.exists(partSet.contains)
    // a no-match UPDATE must not commit: the history would gain a junk
    // entry (and a snapshot table a full identical rewrite) for a no-op.
    // The partitioned branches derive this from their own single
    // touched-set pass (the GraftDeleteCommand shape — collecting the
    // #partitions-row set both answers the no-match probe and names the
    // dirs the rewrite reads); snapshots keep the explicit probe.
    if (!migrating && defn.isSnapshot && current.where(cond).isEmpty)
      return Seq.empty
    val (scope, alsoRemove, cached) =
      if (defn.isSnapshot) (current, Nil, None)
      else if (!migrating) {
        val touched = VersionContext.partitionValues(current.where(cond), defn.partitionSchema)
        if (touched.isEmpty) return Seq.empty
        (VersionedScan(
          session, binding.log, defn, partitions = Some(touched.toSet),
          names = VersionedScan.Names.AtState), Nil, None)
      } else {
        import graft.core.{ColumnValue, Partition, PartitionedTableVersion}
        def partitions(values: Iterable[List[String]]): List[Partition] =
          values.toList.map(vs => Partition(
            defn.partitionSchema.columns.zip(vs).map { case (c0, v) => ColumnValue(c0, v) }))
        // ONE DV-aware pass over the matched rows projects BOTH the
        // source and the post-assignment destination partition values
        // (a two-sided distinct — #partition-pairs rows back, metadata-
        // sized). The no-match probe, the source set, and the
        // destination set all derive from this single scan.
        val n = names.size
        val pairs = current.where(cond).select(
          names.map(c0 => col(c0).cast("string").as(s"__src_$c0")) ++
            names.map(c0 => byName.get(c0.toLowerCase).map(_.cast("string"))
              .getOrElse(col(c0).cast("string")).as(s"__dst_$c0")): _*)
          .distinct().collect()
        if (pairs.isEmpty) return Seq.empty
        pairs.foreach(r => require(
          names.indices.forall(i => !r.isNullAt(n + i) && r.getString(n + i).nonEmpty),
          s"UPDATE sets partition column(s) ${names.mkString(", ")} to NULL/empty — " +
            "rows need a concrete partition to land in"))
        val srcVals = pairs.map(r => names.indices.map(r.getString).toList).toSet
        val dstSet = pairs.map(r => names.indices.map(i => r.getString(n + i)).toList).toSet
        // persisted ONCE: the carried-partition probe below and the final
        // rewrite both read this scoped scan — without the persist each
        // would be its own DV-aware pass over the wanted partitions
        val scoped = VersionedScan(
          session, binding.log, defn, partitions = Some(partitions(srcVals ++ dstSet).toSet),
          names = VersionedScan.Names.AtState)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // a source partition with no carried row and no arriving row is
        // EMPTIED — its RemovePartition rides the same atomic commit
        val carried = scoped.where(!org.apache.spark.sql.functions.coalesce(
            cond, org.apache.spark.sql.functions.lit(false)))
          .select(names.map(col(_).cast("string")): _*).distinct().collect()
          .map(r => names.indices.map(r.getString).toList).toSet
        val before = binding.log.currentVersion(defn.name) match {
          case PartitionedTableVersion(pvs) => pvs.keySet
          case _                            => Set.empty[Partition]
        }
        val emptied = partitions(
          srcVals.filter(vs => !dstSet.contains(vs) && !carried.contains(vs)))
          .filter(before.contains)
        (scoped, emptied, Some(scoped))
      }
    val updated = scope.select(scope.columns.map { c =>
      byName.get(c.toLowerCase) match {
        case Some(v) if partSet.contains(c.toLowerCase) =>
          when(cond, v.cast("string")).otherwise(col(c)).as(c)
        case Some(v) => when(cond, v).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }: _*)
    try GraftDml.commit(
      defn, binding, updated, "UPDATE (SQL)", readCommit, alsoRemove = alsoRemove)
    finally cached.foreach { d => d.unpersist(); () }
    Seq.empty
  }
}

/** Copy-on-write row-level `DELETE`: rewrite the partitions holding
  * matching rows WITHOUT those rows; untouched partitions keep their
  * version. (Partition-value-only deletes never reach here — they stay on
  * the metadata-only RemovePartition path.) A partition whose EVERY row
  * matched produces no surviving rows — its `RemovePartition` op rides
  * the same atomic rebase-checked commit (`alsoRemove`), so there is no
  * window where the emptied partition still serves its rows and no racer
  * can resurrect it unnoticed. The rewrite reads only the touched
  * partitions' dirs ([[VersionedScan]] over `partitions`); a table-wide scan
  * runs once, for the touched set. */
final case class GraftDeleteCommand(
    defn: TableDefinition,
    binding: GraftTableCatalog.Binding,
    condition: Detached) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = GeneratedColumns.withSqlNullFill {
    import graft.core.PartitionedTableVersion
    val cond = GraftDml.column(condition.expr)
    // MERGE-ON-READ mode (`SET spark.graft.dml.mergeOnRead=true`): hide the
    // matched rows behind a deletion-vector sidecar + empty-ops commit
    // instead of rewriting partitions — O(matched rows) written, no data
    // files moved, the 100 TB shape for scattered row deletes (a predicate
    // touching every partition costs a full-table rewrite copy-on-write).
    // DVs resolve per file, so this also works on a MIXED fold where the
    // copy-on-write path must refuse. Partition-value-only predicates
    // reach here only on mixed folds — on a uniform fold they stay on the
    // metadata-only RemovePartition path (strictly better than both; on a
    // mixed fold that path would match only current-scheme dirs and leave
    // old-era rows alive). UPDATE stays copy-on-write: a DV expresses
    // hidden rows, not changed values.
    if (TableProperties.effectiveFlag(session, binding.log, defn, TableProperties.MergeOnRead)) {
      DeletionVectors.delete(
        VersionContext(GraftV2Table.metastoreFor(binding, defn)), binding.log,
        defn, cond, UserId("sql"), UpdateMessage("DELETE (SQL, merge-on-read)"))
      return Seq.empty
    }
    // the state this rewrite derives from (rebase discipline)
    val readCommit = binding.log.currentCommit(defn.name)
    // DV-aware + column-mapped (see GraftUpdateCommand)
    val current = ColumnMapping.read(session, binding.log, defn)
    if (current.columns.isEmpty) return Seq.empty
    if (defn.isSnapshot) {
      // survivors = rows where the predicate is NOT TRUE (false OR null):
      // SQL DELETE removes only WHERE-true rows
      GraftDml.commit(
        defn, binding,
        current.where(!org.apache.spark.sql.functions.coalesce(
          cond, org.apache.spark.sql.functions.lit(false))),
        "DELETE (SQL)", readCommit)
      return Seq.empty
    }
    // partition-granular rewrite: removes are computed against the
    // CURRENT scheme's dirs only — a mixed fold's old-era copies would
    // survive and resurrect the deleted rows; refuse until consolidateEras
    PartitionEvolution.requireUniformFold(binding.log, defn, "DELETE (SQL)")
    val touched = VersionContext.partitionValues(current.where(cond), defn.partitionSchema)
    if (touched.isEmpty) return Seq.empty // nothing matched — no commit
    val scope = VersionedScan(
      session, binding.log, defn, partitions = Some(touched.toSet),
      names = VersionedScan.Names.AtState)
    val before = binding.log.currentVersion(defn.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"row-level delete does not apply to $other")
    }
    // fully-emptied partitions produce no staged dir; their RemovePartition
    // ops ride the SAME rebase-checked commit (alsoRemove) — one atomic
    // commit, no transient window serving the deleted rows, and the
    // emptied partitions sit in the conflict scope
    GraftDml.commit(
      defn, binding,
      scope.where(!org.apache.spark.sql.functions.coalesce(
        cond, org.apache.spark.sql.functions.lit(false))),
      "DELETE (SQL)", readCommit, alsoRemove = touched.filter(before.contains))
    Seq.empty
  }
}
