package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/**
 * TRANSPARENT merge-on-read for SQL scans: rewrites every read of a graft
 * catalog table that carries live deletion vectors ([[DeletionVectors]])
 * into the DV-applying plan — the same `(file, pos)` anti-join the Scala
 * API ([[DeletionVectors.read]]) performs — so plain `SELECT` (current or
 * time-traveled), `INSERT … SELECT`, CTAS, and MERGE sources all serve the
 * logical (post-delete) rows with no caller opt-in. Before this rule the
 * catalog REFUSED such scans outright (the delegate file table cannot
 * apply vectors, and serving it raw would silently resurrect deleted rows
 * into every SELECT); now the refusal posture survives only for
 * `_metadata` projections, which cannot be faithfully served through the
 * anti-join (the scan's own metadata columns are consumed by it).
 *
 * Mechanics: the replacement subtree is built with the DataFrame API
 * (already analyzed) and re-aliased column-by-column onto the original
 * relation's attribute ids, so parent operators keep resolving untouched.
 * A declared column present in NO data file yet (post-`ALTER TABLE ADD
 * COLUMN`, pre-backfill) projects as a typed NULL — the q37/q62 evolution
 * contract. Zero cost when no vectors apply: the sidecar probe is a fold
 * of the cached log, with no file-system call.
 *
 * DML statements are deliberately NOT rewritten at the top level: graft
 * UPDATE/DELETE/MERGE targets are routed by [[GraftDmlRule]] (injected
 * AFTER this rule) onto copy-on-write commands that already read DV-aware
 * ([[VersionedScan]]) — rewriting the target relation
 * here would hide it from that routing. MERGE *sources* and any subquery
 * inside a DML statement are reads, and are rewritten.
 */
final case class GraftDvScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DML: leave the target for GraftDmlRule; rewrite read positions only
    case m: MergeIntoTable =>
      rewriteSubqueryReads(m.copy(sourceTable = rewriteReads(m.sourceTable)))
    case u: UpdateTable     => rewriteSubqueryReads(u)
    case d: DeleteFromTable => rewriteSubqueryReads(d)
    case other              => rewriteReads(other)
  }

  /** Rewrites graft relations in the node's OWN subquery expressions
    * (condition / assignment subqueries), leaving its child plans — the
    * DML target among them — untouched. */
  private def rewriteSubqueryReads(plan: LogicalPlan): LogicalPlan =
    plan.transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(rewriteReads(s.plan))
    }

  private def rewriteReads(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] =>
        val t = r.table.asInstanceOf[GraftV2Table]
        // rewrite when deletion vectors apply, merge-on-read overlay rows
        // contribute, a column mapping is in force, or the state holds
        // mixed partition-scheme eras — all logical-view indirections the
        // raw delegate file scan cannot serve (the mixed delegate carries
        // only one era's files; the delegate never lists overlay dirs)
        if (t.isMixedFold ||
          DeletionVectors.hasVectors(
            spark, t.tableBinding.log, t.tableDefinition, t.tableAsOf) ||
          RowOverlay.hasOverlay(
            spark, t.tableBinding.log, t.tableDefinition, t.tableAsOf) ||
          ColumnMapping.hasMapping(
            spark, t.tableBinding.log, t.tableDefinition, t.tableAsOf) ||
          // a time-traveled read ADDRESSING a pre-mapping commit still
          // needs the rewrite when the CURRENT state has a mapping: the
          // relation declares current logical names, and only the lineage
          // projection below can serve them over the old physical files
          (t.tableAsOf.isDefined && ColumnMapping.hasMapping(
            spark, t.tableBinding.log, t.tableDefinition, None)))
          dvPlan(r, t)
        else r
    }

  /** The DV-applying replacement for one relation, output-aliased onto the
    * relation's own attribute ids. */
  private def dvPlan(r: DataSourceV2Relation, t: GraftV2Table): LogicalPlan = {
    // defensive: GraftV2Table exposes no metadata columns today, but if it
    // ever gains SupportsMetadataColumns, serving `_metadata` through the
    // anti-join would be wrong (the join consumes the scan's own metadata
    // columns) — refuse rather than fabricate
    if (r.output.exists(_.name.equalsIgnoreCase("_metadata")))
      throw new UnsupportedOperationException(
        s"_metadata over table ${t.name()} while it has unabsorbed deletion " +
          "vectors: the DV anti-join consumes the scan's metadata columns. " +
          "Run OPTIMIZE to absorb the vectors first")
    // merge-on-read deletes applied, then the mapping of the addressed
    // commit (identity when absent) — the full logical view, one
    // [[VersionedScan]]
    val df0 = ColumnMapping.read(
      spark, t.tableBinding.log, t.tableDefinition, t.tableAsOf)
    // ADDITIVE-EVOLUTION soundness: a one-era state with a [[DataSchema]]
    // record reads under it, and a declared column the record lacks comes
    // from a metadata-only ADD COLUMN / ADD FIELD that no file holds — it
    // projects as NULL below. A state with no record, or a mixed fold
    // (each era typed apart), infers from footers (no mergeSchema — one
    // footer per era), where a NARROW footer can win while WIDE files hold
    // real values for an evolved column. When the relation declares a
    // column that inference missed (or a wider struct shape than it
    // found), rebuild the read with SCHEMA MERGING — the distributed footer
    // union — so every file's columns survive.
    def inferenceShort(d: org.apache.spark.sql.DataFrame): Boolean =
      d.columns.nonEmpty && r.output.exists { out =>
        d.schema.fields.find(_.name.equalsIgnoreCase(out.name)) match {
          case None => true
          case Some(f) => f.dataType != out.dataType &&
            StructEvolution.isProperWidening(f.dataType, out.dataType)
        }
      }
    val df =
      if ((t.isMixedFold ||
          DataSchema.at(spark, t.tableBinding.log, t.tableDefinition, t.tableAsOf).isEmpty) &&
          inferenceShort(df0))
        ColumnMapping.read(
          spark, t.tableBinding.log, t.tableDefinition, t.tableAsOf,
          mergeSchema = true)
      else df0
    // nested-evolved structs: lift file-shaped (narrow) struct columns to
    // the relation's declared wide shape by REBUILD — a struct Cast would
    // refuse on the field-count mismatch ([[StructEvolution.conform]]);
    // built through the DataFrame API so it lands analyzed (this rule runs
    // post-hoc)
    val conformed = r.output.foldLeft(df) { (acc, out) =>
      acc.schema.fields.find(_.name.equalsIgnoreCase(out.name)) match {
        case Some(f) if f.dataType != out.dataType &&
            StructEvolution.isWidening(f.dataType, out.dataType) =>
          acc.withColumn(
            f.name, StructEvolution.conform(acc(f.name), f.dataType, out.dataType))
        case _ => acc
      }
    }
    val child = conformed.queryExecution.analyzed
    val byName = child.output
      .map(a => a.name.toLowerCase(java.util.Locale.ROOT) -> a).toMap
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // a RENAME recorded after the addressed commit leaves the relation's
    // (current) name missing from the time-traveled read — but the SAME
    // frozen physical column carried the ADDRESSED state's name, so the
    // values exist; resolve through the rename lineage rather than
    // NULL-blanking real data (only computed when a name actually misses)
    lazy val renamedAt: Map[String, String] = ColumnMapping.renamedSince(
      spark, t.tableBinding.log, t.tableDefinition, t.tableAsOf)
    val projList: Seq[NamedExpression] = r.output.map { out =>
      def aliased(in: Attribute): NamedExpression = {
        val e =
          if (in.dataType == out.dataType) in
          else Cast(in, out.dataType, tz)
        Alias(e, out.name)(
          exprId = out.exprId, qualifier = out.qualifier,
          explicitMetadata = Some(out.metadata))
      }
      byName.get(out.name.toLowerCase(java.util.Locale.ROOT))
        .orElse(renamedAt.get(out.name.toLowerCase(java.util.Locale.ROOT))
          .flatMap(n => byName.get(n.toLowerCase(java.util.Locale.ROOT)))) match {
        case Some(in) => aliased(in)
        case None => // declared column no file holds yet: evolution NULL
          Alias(Literal.create(null, out.dataType), out.name)(
            exprId = out.exprId, qualifier = out.qualifier,
            explicitMetadata = Some(out.metadata))
      }
    }
    Project(projList, child)
  }
}
