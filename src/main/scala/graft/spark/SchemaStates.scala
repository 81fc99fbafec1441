package graft.spark

import com.fasterxml.jackson.annotation.JsonProperty

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core._
import graft.core.TableVersions.CommitId

/**
 * DECLARED-SCHEMA HISTORY for nested evolution — commit-anchored schema
 * states, resolved at-or-before like [[ColumnMapping.stateAt]] and the
 * deletion-vector sidecars, so TIME TRAVEL reads the struct shape of the
 * addressed commit (the Delta snapshot-schema contract):
 *
 *  - a nested `ADD COLUMN s.x` (or a MERGE autoMerge struct widening)
 *    records the PRE-change schema anchored at the pre-change commit
 *    (once, the baseline) and the widened schema anchored at its audit
 *    commit;
 *  - a time-traveled load overlays the resolved state onto the CURRENT
 *    declared schema per top-level column: a column whose state-recorded
 *    type differs takes the state's type (the addressed commit's struct
 *    shape), while columns the state never recorded follow the current
 *    declaration — which keeps the engine's long-standing TOP-LEVEL
 *    contract (time travel projects top-level adds as typed NULLs,
 *    pinned since q62) intact. Only struct SHAPES travel.
 *
 * States live beside the table ([[MetadataFiles.schemaStates]], the
 * [[GeneratedColumns]] keying — shared-location clones own separate
 * files). Tables that never evolve a
 * nested field have no file and pay only a driver-side existence probe
 * on time-traveled loads.
 */
object SchemaStates {

  final case class State(commit: String, @JsonProperty("schema") schemaJson: String)

  /** All recorded states, oldest first (empty = no nested evolution). */
  def list(spark: SparkSession, table: TableDefinition): List[State] =
    MetadataFiles.schemaStates.read(spark, table)

  /** Record one nested-evolution step: seed the baseline (pre-change
    * schema anchored at the pre-change commit) if this is the table's
    * first recorded evolution, then append the widened schema anchored at
    * the evolution's audit commit. */
  def record(
      spark: SparkSession,
      table: TableDefinition,
      preSchema: StructType,
      preAnchor: CommitId,
      newSchema: StructType,
      anchor: CommitId): Unit = {
    MetadataFiles.schemaStates.update(spark, table) { existing =>
      val seeded =
        if (existing.isEmpty) List(State(preAnchor.id, preSchema.json))
        else existing
      seeded :+ State(anchor.id, newSchema.json)
    }
    ()
  }

  /** SHALLOW-CLONE carry: seed the clone's OWN keyed state file with the
    * source's resolved shape, anchored at the clone's state commit — the
    * clone's lineage starts there, so its time travel reads the cloned
    * struct shapes while later evolutions on either side stay isolated
    * (the [[ColumnMapping.cloneStateTo]] discipline). */
  private[spark] def cloneStateTo(
      spark: SparkSession,
      clone: TableDefinition,
      shape: StructType,
      anchor: CommitId): Unit = {
    MetadataFiles.schemaStates.update(spark, clone)(_ :+ State(anchor.id, shape.json))
    ()
  }

  /** The schema state in force at `at`: the newest state whose anchor is
    * at-or-before `at` in the table's lineage; when states exist but none
    * anchors in the addressed lineage (travel before the baseline, or a
    * checkpoint folded the anchors away), the OLDEST state — the
    * pre-evolution shape — governs. None when the table has no states. */
  def at(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: CommitId): Option[StructType] = {
    val all = list(spark, table)
    if (all.isEmpty) return None
    val byAnchor = all.map(s => s.commit -> s).toMap
    val resolved = log.updates(table.name) // newest first
      .dropWhile(_.id != at)
      .iterator
      .map(m => byAnchor.get(m.id.id))
      .collectFirst { case Some(s) => s }
      .getOrElse(all.head)
    Some(DataType.fromJson(resolved.schemaJson).asInstanceOf[StructType])
  }

  /** Overlay the resolved state onto the current declaration, per
    * top-level column: the state's type wins where recorded and different
    * (struct shapes travel); unrecorded columns — and column SET changes,
    * which stay governed by the top-level contract and column mapping —
    * follow the current declaration.
    *
    * Column ORDER travels too (the reorder contract): when every
    * state-recorded name still resolves in the declaration, fields follow
    * the STATE's order with later top-level adds appended — identical to
    * the declared order unless a reorder happened between the state and
    * now. A rename/drop after the state breaks the name resolution, and
    * the declared order governs (the conservative pre-reorder behavior). */
  def overlay(declared: StructType, state: StructType): StructType = {
    val typed = declared.fields.map { f =>
      state.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(sf) if sf.dataType != f.dataType => f.copy(dataType = sf.dataType)
        case _ => f
      }
    }
    val byLower = typed.map(f => f.name.toLowerCase -> f).toMap
    if (!state.fields.forall(sf => byLower.contains(sf.name.toLowerCase)))
      StructType(typed)
    else {
      val recorded = state.fields.map(_.name.toLowerCase).toSet
      StructType(state.fields.map(sf => byLower(sf.name.toLowerCase)) ++
        typed.filterNot(f => recorded.contains(f.name.toLowerCase)))
    }
  }

  /** The schema a TIME-TRAVELED load should declare: state overlay when
    * any state applies, else the current declaration unchanged. */
  def schemaFor(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      declared: Option[StructType],
      asOf: CommitId): Option[StructType] =
    declared match {
      case Some(d) => Some(at(spark, log, table, asOf).map(overlay(d, _)).getOrElse(d))
      case None    => at(spark, log, table, asOf)
    }
}
