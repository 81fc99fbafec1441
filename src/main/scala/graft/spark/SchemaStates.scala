package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core._
import graft.core.TableVersions.CommitId

/**
 * DECLARED-SCHEMA HISTORY for nested evolution — schema states carried by
 * the commit line ([[MetadataFiles.schemaStates]]) and resolved by the
 * log's metadata fold like [[ColumnMapping.entriesAt]], so TIME TRAVEL
 * reads the struct shape of the addressed commit (the Delta
 * snapshot-schema contract):
 *
 *  - a nested `ADD COLUMN s.x` (or a MERGE autoMerge struct widening, a
 *    type widening, a reorder) records `{before, after}` — the declared
 *    schema the statement changed from and to — on the last audit commit
 *    the statement makes;
 *  - a commit resolves to the `after` of the newest carrier at-or-before
 *    it, and a commit older than every carrier to the OLDEST carrier's
 *    `before` (the pre-evolution shape);
 *  - a time-traveled load overlays the resolved state onto the CURRENT
 *    declared schema per top-level column: a column whose state-recorded
 *    type differs takes the state's type (the addressed commit's struct
 *    shape), while columns the state never recorded follow the current
 *    declaration — which keeps the engine's long-standing TOP-LEVEL
 *    contract (time travel projects top-level adds as typed NULLs,
 *    pinned since q62) intact. Only struct SHAPES travel.
 *
 * Each table's log is its own lineage (a shallow clone's state commit
 * carries the cloned shape), and a log checkpoint keeps the newest state
 * on its base commit. Tables that never evolve a nested field pay one
 * read of the log state on time-traveled loads.
 */
object SchemaStates {

  /** The commit-line entry recording a change of the declared schema. */
  def entry(before: StructType, after: StructType): Map[String, String] =
    MetadataFiles.schemaStates.entry(MetadataFiles.Change(before.json, after.json))

  /** The schema state in force at `at`; None when no commit carries one. */
  def at(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: CommitId): Option[StructType] =
    MetadataFiles.governing(MetadataFiles.schemaStates.fold(spark, log, table, Some(at)))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

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
