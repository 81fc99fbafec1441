package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.core.Metastore.TableChanges
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * ROW TRACKING — engine-stamped stable row identities, the Delta
 * `row tracking` capability re-expressed on the identity infrastructure:
 * the KEYLESS answer to change-feed update classification
 * ([[ChangeFeed.readTracked]]). A tracked table stamps every row with a
 * unique, never-reused id in `_graft_row_id` (per-task disjoint ranges,
 * commit-carried high-water mark — [[IdentityColumns]] verbatim), and a
 * read-modify-write rewrite CARRIES the ids of surviving rows
 * ([[insert]] / [[IdentityColumns.insertPreserving]]), so the feed can
 * pair a rewritten row's old and new images with no declared key:
 * unchanged rows net out of the feed entirely, changed rows emerge as
 * `update_preimage`/`update_postimage`.
 *
 * Visibility: the id is a REAL column in the files (that is what makes
 * it stable across partition rewrites and time travel), surfaced by the
 * Scala read APIs — the read-modify-write contract needs it — but
 * HIDDEN from the SQL catalog's schema ([[GraftTableCatalog]]), so
 * `SELECT *` never shows it and INSERT never has to mention it (the SQL
 * write path stamps it like any GENERATED ALWAYS identity).
 *
 * Enabling requires an EMPTY table (no data commits): files written
 * before tracking would lack the column, making scan schema resolution
 * depend on footer sampling order. Rows inserted outside the stamping
 * paths (a raw `versionedInsertInto`) carry NULL ids — the feed treats
 * them as unpairable (plain insert/delete), a graceful, documented
 * degradation rather than a wrong pairing.
 *
 * One identity slot per table: a user-declared identity column
 * ([[IdentityColumns.declare]]) already provides exactly these
 * semantics, so [[ChangeFeed.readTracked]] accepts it as the tracking
 * id; `enable` refuses if one exists (use it directly).
 */
object RowTracking {

  /** The engine's hidden row-identity column. */
  val RowIdCol = "_graft_row_id"

  /** Declare tracking on an EMPTY table: one metadata commit. */
  def enable(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId): Unit = {
    val log = ctx.metastore.tableVersions
    val empty = log.currentVersion(table.name) match {
      case SnapshotTableVersion(v)      => v == Version.Unversioned
      case PartitionedTableVersion(pvs) => pvs.isEmpty
    }
    require(empty,
      s"row tracking on ${table.name.fullyQualifiedName} must be enabled " +
        "before the first data commit (existing files would lack the id column)")
    IdentityColumns.declared(spark, log, table).foreach(c => sys.error(
      s"table ${table.name.fullyQualifiedName} already has identity column $c — " +
        "it already provides stable row ids; use it directly"))
    IdentityColumns.declare(spark, ctx, table, RowIdCol, user)
  }

  /** The column serving as this table's tracking id, if any: the engine's
    * own `_graft_row_id`, or a user-declared identity column (same
    * semantics: engine-stamped, unique, carried on rewrite). */
  def trackingColumn(
      spark: SparkSession, log: TableVersions, table: TableDefinition): Option[String] =
    IdentityColumns.declared(spark, log, table)

  def enabled(spark: SparkSession, log: TableVersions, table: TableDefinition): Boolean =
    trackingColumn(spark, log, table).isDefined

  /** True only for an EXPLICIT `SET ROW TRACKING` opt-in (the engine's
    * own hidden id column) — the gate for surfaces whose output contract
    * changes under tracking (the 2-arg `table_changes` TVF): a
    * user-declared identity column provides usable ids to callers who ask
    * for them, but must not silently re-shape a pre-existing table's
    * feed. */
  def engineTracked(spark: SparkSession, log: TableVersions, table: TableDefinition): Boolean =
    trackingColumn(spark, log, table).contains(RowIdCol)

  /** Write a batch to a tracked table. Rows carrying a non-null id KEEP
    * it (the read-modify-write rewrite: read with ids, modify values,
    * write back — carried ids must come from this table's own reads);
    * rows without one mint fresh ids above the high-water mark. Ordinary
    * versioned-write semantics otherwise (the partitions present in the
    * batch are refreshed). */
  def insert(
      df: DataFrame,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      message: UpdateMessage): (TableVersion, TableChanges) = {
    val spark = df.sparkSession
    val c = trackingColumn(spark, ctx.metastore.tableVersions, table).getOrElse(sys.error(
      s"table ${table.name.fullyQualifiedName} has no row tracking — " +
        "RowTracking.enable first"))
    IdentityColumns.insertPreserving(df, ctx, table, c, user, message)
  }
}
