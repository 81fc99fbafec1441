package graft.core

import java.time.Instant

import Metastore.TableChanges
import TableVersions._

/**
 * High-level table-version tracking API aggregating the commit log
 * (`TableVersions`) and the catalog (`Metastore`).
 *
 * Mirrors the reference `core/src/main/scala/com/gu/tableversions/core/VersionedMetastore.scala:14-67`.
 * The commit → metastore-sync sequence is non-atomic two-phase, as in the
 * reference; with commit-log-resolved reads (graft.spark.VersionedReader)
 * the window is invisible because the log append IS the commit.
 */
final case class VersionedMetastore(tableVersions: TableVersions, metastore: Metastore) {

  /** Start tracking version information for the given table. Idempotent;
    * see [[TableVersions.init]]. */
  def init(
      table: TableName,
      isSnapshot: Boolean,
      userId: UserId,
      message: UpdateMessage,
      timestamp: Instant,
      tableMetadata: Map[String, String] = Map.empty): Boolean =
    tableVersions.init(table, isSnapshot, userId, message, timestamp, tableMetadata)

  def currentVersion(table: TableName): TableVersion =
    tableVersions.currentVersion(table)

  /** History of updates, most recent first. */
  def updates(table: TableName): List[TableUpdateMetadata] =
    tableVersions.updates(table)

  /**
   * Commit an update to the log, then sync the metastore to the resulting
   * state (reference `VersionedMetastore.scala:41-54`).
   *
   * @return the updated table version plus the changes applied to the metastore.
   */
  def commit(table: TableName, update: TableUpdate): (TableVersion, TableChanges) = {
    tableVersions.commit(table, update)
    syncCatalog(table)
  }

  /** ATOMIC MULTI-TABLE COMMIT ([[TableVersions.commitAll]]): all tables'
    * pointers move in one atomic step of the shared log, then each table's
    * catalog syncs. The catalog sync is the same non-atomic mirror phase as
    * single-table [[commit]] — the log is truth, commit-log-resolved
    * readers flip together at the log's commit point. */
  def commitAll(commits: Seq[(TableName, TableUpdate)]): Seq[(TableVersion, TableChanges)] = {
    tableVersions.commitAll(commits)
    commits.map { case (t, _) => syncCatalog(t) }
  }

  /** Optimistic-concurrency commit ([[TableVersions.commitIf]]): applies —
    * and syncs the catalog — only if `expected` still names the current
    * commit. `None` = conflict; neither the log nor the catalog changed. */
  def commitIf(
      table: TableName,
      update: TableUpdate,
      expected: CommitId): Option[(TableVersion, TableChanges)] =
    if (tableVersions.commitIf(table, update, expected)) Some(syncCatalog(table))
    else None

  /** Read-modify-write OCC commit ([[TableVersions.commitRebase]]): rebase
    * over disjoint-partition intervening commits, throw
    * [[TableVersions.ConcurrentWriteException]] on overlap, then sync the
    * catalog to the committed state. */
  def commitRebase(
      table: TableName,
      update: TableUpdate,
      readCommit: CommitId,
      wholeTableScope: Boolean = false,
      revalidate: () => Unit = () => (),
      scopeOverride: Option[TableVersions.ConflictScope] = None,
      metadata: () => Map[String, String] = () => Map.empty): (TableVersion, TableChanges) = {
    tableVersions.commitRebase(
      table, update, readCommit,
      wholeTableScope = wholeTableScope, revalidate = revalidate,
      scopeOverride = scopeOverride, metadata = metadata)
    syncCatalog(table)
  }

  /** Select an existing PUBLISHED commit as current and sync the metastore
   * to match (rollback / checkout — reference `VersionedMetastore.scala:59-66`).
   * Errors on a staged (detached) commit — use [[publish]]. */
  def checkout(table: TableName, id: CommitId): Unit = {
    tableVersions.setCurrentVersion(table, id)
    syncCatalog(table)
    ()
  }

  /** PUBLISH staged branch work ([[TableVersions.publish]]): atomically
    * attach the staged commits at-or-before `id`, swap the pointer to `id`,
    * and sync the external metastore to the published state — the
    * write-audit-publish endgame. */
  def publish(table: TableName, id: CommitId): Unit = {
    tableVersions.publish(table, id)
    syncCatalog(table)
    ()
  }

  /** Bring the catalog in line with whatever the log now says is current:
   * read both sides, diff, apply. Returns the log-side target state and the
   * ops that were applied. */
  private def syncCatalog(table: TableName): (TableVersion, TableChanges) = {
    val target  = tableVersions.currentVersion(table)
    val actual  = metastore.currentVersion(table)
    val changes = metastore.computeChanges(actual, target)
    metastore.update(table, changes)
    (target, changes)
  }
}
