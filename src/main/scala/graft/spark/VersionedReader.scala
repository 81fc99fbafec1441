package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.core.TableVersions.CommitId

/**
 * Versioned reads: the RAW state of a table (physical names, overlay rows
 * included, deletion vectors not applied) resolved from the commit log
 * and scanned through [[VersionedScan]] (SURVEY.md §7.2 step 5).
 *
 * Mirrors the reference's read model — any Spark query over the resolved
 * table "just works" (`examples/src/main/scala/com/gu/tableversions/examples/TableLoader.scala:37-38`),
 * with the Hive-catalog location indirection
 * (`spark/.../SparkHiveMetastore.scala:21-43`) replaced by an explicit path
 * list from the log. Partition pruning still applies: each version dir's
 * partition values come from the fold, so partition-column filters prune
 * input files before the scan.
 *
 * Q26 time travel: `readAsOf` resolves the log at an arbitrary commit —
 * no state is mutated, so concurrent readers at different commits are fine.
 */
final case class VersionedReader(spark: SparkSession, log: TableVersions) {

  /** Read the table at its current version. */
  def read(table: TableDefinition): DataFrame = raw(table)

  /** Read the table as of a specific commit (time travel). */
  def readAsOf(table: TableDefinition, commit: CommitId): DataFrame =
    raw(table, at = Some(commit))

  /** Read the table as of a wall-clock instant — resolves to the LAST
    * commit at or before `asOf` (the Scala-API twin of SQL `TIMESTAMP AS
    * OF`, same resolution rule as the DSv2 catalog). Errors when the
    * instant predates the table's first commit. */
  def readAsOfTimestamp(table: TableDefinition, asOf: java.time.Instant): DataFrame =
    readAsOf(table, commitAtOrBefore(table, asOf))

  /** The LAST commit at or before `asOf` — the shared resolution rule of
    * `TIMESTAMP AS OF` time travel and timestamp-ranged `table_changes`.
    * Errors when the instant predates the table's first commit. */
  def commitAtOrBefore(table: TableDefinition, asOf: java.time.Instant): CommitId =
    log.updates(table.name) // most recent first
      .find(!_.timestamp.isAfter(asOf))
      .getOrElse(throw new IllegalArgumentException(
        s"table ${table.name.fullyQualifiedName} has no commit at or before $asOf"))
      .id

  /** Read ONLY `partitions` at the table's current version — the pruned
    * input of partition-scoped operations ([[Merge.mergeInto]] reads just
    * the partitions it is about to rewrite, never the whole table).
    * Partitions the table doesn't hold yet contribute nothing; if none of
    * the requested partitions exist, the result is a zero-row frame that
    * keeps the table's schema. */
  def readPartitions(table: TableDefinition, partitions: Seq[Partition]): DataFrame =
    if (table.isSnapshot)
      sys.error(s"readPartitions requires a partitioned table: ${table.name.fullyQualifiedName}")
    else raw(table, partitions = Some(partitions.toSet))

  /** Read the current version with schema merging across version dirs —
    * the read side of ADDITIVE schema evolution: a column introduced by a
    * later write surfaces as NULL for partitions still on a version written
    * before the column existed. Merging unions the parquet/ORC footers of
    * each selected dir (metadata-only; no extra data pass). */
  def readMergedSchema(table: TableDefinition): DataFrame = raw(table, mergeSchema = true)

  /** Incremental (CDC-style) read: the NEW contents of every partition
    * whose version changed between `from` (exclusive) and `to` (inclusive)
    * — what a downstream incremental job consumes instead of re-scanning
    * the table. The diff is computed on the version MAPS (metadata only,
    * O(#partitions), no data read), then only the changed partitions'
    * `to`-version dirs are scanned — at 100 TB an incremental run reads
    * exactly the partitions that moved. Snapshot tables: the whole `to`
    * snapshot if its version moved, else nothing.
    *
    * DELETION VECTORS: a DV delete moves no pointer, so it is invisible to
    * this diff — and its newly-hidden rows cannot be expressed in a
    * new-contents-only result. When the range hides rows behind vectors,
    * this REFUSES loudly instead of silently diverging every downstream
    * consumer; [[ChangeFeed.read]] is the surface that can say "deleted".
    * Zero cost when the table has no sidecars (a fold of the cached log). */
  def readChanges(table: TableDefinition, from: CommitId, to: CommitId): DataFrame = {
    val vFrom = log.versionAt(table.name, from)
    val vTo = log.versionAt(table.name, to)
    if (PartitionEvolution.crossesBoundary(spark, log, table, Some(from), to))
      throw new IllegalStateException(
        s"readChanges(${from.id} -> ${to.id}) on ${table.name.fullyQualifiedName}: " +
          "the range crosses a partition-evolution boundary (the eras' logical " +
          "schemas differ) — re-anchor at-or-after the boundary commit")
    requireNoHiddenRows(table, from, to)
    val changed: TableVersion = (vFrom, vTo) match {
      case (SnapshotTableVersion(a), SnapshotTableVersion(b)) =>
        SnapshotTableVersion(if (a == b) Version.Unversioned else b)
      case (PartitionedTableVersion(pa), PartitionedTableVersion(pb)) =>
        PartitionedTableVersion(pb.filter { case (p, v) => !pa.get(p).contains(v) })
      case _ =>
        sys.error(
          s"table ${table.name.fullyQualifiedName} changed partitioning shape between commits")
    }
    // merge-on-read appends ([[RowOverlay]]) land inside the range with no
    // version-pointer movement — they are NEW CONTENTS this diff must carry.
    // Dirs anchored at-or-before `from` already belonged to the from state;
    // liveness at `to` drops rows whose partition was since replaced (those
    // rows ride the replacement dir's scan instead — no double count).
    val fromAnchors = log.updates(table.name).dropWhile(_.id != from).map(_.id).toSet
    // an overlay SQUASH anchored inside the range re-homes PRE-range rows
    // under an in-range anchor — anchor-based attribution resolves against
    // the PRE-squash dirs instead (still on disk for time travel; refuses
    // only when vacuum reclaimed them). No pair guard needed here: this
    // read already refused any in-range DV movement (requireNoHiddenRows),
    // and pre-range movement never touches in-range dirs' rows.
    val (contribs, _) =
      RowOverlay.contributionsAcrossSquash(spark, log, table, to, fromAnchors)
    raw(
      table, at = Some(to), dirs = Some(changed),
      overlays = Some(contribs.filterNot(c => fromAnchors.contains(c.anchor))))
  }

  /** Refuses when deletion vectors hid rows between `from` and `to` —
    * the condition under which a partition-granular diff is semantically
    * incomplete. Absorption (tombstones, absorbing rewrites) only REMOVES
    * pairs and re-exposes nothing, so the except direction is the whole
    * check. */
  private def requireNoHiddenRows(
      table: TableDefinition, from: CommitId, to: CommitId): Unit = {
    val pairsTo = DeletionVectors.resolvePairs(spark, log, table, Some(to))
      .getOrElse(return)
    val pairsFrom = DeletionVectors.resolvePairs(spark, log, table, Some(from))
    val newHidden = pairsFrom.fold(pairsTo)(f => pairsTo.exceptAll(f))
    if (!newHidden.isEmpty)
      throw new IllegalStateException(
        s"readChanges(${from.id} -> ${to.id}) on ${table.name.fullyQualifiedName}: " +
          "deletion vectors hid rows inside this commit range, which a " +
          "new-contents-only diff cannot express; read the row-level feed via " +
          "ChangeFeed.read / table_changes (emits _change_type='delete' rows) instead")
  }

  /** The raw state scan every read above shares. */
  private def raw(
      table: TableDefinition,
      at: Option[CommitId] = None,
      partitions: Option[Set[Partition]] = None,
      dirs: Option[TableVersion] = None,
      overlays: Option[List[RowOverlay.Contribution]] = None,
      mergeSchema: Boolean = false): DataFrame =
    VersionedScan(
      spark, log, table, at, partitions, dirs, overlays,
      vectors = VersionedScan.Vectors.Raw, mergeSchema = mergeSchema)
}
