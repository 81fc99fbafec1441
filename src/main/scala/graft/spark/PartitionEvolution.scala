package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * PARTITION-SCHEME EVOLUTION (the Iceberg `ALTER TABLE … WRITE ORDERED/
 * PARTITIONED BY` capability, re-expressed on the version-dir model): a
 * partitioned table changes its partition columns at a COMMIT BOUNDARY,
 * and every commit range reads under the scheme that was in force when
 * it was written — fold-scoped eras, the [[ColumnMapping]] at-or-before
 * discipline applied to the layout itself.
 *
 * Unlike Iceberg (file-scoped manifests, where mixed-scheme data files
 * coexist), this engine's state is a map of `k=v` partition DIRS — two
 * schemes cannot share one folded state (their dir layouts disagree). So
 * the boundary is a REWRITE: [[evolve]] reads the current state (DV-
 * applied, column-mapped) and lands it re-partitioned under the new
 * scheme as ONE atomic commit that both adds every new-scheme partition
 * and removes every old-scheme partition — post-boundary folds hold only
 * new-scheme dirs, pre-boundary folds only old-scheme dirs, and time
 * travel to either era materializes a consistent layout. The old era's
 * version dirs stay on disk for time travel until vacuum ages them out.
 * One shuffle keyed by the new partition columns — the same cost shape
 * as OPTIMIZE; the commit rides [[graft.core.TableVersions.commitRebase]]
 * anchored at the read state, so a concurrent writer conflicts loudly
 * instead of landing old-scheme dirs into the new era.
 *
 * The boundary commit IS the era flip: it carries the `{before, after}`
 * partition columns ([[MetadataFiles.partitioning]], on the commit line),
 * and the scheme at a commit is the `after` of the newest boundary
 * at-or-before it in the table's own lineage — before the first boundary,
 * that boundary's `before` (the log's metadata fold). A table that never
 * evolved reads its definition's scheme; a log checkpoint keeps the
 * newest boundary's columns on its base commit.
 *
 * Safety rails:
 *  - every versioned write checks the scheme ([[requireCurrentScheme]])
 *    TWICE: at stage time (shared pre-write pipeline, fail before paying
 *    the write job) and again INSIDE its commit's head-CAS critical
 *    section. The boundary commits whole-table-scoped, so a writer that
 *    staged old-scheme dirs before the boundary cannot commit them after
 *    it (the CAS fails, the re-run guard sees the landed era and refuses
 *    loudly). Branch (WAP) writes validate at
 *    stage time; publishing a PRE-boundary staged commit after an
 *    evolution is a pointer rewind to a consistent old-era fold (the
 *    at-or-before fold excludes the later boundary), and the rare
 *    stage-guard-passed/boundary-landed/detach-appended interleaving
 *    yields a mixed fold the era-union reader serves correctly (rewrites
 *    refuse until consolidation) — never silent era corruption;
 *  - incremental readers ([[VersionedReader.readChanges]],
 *    [[ChangeFeed]]) refuse ranges that CROSS a boundary — the two eras'
 *    reconstructed logical schemas differ by their partition columns, so
 *    no row-level diff can speak one schema; consumers re-anchor at the
 *    boundary or rebuild (`REFRESH … FULL`), the MV/streaming re-anchor
 *    posture.
 */
object PartitionEvolution {

  /** Re-entrancy escape for [[requireCurrentScheme]]: the evolve rewrite
    * itself writes under the NEW scheme before its boundary commits. */
  private val evolving = new scala.util.DynamicVariable[Boolean](false)

  /** The partition scheme in force at `at` (default: the current pointer)
    * — the boundary fold's when the table ever evolved, else the
    * definition's declared scheme. */
  def schemeAt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): PartitionSchema =
    MetadataFiles.governing(MetadataFiles.partitioning.fold(spark, log, table, at))
      .map(cols => PartitionSchema(cols.map(PartitionColumn(_)))).getOrElse(table.partitionSchema)

  /** The table definition with its ERA-CORRECT partition scheme — what a
    * writer must hold after an evolution (the stale-definition guard
    * names this). */
  def definitionAt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId] = None): TableDefinition =
    table.copy(partitionSchema = schemeAt(spark, log, table, at))

  /** Write-path guard (rides the shared pre-write pipeline): a write must
    * carry the scheme its COMMIT will fold under — landing old-scheme
    * dirs into a post-evolution state would fork the layout silently.
    *
    * Resolution is at the log HEAD, not the current pointer: after a
    * RESTORE to a pre-boundary commit, the fold's resurrect-on-next-
    * commit quirk brings the boundary commit back the moment anything new
    * lands — so the state a post-RESTORE write produces includes the
    * evolution, and the write must carry the NEW scheme (a RESTORE
    * rewinds reads, it does not un-evolve future writes — the same
    * fold-quirk consistency rule the identity hwm and COPY INTO history
    * follow). One read of the log state; no-op during [[evolve]]'s own
    * rewrite. */
  private[spark] def requireCurrentScheme(
      spark: SparkSession, log: TableVersions, table: TableDefinition): Unit = {
    if (evolving.value || table.isSnapshot) return
    MetadataFiles.governing(MetadataFiles.partitioning.foldAtHead(spark, log, table))
      .foreach { columns =>
        val held = table.partitionSchema.columns.map(_.name.toLowerCase)
        if (held != columns.map(_.toLowerCase))
          throw new IllegalStateException(
            s"table ${table.name.fullyQualifiedName} is partitioned by " +
              s"(${columns.mkString(", ")}), but this " +
              s"write carries the stale scheme (${table.partitionSchema.columns
                .map(_.name).mkString(", ")}) — re-resolve the definition " +
              "(PartitionEvolution.definitionAt) before writing")
      }
  }

  /** True when the partition scheme differs between `from` and `to` — the
    * condition under which incremental readers must refuse the range
    * (see the class doc). */
  private[spark] def crossesBoundary(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      from: Option[CommitId],
      to: CommitId): Boolean = {
    def columnsAt(at: CommitId) = MetadataFiles.governing(
      MetadataFiles.partitioning.fold(spark, log, table, Some(at))).map(_.map(_.toLowerCase))
    val b = columnsAt(to)
    b.isDefined && from.exists(f => columnsAt(f) != b)
  }

  /** Change the table's partition columns at a commit boundary. Returns
    * the definition carrying the NEW scheme — the handle every subsequent
    * write must use. `filesPerPartition` salts the rewrite shuffle like
    * [[Compaction.compact]]. */
  def evolve(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      newSchema: PartitionSchema,
      user: UserId,
      filesPerPartition: Int = 1): TableDefinition = {
    require(!table.isSnapshot && newSchema.columns.nonEmpty,
      "partition evolution is partitioned→partitioned: the fold shape " +
        "(snapshot vs partitioned) is fixed at init")
    val log = ctx.metastore.tableVersions
    val current = schemeAt(spark, log, table, None)
    require(
      current.columns.map(_.name.toLowerCase) != newSchema.columns.map(_.name.toLowerCase),
      s"table ${table.name.fullyQualifiedName} is already partitioned by " +
        s"(${current.columns.map(_.name).mkString(", ")})")

    // OCC anchor + era-correct read (DV-applied, column-mapped): the
    // boundary rewrite derives from exactly this state
    val readCommit = log.currentCommit(table.name)
    val curDefn = table.copy(partitionSchema = current)
    val rows = VersionedScan(
      spark, log, curDefn, Some(readCommit), names = VersionedScan.Names.AtHead)
    if (rows.columns.nonEmpty)
      newSchema.columns.foreach(c =>
        require(rows.columns.exists(_.equalsIgnoreCase(c.name)),
          s"new partition column ${c.name} is not a column of " +
            s"${table.name.fullyQualifiedName} (${rows.columns.mkString(", ")})"))
    val before: Map[Partition, Version] = log.versionAt(table.name, readCommit) match {
      case PartitionedTableVersion(pvs) => pvs
      case _                            => Map.empty
    }

    val newDefn = table.copy(partitionSchema = newSchema)
    val message = UpdateMessage(
      s"EVOLVE PARTITIONING to (${newSchema.columns.map(_.name).mkString(", ")}) " +
        s"from (${current.columns.map(_.name).mkString(", ")})")

    if (rows.columns.isEmpty || rows.isEmpty) {
      // empty table: the boundary is metadata-only — drop any lingering
      // old-scheme pointers in one commit (usually none: an empty-ops
      // boundary)
      val removes = before.keys.toList.map(TableOperation.RemovePartition(_))
      commitBoundary(ctx, table, current, newSchema,
        TableVersions.TableUpdate(user, message, java.time.Instant.now(), removes), readCommit,
        () => DeletionVectors.absorbedEntry(spark, log, table))
    } else {
      // one shuffle keyed by the new partition columns (salted when one
      // new partition exceeds a single writer's comfort)
      val parts = newSchema.columns.map(c => col(c.name))
      val keys =
        if (filesPerPartition == 1) parts
        else parts :+ org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.spark_partition_id(),
          org.apache.spark.sql.functions.lit(filesPerPartition))
      val packed = rows.repartition(keys: _*)
      // adds + removes in ONE atomic commit: no fold ever mixes eras
      val rewrite = evolving.withValue(true) {
        packed.versionedStage(ctx, newDefn, user, message, before.keys.toList)
      }
      commitBoundary(ctx, table, current, newSchema, rewrite.update, readCommit,
        () => rewrite.schemaEntry(log) ++ DeletionVectors.absorbedEntry(spark, log, table))
    }
    newDefn
  }

  /** METADATA-ONLY partition evolution: flip the scheme at a commit
    * boundary WITHOUT rewriting the table — the 100 TB answer to the
    * rewrite [[evolve]]'s O(table) boundary cost. The boundary is one
    * empty-ops commit carrying the new scheme (whole-table conflict
    * scope, like the rewrite's boundary), post-boundary writes land new-scheme
    * dirs, and the fold holds BOTH eras' dirs side by side until
    * [[consolidateEras]] (or the next whole-table rewrite) unifies them.
    * Reads union the per-era scans transparently
    * ([[VersionedReader]]'s era groups — every era carries the full
    * logical column set, its own partition columns from dir names).
    *
    * What a MIXED fold refuses until consolidation (loudly, with this
    * escape hatch named): partition-granular rewrites (OPTIMIZE /
    * Z-ORDER / auto-compaction / MERGE — both the star upsert and the
    * conditional-clause form — and copy-on-write SQL UPDATE / DELETE)
    * and zone-map-pruned scans — their partition arithmetic assumes one
    * layout, and a rewrite that re-lands old-era rows into new-scheme
    * dirs without removing the old-era dirs would silently duplicate
    * (UPDATE) or resurrect (DELETE) rows. Row-level DV deletes,
    * inserts, incremental reads within an era, and time travel all work.
    *
    * Returns the definition carrying the new scheme — the handle every
    * subsequent write must use. */
  def evolveMetadataOnly(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      newSchema: PartitionSchema,
      user: UserId): TableDefinition = {
    require(!table.isSnapshot && newSchema.columns.nonEmpty,
      "partition evolution is partitioned→partitioned: the fold shape " +
        "(snapshot vs partitioned) is fixed at init")
    val log = ctx.metastore.tableVersions
    val current = schemeAt(spark, log, table, None)
    require(
      current.columns.map(_.name.toLowerCase) != newSchema.columns.map(_.name.toLowerCase),
      s"table ${table.name.fullyQualifiedName} is already partitioned by " +
        s"(${current.columns.map(_.name).mkString(", ")})")
    val readCommit = log.currentCommit(table.name)
    // schema probe is metadata-only (footer resolution, no data pass)
    val curDefn = table.copy(partitionSchema = current)
    val cols = VersionedScan(
      spark, log, curDefn, Some(readCommit), names = VersionedScan.Names.AtHead).columns
    if (cols.nonEmpty)
      newSchema.columns.foreach(c =>
        require(cols.exists(_.equalsIgnoreCase(c.name)),
          s"new partition column ${c.name} is not a column of " +
            s"${table.name.fullyQualifiedName} (${cols.mkString(", ")})"))
    val update = TableVersions.TableUpdate(
      user,
      UpdateMessage(
        s"EVOLVE PARTITIONING (METADATA ONLY) to " +
          s"(${newSchema.columns.map(_.name).mkString(", ")}) " +
          s"from (${current.columns.map(_.name).mkString(", ")})"),
      java.time.Instant.now(), Nil)
    commitBoundary(ctx, table, current, newSchema, update, readCommit)
    table.copy(partitionSchema = newSchema)
  }

  /** The partition-column signatures present in a fold — 2+ = a MIXED
    * fold, produced by [[evolveMetadataOnly]] until consolidation. */
  def eraSignatures(tv: TableVersion): Set[List[String]] = tv match {
    case PartitionedTableVersion(pvs) =>
      pvs.keys.map(_.columnValues.map(_.column.name)).toSet
    case _ => Set.empty
  }

  /** Loud refusal for operations whose partition arithmetic assumes one
    * layout (compaction, Z-order, MERGE, zone-map pruning) on a mixed
    * fold. Metadata-only probe of the current fold. */
  private[spark] def requireUniformFold(
      log: TableVersions, table: TableDefinition, op: String): Unit = {
    val sigs = eraSignatures(log.currentVersion(table.name))
    if (sigs.size > 1)
      throw new IllegalStateException(
        s"$op on ${table.name.fullyQualifiedName}: the fold holds mixed " +
          s"partition-scheme eras (${sigs.map(_.mkString("(", ",", ")")).mkString(" + ")}) " +
          "after a metadata-only evolution — run " +
          "PartitionEvolution.consolidateEras (SQL: ALTER TABLE ... " +
          "CONSOLIDATE PARTITION ERAS; one whole-table rewrite) first")
  }

  /** Physically unify a MIXED fold under the table's CURRENT scheme —
    * the deferred rewrite of [[evolveMetadataOnly]], identical in cost
    * shape to OPTIMIZE: one shuffle keyed by the current partition
    * columns, adds + removes in one whole-table-scoped rebase commit,
    * deletion vectors absorbed. No-op on a uniform fold. */
  def consolidateEras(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      filesPerPartition: Int = 1): Unit = {
    val log = ctx.metastore.tableVersions
    val readCommit = log.currentCommit(table.name)
    if (eraSignatures(log.versionAt(table.name, readCommit)).size <= 1) return
    requireCurrentScheme(spark, log, table) // the caller must hold the new-era handle
    val rows = VersionedScan(
      spark, log, table, Some(readCommit), names = VersionedScan.Names.AtHead)
    val before: Map[Partition, Version] = log.versionAt(table.name, readCommit) match {
      case PartitionedTableVersion(pvs) => pvs
      case _                            => Map.empty
    }
    val parts = table.partitionSchema.columns.map(c => col(c.name))
    val keys =
      if (filesPerPartition == 1) parts
      else parts :+ org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.spark_partition_id(),
        org.apache.spark.sql.functions.lit(filesPerPartition))
    val message = UpdateMessage(
      s"CONSOLIDATE PARTITION ERAS under " +
        s"(${table.partitionSchema.columns.map(_.name).mkString(", ")})")
    val rewrite = rows.repartition(keys: _*)
      .versionedStage(ctx, table, user, message, before.keys.toList)
    ctx.metastore.commitRebase(
      table.name, rewrite.update, readCommit, wholeTableScope = true,
      metadata = () => rewrite.schemaEntry(log) ++ DeletionVectors.absorbedEntry(spark, log, table))
    ()
  }

  /** Commit `update` as the era flip: it carries the `{before, after}`
    * partition columns, so the write guard (which re-validates inside its
    * commit CAS) observes the new era exactly when the commit lands. The
    * commit is WHOLE-TABLE scoped: a restructuring must conflict with
    * every intervening commit, including disjoint new partitions a
    * rewrite could not have seen (or, metadata-only, rows that would
    * era-mix). */
  private def commitBoundary(
      ctx: VersionContext,
      table: TableDefinition,
      current: PartitionSchema,
      newSchema: PartitionSchema,
      update: TableVersions.TableUpdate,
      readCommit: CommitId,
      metadata: () => Map[String, String] = () => Map.empty): Unit = {
    val change = MetadataFiles.Change(
      current.columns.map(_.name), newSchema.columns.map(_.name))
    ctx.metastore.commitRebase(
      table.name, update.withTableMetadata(MetadataFiles.partitioning.entry(change)),
      readCommit, wholeTableScope = true, metadata = metadata)
    ()
  }
}
