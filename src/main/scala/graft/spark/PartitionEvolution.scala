package graft.spark

import com.fasterxml.jackson.annotation.{JsonInclude, JsonProperty}

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
 * The ERA REGISTRY ([[MetadataFiles.partitioning]]) records `(anchor commit,
 * partition columns)` states: the scheme at a commit is the newest state
 * at-or-before it in the table's OWN lineage (shared-location clones are
 * isolated by their uuid anchors, like every other sidecar). A table
 * that never evolved has no registry and reads its definition's scheme.
 *
 * Safety rails:
 *  - every versioned write checks the registry ([[requireCurrentScheme]])
 *    TWICE: at stage time (shared pre-write pipeline, fail before paying
 *    the write job) and again INSIDE its commit's head-CAS critical
 *    section — the boundary writes its new era as a pre-commit INTENT
 *    (pending registry state) and commits whole-table-scoped, so a
 *    writer that staged old-scheme dirs before the boundary cannot
 *    commit them after it (the CAS fails, the re-run guard sees the
 *    landed era and refuses loudly). Branch (WAP) writes validate at
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

  /** The scheme in force FROM `commit` (its anchor) onward. `owner`
    * names the lineage that anchored it (shared-location forks write one
    * file; the retention fallback must not adopt a foreign state). */
  final case class SchemeState(
      commit: String, columns: List[String],
      @JsonProperty("table") owner: Option[String] = None,
      @JsonInclude(JsonInclude.Include.NON_DEFAULT) pending: Boolean = false)

  /** Re-entrancy escape for [[requireCurrentScheme]]: the evolve rewrite
    * itself writes under the NEW scheme before the registry records it. */
  private val evolving = new scala.util.DynamicVariable[Boolean](false)

  /** All recorded scheme states, oldest first (empty = never evolved). */
  def states(spark: SparkSession, table: TableDefinition): List[SchemeState] =
    MetadataFiles.partitioning.read(spark, table)

  /** REGISTRY MUTATION DISCIPLINE: the file is shared by concurrent
    * evolves and (for shared-location clones) by other lineages, so every
    * rewrite is an IDEMPOTENT set-like transform (append-if-absent / mark
    * / remove-own) of the fresh list inside the store's locked update —
    * never a replacement with a locally-held snapshot. Transforms commute
    * on disjoint entries (each writer only appends or marks its OWN
    * commit id), so the store's verify-retry converges against a writer
    * that bypasses the lock. */
  private def mutateRegistry(
      spark: SparkSession, table: TableDefinition)(
      transform: List[SchemeState] => List[SchemeState]): Unit = {
    MetadataFiles.partitioning.update(spark, table)(transform)
    ()
  }

  /** The newest scheme state anchored at-or-before `at` in this table's
    * lineage; None = never evolved (or `at` predates the first record).
    *
    * RETENTION FALLBACK (the [[ColumnMapping.stateAt]] rule): when a log
    * checkpoint folded every anchor out of `at`'s lineage, the newest
    * state whose anchor predates the whole retained history still
    * governs — without it a checkpoint would silently flip resolution
    * back to the definition's scheme. */
  def stateAt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Option[SchemeState] = {
    val raw = states(spark, table)
    if (raw.isEmpty) return None
    val retained = log.updates(table.name) // newest first
    val ids = retained.map(_.id.id).toSet
    // PENDING states are an evolve's pre-commit INTENT (written before
    // the boundary commit so the commit-time write guard observes the
    // era flip atomically with the commit). Anchor landed in the log =>
    // the boundary committed and the evolve crashed before finalizing —
    // adopt the state and persist the finalization here (idempotent,
    // rare). Anchor NOT in the log => the evolve is in flight or crashed
    // before its commit — the state must not govern and must never
    // hijack the pre-horizon fallback.
    if (raw.exists(s => s.pending && ids(s.commit)))
      mutateRegistry(spark, table)(cur =>
        cur.map(s => if (s.pending && ids(s.commit)) s.copy(pending = false) else s))
    val all = raw
      .map(s => if (s.pending && ids(s.commit)) s.copy(pending = false) else s)
      .filterNot(_.pending)
    if (all.isEmpty) return None
    val byAnchor = all.map(s => s.commit -> s).toMap
    val pointer = at.getOrElse(log.currentCommit(table.name))
    retained
      .dropWhile(_.id != pointer)
      .iterator
      .map(m => byAnchor.get(m.id.id))
      .collectFirst { case Some(s) => s }
      .orElse {
        // only MY lineage's pre-horizon states are eligible: a shared-file
        // fork's states carry its own owner name
        all.filter(_.owner.forall(_ == table.name.fullyQualifiedName))
          .filterNot(s => ids(s.commit)).lastOption // states are oldest-first
      }
  }

  /** The partition scheme in force at `at` — registry state when one
    * applies, else the definition's declared scheme. */
  def schemeAt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): PartitionSchema =
    stateAt(spark, log, table, at)
      .map(s => PartitionSchema(s.columns.map(PartitionColumn(_))))
      .getOrElse(table.partitionSchema)

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
    * follow). One metadata probe; no-op for never-evolved tables and
    * during [[evolve]]'s own rewrite. */
  private[spark] def requireCurrentScheme(
      spark: SparkSession, log: TableVersions, table: TableDefinition): Unit = {
    if (evolving.value || table.isSnapshot) return
    val head = log.updates(table.name).headOption.map(_.id)
    stateAt(spark, log, table, head).foreach { s =>
      val held = table.partitionSchema.columns.map(_.name.toLowerCase)
      val current = s.columns.map(_.toLowerCase)
      if (held != current)
        throw new IllegalStateException(
          s"table ${table.name.fullyQualifiedName} is partitioned by " +
            s"(${s.columns.mkString(", ")}) since commit ${s.commit}, but this " +
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
    if (states(spark, table).isEmpty) return false
    val a = from.map(f => schemeAt(spark, log, table, Some(f)))
      .getOrElse(PartitionSchema(Nil))
    val b = schemeAt(spark, log, table, Some(to))
    from.isDefined && a.columns.map(_.name.toLowerCase) != b.columns.map(_.name.toLowerCase)
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
    val rows = ColumnMapping.applyLogical(
      DeletionVectors.read(spark, log, curDefn, Some(readCommit)),
      spark, log, curDefn, None)
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
    val me = Some(table.name.fullyQualifiedName)
    def committedBoundary(update: TableVersions.TableUpdate): CommitId =
      commitBoundaryWithIntent(
        spark, ctx, table, current.columns.map(_.name),
        newSchema.columns.map(_.name), update, readCommit)

    // the boundary anchor: committed (or, for an empty no-op boundary,
    // the read commit the registry re-anchors at)
    val _: CommitId =
      if (rows.columns.isEmpty || rows.isEmpty) {
        // empty table: the boundary is metadata-only — drop any lingering
        // old-scheme pointers in one commit (usually none)
        val removes = before.keys.toList.map(TableOperation.RemovePartition(_))
        if (removes.isEmpty) {
          // nothing to commit: the registry write IS the boundary,
          // anchored at the already-landed read commit — one atomic
          // write, no crash window to stage through
          // idempotence compares against the GOVERNING entry at the
          // anchor — the LAST one, since resolution is last-wins per
          // anchor. Matching ANY historical entry would break scheme
          // CYCLES on an empty table (A→B→A anchors every boundary at
          // the same commit: the seed entry already says A, but B still
          // governs until a new A entry is appended).
          mutateRegistry(spark, table) { fr =>
            val base = seededStatesFor(fr, log, table, current.columns.map(_.name))
            val governs = base
              .filter(s => !s.pending && s.commit == readCommit.id)
              .lastOption
              .exists(_.columns.map(_.toLowerCase) ==
                newSchema.columns.map(_.name.toLowerCase))
            if (governs) base // idempotent retry: the anchor already resolves here
            else base :+ SchemeState(readCommit.id, newSchema.columns.map(_.name), me)
          }
          readCommit
        } else
          committedBoundary(TableVersions.TableUpdate(
            user, message, java.time.Instant.now(), removes))
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
        val staged = evolving.withValue(true) {
          packed.versionedStage(ctx, newDefn, user, message)
        }
        val present = staged.update.operations.collect {
          case TableOperation.AddPartitionVersion(p, _) => p
        }.toSet
        // adds + removes in ONE atomic commit: no fold ever mixes eras
        val removes = before.keys.toList.filterNot(present)
          .map(TableOperation.RemovePartition(_))
        val update = staged.update.copy(
          operations = staged.update.operations ++ removes)
        committedBoundary(update)
      }

    // the boundary rewrite physically absorbed any deletion vectors
    // (every surviving row was re-written); mark so reads stop resolving
    // the stale pair sidecars
    DeletionVectors.markAbsorbed(spark, log, table)
    newDefn
  }

  /** METADATA-ONLY partition evolution: flip the scheme at a commit
    * boundary WITHOUT rewriting the table — the 100 TB answer to the
    * rewrite [[evolve]]'s O(table) boundary cost. The boundary is one
    * empty-ops commit (whole-table conflict scope, the same intent-then-
    * commit registry discipline), post-boundary writes land new-scheme
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
    val cols = ColumnMapping.applyLogical(
      DeletionVectors.read(spark, log, curDefn, Some(readCommit)),
      spark, log, curDefn, None).columns
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
    commitBoundaryWithIntent(
      spark, ctx, table, current.columns.map(_.name),
      newSchema.columns.map(_.name), update, readCommit)
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
    val rows = ColumnMapping.applyLogical(
      DeletionVectors.read(spark, log, table, Some(readCommit)),
      spark, log, table, None)
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
    val staged =
      rows.repartition(keys: _*).versionedStage(ctx, table, user, message)
    val present = staged.update.operations.collect {
      case TableOperation.AddPartitionVersion(p, _) => p
    }.toSet
    val removes = before.keys.toList.filterNot(present)
      .map(TableOperation.RemovePartition(_))
    val update = staged.update.copy(
      operations = staged.update.operations ++ removes)
    ctx.metastore.commitRebase(
      table.name, update, readCommit, wholeTableScope = true)
    DeletionVectors.markAbsorbed(spark, log, table)
    ()
  }

  /** Era-registry base for a boundary write, computed over the FRESH list
    * a [[mutateRegistry]] transform receives: seed the pre-boundary era
    * at the table's first commit on the first evolution (so pre-boundary
    * resolution is explicit) and finalize any landed pending left by a
    * crashed evolve. Pendings whose anchor is not in MY log are KEPT, not
    * pruned: a concurrent evolve's just-appended intent and a
    * shared-location clone's states (which land in the CLONE's log) are
    * indistinguishable from a crashed dangling here, and danglings never
    * govern anyway — dropping one could permanently erase a racer's
    * committed-but-unfinalized state. */
  private def seededStatesFor(
      fresh: List[SchemeState],
      log: TableVersions,
      table: TableDefinition,
      currentCols: List[String]): List[SchemeState] = {
    val me = Some(table.name.fullyQualifiedName)
    val ids = log.updates(table.name).map(_.id.id).toSet
    val adopted = fresh
      .map(st => if (st.pending && ids(st.commit)) st.copy(pending = false) else st)
    if (adopted.exists(!_.pending)) adopted
    else {
      val first = log.updates(table.name).last.id
      SchemeState(first.id, currentCols, me) :: adopted
    }
  }

  /** INTENT-then-commit: the new era lands in the registry as a PENDING
    * state BEFORE the boundary commit, so the write-path guard (which
    * re-validates inside its commit CAS) observes the flip atomically
    * with the commit — a writer that staged old-scheme dirs before the
    * boundary can never commit them after it. A crash between intent and
    * commit leaves a dangling pending state that never governs; a crash
    * between commit and finalize leaves a landed pending state that
    * [[stateAt]] adopts and finalizes lazily. The commit itself is
    * WHOLE-TABLE scoped: a restructuring must conflict with every
    * intervening commit, including disjoint new partitions a rewrite
    * could not have seen (or, metadata-only, rows that would era-mix). */
  private def commitBoundaryWithIntent(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      currentCols: List[String],
      newCols: List[String],
      update: TableVersions.TableUpdate,
      readCommit: CommitId): CommitId = {
    val log = ctx.metastore.tableVersions
    val me = Some(table.name.fullyQualifiedName)
    val mine = update.metadata.id.id
    mutateRegistry(spark, table)(fr =>
      if (fr.exists(_.commit == mine)) fr
      else seededStatesFor(fr, log, table, currentCols) :+
        SchemeState(mine, newCols, me, pending = true))
    try {
      ctx.metastore.commitRebase(
        table.name, update, readCommit, wholeTableScope = true)
      ()
    } catch {
      case t: Throwable =>
        // surgical rollback: drop only OUR intent — merged against a
        // fresh read, so a concurrent evolve's entries are never touched
        try mutateRegistry(spark, table)(_.filterNot(_.commit == mine))
        catch { case _: Throwable => () } // dangling pending never governs
        throw t
    }
    // finalize: mark ours landed (merged — racing registry writers may
    // have moved the file), re-appending if a racer's stale prune era
    // ever dropped it
    mutateRegistry(spark, table)(fr =>
      if (fr.exists(_.commit == mine))
        fr.map(st => if (st.commit == mine) st.copy(pending = false) else st)
      else fr :+ SchemeState(mine, newCols, me))
    update.metadata.id
  }

  /** SHALLOW-CLONE carry: re-anchor the source's effective scheme at the
    * clone's state commit, so the clone reads/writes its era correctly
    * and evolves independently through its own lineage. */
  private[spark] def cloneStateTo(
      spark: SparkSession,
      src: TableDefinition,
      state: SchemeState,
      anchor: CommitId,
      owner: TableName): Unit =
    mutateRegistry(spark, src)(fr =>
      if (fr.exists(s =>
          s.commit == anchor.id && s.owner.contains(owner.fullyQualifiedName))) fr
      else fr :+ SchemeState(anchor.id, state.columns, Some(owner.fullyQualifiedName)))
}
