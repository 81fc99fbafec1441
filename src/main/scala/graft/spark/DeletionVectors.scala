package graft.spark

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, lit, max}

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation, TableUpdate, TableUpdateMetadata, UpdateMessage, UserId}

/**
 * MERGE-ON-READ deletes (deletion vectors) — the scattered-row DELETE that
 * copy-on-write can't afford: a predicate touching a few rows in EVERY
 * partition of a 100 TB table would rewrite the whole table under the
 * copy-on-write DML path ([[GraftDeleteCommand]]); here it writes a
 * metadata-sized sidecar and ZERO data files. The Delta deletion-vector /
 * Iceberg positional-delete pattern, expressed on this engine's
 * per-commit-sidecar layout:
 *
 *  - a DV DELETE scans the current state WITH parquet's `_metadata`
 *    columns, collects the matching rows' `(file, pos)` pairs as a
 *    DataFrame (never driver-side — deletes can be row-scale), and writes a
 *    sidecar to `<table>/_deletes/commit-<id>` holding the full pair set
 *    for ONLY the files this delete touched (previous pairs for those
 *    files folded in). Untouched files' pairs stay in their older
 *    sidecars — write cost per DELETE is O(deletes in the touched files),
 *    NOT O(all rows ever deleted), which is what makes N scattered deletes
 *    O(N·k) total instead of O(N²·k);
 *  - the commit itself carries NO operations: no version pointer moves, no
 *    data file is written — it just advances the pointer so the delete is
 *    an ordinary time-travelable history entry;
 *  - the commit that publishes a sidecar NAMES it on its commit line (the
 *    `deletes` entry of [[MetadataFiles]]); the dir is written before that
 *    commit and never touched after it, so a crash leaves only an
 *    unnamed orphan for [[Vacuum]];
 *  - a merge-on-read scan resolves the vectors PER FILE, LATEST WINS: of
 *    every at-or-before sidecar the log names (walking back until a
 *    commit that absorbed every older vector, or a complete sidecar), the
 *    newest sidecar mentioning a file owns that file's pair set. The walk
 *    folds the cached commit lines; it makes no file-system call. One
 *    union + one windowed latest-wins filter + one `(file, pos)` anti-join
 *    against the scan's own `_metadata` columns.
 *    Version dirs are immutable, so row positions are stable by
 *    construction. A row with `pos = -1` is a per-file TOMBSTONE: "this
 *    file's vectors are absorbed as of this commit" — how partition-scoped
 *    rewrites shed dead vectors ([[stageTombstones]]).
 *
 * Interplay with the rest of the engine:
 *  - TIME TRAVEL: a read as-of a pre-delete commit resolves only the
 *    sidecars at-or-before that commit and shows the pre-delete rows.
 *    Tombstones written by later rewrites are equally invisible to it.
 *  - OPTIMIZE / copy-on-write DML: a rewrite commits new version dirs with
 *    new file paths; DV pairs referencing the replaced files become
 *    dead no-ops (the anti-join misses). A FULL rewrite carries the
 *    `absorbed` entry on its own commit, which stops the resolution walk;
 *    a PARTIAL rewrite tombstones just the files it replaced, in a sidecar
 *    its own commit names ([[stageTombstones]]). NOTE: rewrite planners
 *    must read through [[read]] (not the raw [[VersionedReader]]) or they
 *    would resurrect DV-hidden rows into the rewritten files.
 *  - VACUUM: keeps every sidecar a retained state's walk names; a dir no
 *    commit names (the commit never landed) is reclaimable.
 *  - Sidecar-dir count grows with delete commits until a full rewrite;
 *    [[squashSidecars]] folds every live group into one COMPLETE sidecar
 *    so reads open O(1) dirs again — the DV analogue of log checkpointing.
 */
object DeletionVectors {

  private val SeqCol = "__dv_seq"

  /** Per-file tombstone position: after latest-wins resolution, a group
    * whose rows are all `< 0` contributes no vectors. */
  private val Tombstone = -1L

  private[spark] def deletesDir(table: TableDefinition, id: CommitId): String =
    MetadataFiles.sidecarDir(table, MetadataFiles.Deletes, id)

  /** Every sidecar dir CONTRIBUTING to the state at `at` (default: the
    * current pointer), oldest first — the log's sidecar fold
    * ([[MetadataFiles.sidecars]]), no file-system call on a format-2 log. */
  private[graft] def liveSidecarDirs(
      spark: SparkSession, log: TableVersions, table: TableDefinition,
      at: Option[CommitId]): List[String] =
    MetadataFiles.sidecars(spark.sessionState.newHadoopConf(), log, table, MetadataFiles.Deletes, at)
      .map { case (id, _) => deletesDir(table, id) }.reverse

  /** Whether any deletion-vector sidecar applies to the state at `at` —
    * the cheap probe the SQL catalog / scan rule use to decide whether a
    * raw delegate scan is safe. Contributing dirs may resolve to zero live
    * pairs (all tombstoned) — the rewrite is then a no-op anti-join, still
    * correct. */
  def hasVectors(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Boolean =
    liveSidecarDirs(spark, log, table, at).nonEmpty

  /** The resolved live `(file, pos)` pair set for the state at `at`:
    * per-file latest-wins across every contributing sidecar, tombstones
    * dropped. None when no sidecar contributes. Sidecars are
    * metadata-sized next to the data they annotate; the latest-wins window
    * runs distributed and AQE broadcasts the result into the scan
    * anti-join when small. */
  private[graft] def resolvePairs(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Option[DataFrame] = {
    val dirs = liveSidecarDirs(spark, log, table, at) // oldest first
    if (dirs.isEmpty) None
    else if (dirs.sizeIs == 1)
      Some(
        readSidecar(spark, dirs.head)
          .where(col("pos") >= 0L).select(col("file"), col("pos")))
    else {
      val unioned = dirs.zipWithIndex
        .map { case (d, i) =>
          readSidecar(spark, d).select(col("file"), col("pos"), lit(i).as(SeqCol))
        }
        .reduce(_ unionByName _)
      val w = Window.partitionBy(col("file"))
      Some(
        unioned
          .withColumn("__dv_max", max(col(SeqCol)).over(w))
          .where(col(SeqCol) === col("__dv_max") && col("pos") >= 0L)
          .select(col("file"), col("pos")))
    }
  }

  /** The entry a FULL rewrite's commit carries — every partition's
    * version moved, or a snapshot replace, so the rewritten files hold only
    * surviving rows and every older vector is absorbed: the resolution walk
    * stops there. Derived inside the commit attempt (the `metadata` hook
    * of [[graft.core.TableVersions.commitRebase]]): present only while
    * vectors are live at the head it lands on. A PARTIAL rewrite must not
    * carry it (untouched partitions still need the old pairs) — see
    * [[stageTombstones]]. */
  private[spark] def absorbedEntry(
      spark: SparkSession, log: TableVersions, table: TableDefinition): Map[String, String] =
    if (hasVectors(spark, log, table, None)) MetadataFiles.absorbed else Map.empty

  /** PARTIAL-rewrite absorption, staged BEFORE the rewrite commit `id`
    * lands: tombstone every sidecar file group (resolved at `readCommit`)
    * whose file the state after the rewrite's `ops` no longer references —
    * its version dir is replaced by a partition-scoped OPTIMIZE / Z-order
    * rewrite, or it is an overlay leaf of a replaced partition. The dead
    * groups' pairs were already harmless no-ops (the anti-join misses
    * replaced paths); tombstoning stops every future read from carrying
    * them through the union — a DV-heavy partition's vectors are SHED the
    * moment it is compacted, not only at the next full rewrite. The
    * tombstones sit in the rewrite's own sidecar, so time travel to
    * pre-rewrite states still resolves the old pairs. Returns the entry
    * the rewrite commit must carry (empty: nothing to shed).
    *
    * The distinct-file collect is file-list-scale — the same driver-side
    * bound as [[FileStats]] scan planning. */
  private[spark] def stageTombstones(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      readCommit: CommitId,
      ops: List[TableOperation],
      id: CommitId): Map[String, String] = {
    val before = log.versionAt(table.name, readCommit) match {
      case PartitionedTableVersion(pvs) => pvs
      case _                            => return Map.empty
    }
    val after = ops.foldLeft(before) {
      case (acc, TableOperation.AddPartitionVersion(p, v)) => acc.updated(p, v)
      case (acc, TableOperation.RemovePartition(p))        => acc - p
      case (acc, _)                                        => acc
    }
    val pairs = resolvePairs(spark, log, table, Some(readCommit)).getOrElse(return Map.empty)
    val files = pairs.select(col("file")).distinct()
      .collect().map(_.getString(0)).toList
    // a sidecar file is LIVE iff its path sits under a version dir the
    // post-rewrite state references — match on the
    // `<escapedPartition>/<label>` segment, the same rendering Vacuum
    // retention uses (labels embed a timestamp + random id, so segment
    // collision is not a concern) — or under an overlay leaf whose
    // partition the rewrite leaves in place ([[RowOverlay]] liveness):
    // tombstoning those would resurrect merge-on-read-deleted overlay rows
    val referenced = after.map { case (p, v) =>
      s"/${SparkPaths.escapedPartitionPath(p)}/${v.label}/"
    }
    val overlayLive = RowOverlay.contributions(spark, log, table, Some(readCommit))
      .flatMap(c => c.leaves.collect {
        case (Some(p), _) if after.get(p) == before.get(p) =>
          s"/_appends/commit-${c.anchor.id}/${SparkPaths.escapedPartitionPath(p)}/"
      })
    val dead = files.filterNot(f =>
      referenced.exists(f.contains) || overlayLive.exists(f.contains))
    if (dead.isEmpty) return Map.empty
    val entry = MetadataFiles.published(spark, log, table, MetadataFiles.Deletes)
    import spark.implicits._
    writeSidecar(spark, table, dead.map(f => (f, Tombstone)).toDF("file", "pos"), id)
    entry
  }

  /** DV maintenance: fold every contributing sidecar into ONE sidecar at
    * a fresh squash COMMIT (live groups carried, every older-mentioned
    * file without live pairs tombstoned), so subsequent reads open O(1)
    * sidecar dirs instead of one per delete commit — the DV analogue of
    * log checkpointing. Old sidecars stay on disk for time travel and
    * reclaim via [[Vacuum]] once their anchors age out of retention.
    * No-op (false) when 0 or 1 dirs contribute.
    *
    * CONCURRENCY ([[RowOverlay.squash]] posture): the fold resolves at an
    * anchor captured on entry and publishes through a strict `commitIf`
    * CAS against it — the sidecar is keyed by the NEW commit id and named
    * only by that commit, no existing sidecar is touched, and any
    * concurrent delete/append/replace makes the CAS lose: the
    * never-referenced sidecar is removed and the squash refuses loudly. */
  def squashSidecars(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      message: UpdateMessage): Boolean = {
    val log = ctx.metastore.tableVersions
    val anchor = log.currentCommit(table.name)
    val dirs = liveSidecarDirs(spark, log, table, Some(anchor))
    if (dirs.sizeIs <= 1) return false
    // every mentioned file must appear in the squash: a live group by its
    // pairs, a dead/tombstoned group by a tombstone — otherwise the older
    // sidecar's entry would become "latest" again for that file
    val mentioned = dirs
      .map(d => readSidecar(spark, d).select(col("file")))
      .reduce(_ union _)
      .distinct()
    val livePairs = resolvePairs(spark, log, table, Some(anchor))
      .getOrElse(return false)
    val tombstones = mentioned
      .join(livePairs.select(col("file")).distinct(), Seq("file"), "left_anti")
      .withColumn("pos", lit(Tombstone))
    val commitId = CommitId(UUID.randomUUID().toString)
    val entry = MetadataFiles.published(spark, log, table, MetadataFiles.Deletes, complete = true)
    writeSidecar(spark, table, livePairs.unionByName(tombstones), commitId)
    RowOverlay.interleaveSquashForTest.foreach(f => f())
    val update = TableUpdate(
      TableUpdateMetadata(commitId, user, message, java.time.Instant.now(), None), Nil)
    if (ctx.metastore.commitIf(table.name, update.withTableMetadata(entry), anchor).isEmpty) {
      removeUnnamed(spark, table, deletesDir(table, commitId))
      throw new TableVersions.ConcurrentWriteException(
        s"concurrent commit moved ${table.name.fullyQualifiedName} past ${anchor.id} " +
          "during a deletion-vector squash — nothing changed, re-run")
    }
    true
  }

  /** AUTO-SQUASH ([[RowOverlay.autoSquash]] posture): fold the pair
    * sidecars via [[squashSidecars]] when more than `maxDirs` contribute
    * to current reads; no-op below the threshold. Best-effort under
    * concurrency — the underlying squash refuses loudly on a racing
    * commit. Returns whether a squash happened. */
  def autoSquash(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      maxDirs: Int = 16): Boolean = {
    require(maxDirs >= 1, "autoSquash maxDirs must be >= 1")
    if (liveSidecarDirs(spark, ctx.metastore.tableVersions, table, None).sizeIs <= maxDirs) false
    else squashSidecars(spark, ctx, table, user,
      UpdateMessage(s"AUTO SQUASH deletion vectors (>$maxDirs sidecars)"))
  }

  /** SHALLOW-CLONE carry: materialize the RESOLVED live pair state of
    * `src` at `at` as one COMPLETE sidecar at `anchor` — the clone `dst`'s
    * state commit, which must carry the returned entry. The clone's
    * lineage holds none of the source's sidecar anchors, so it gets its own
    * consolidated sidecar under its own commit id; the shared `_deletes`
    * namespace keys by uuid commit ids and each log names only its own, so
    * the fork is isolated by construction. Empty when the state carries no
    * vectors. */
  private[spark] def cloneResolvedState(
      spark: SparkSession,
      log: TableVersions,
      src: TableDefinition,
      at: CommitId,
      dst: TableDefinition,
      anchor: CommitId): Map[String, String] =
    resolvePairs(spark, log, src, Some(at)).fold(Map.empty[String, String]) { pairs =>
      val entry = MetadataFiles.published(spark, log, dst, MetadataFiles.Deletes, complete = true)
      // pairs on ROW-OVERLAY files are dropped: the clone carries the
      // RESOLVED overlay rows ([[RowOverlay.cloneResolvedState]] — hidden
      // rows already excluded there), and the carried pairs would point at
      // source overlay files the clone's overlay resolution never unions
      writeSidecar(spark, src, pairs.where(!col("file").contains("/_appends/")), anchor)
      entry
    }

  /** One pair sidecar's rows, read under its fixed schema: every read of
    * a state with live vectors resolves its sidecars, and a footer
    * inference would cost a Spark job per dir. */
  private def readSidecar(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("file STRING, pos BIGINT").parquet(dir)

  /** Write the pair sidecar of the not-yet-landed commit `anchor` — the
    * one write its dir ever gets. The caller keeps the per-file
    * completeness contract: pairs for a file this sidecar mentions must be
    * that file's FULL live set (latest-wins resolution makes the newest
    * mention authoritative; see [[foldedPairs]]). Sidecars are
    * metadata-sized but RESOLVED ON EVERY READ (union + latest-wins window
    * over every contributing dir): land them as few AQE-sized files, not
    * one per upstream shuffle partition. Hash by `file` — deterministic,
    * and AQE coalesces to ~1 file at metadata scale / splits if a
    * pathological pair set ever gets big. */
  private[spark] def writeSidecar(
      spark: SparkSession,
      table: TableDefinition,
      pairs: DataFrame,
      anchor: CommitId): Unit =
    VersionContext.distributeForWrite(pairs, Seq("file"))
      .write.parquet(deletesDir(table, anchor))

  /** Best-effort removal of a sidecar dir whose commit lost its race: no
    * commit names it, and [[Vacuum]] reclaims it regardless. */
  private[spark] def removeUnnamed(spark: SparkSession, table: TableDefinition, dir: String): Unit =
    try {
      org.apache.hadoop.fs.FileSystem.get(table.location, spark.sessionState.newHadoopConf())
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      ()
    } catch { case _: java.io.IOException => () }

  /** Fold `newPairs` with the prior pairs of the files they touch — the
    * per-file-completeness discipline every sidecar write must keep (see
    * [[delete]]): the newest sidecar mentioning a file owns that file's
    * FULL pair set. */
  private[spark] def foldedPairs(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      newPairs: DataFrame): DataFrame = {
    val touched = newPairs.select(col("file")).distinct()
    resolvePairs(spark, log, table, None) match {
      case None => newPairs
      case Some(prev) =>
        prev
          .join(broadcast(touched), Seq("file"), "left_semi")
          .unionByName(newPairs)
          .distinct()
    }
  }

  /** Merge-on-read scan: the state at `asOf` (default current) minus every
    * live `(file, pos)` vector ([[VersionedScan]]). One shuffled anti-join
    * (AQE broadcasts it when the vectors are small); zero extra cost when
    * the table has no deletion vectors. */
  def read(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      asOf: Option[CommitId] = None,
      mergeSchema: Boolean = false): DataFrame =
    VersionedScan(spark, log, table, asOf, mergeSchema = mergeSchema)

  /** Guard to run BEFORE [[TableVersions]] log checkpointing on a table
    * that may carry deletion vectors or overlay rows. Sidecars anchor to
    * COMMIT IDS, and a checkpoint folds old ids out of the history — if an
    * id a retained state resolves its sidecars through is folded away, the
    * walk misses that sidecar and its DV-deleted rows silently reappear
    * (an overlay's rows vanish: its liveness rule also needs
    * `versionAt(anchor)`). This refuses loudly when any retained state (the
    * base, the tail, or the current pointer) resolves through a sidecar
    * whose anchor would fold; the remedies are the message's: OPTIMIZE
    * first (compaction absorbs the vectors and overlay rows, after which
    * the old anchors age out of every retained lineage), a squash
    * (re-anchors every live group at the current commit), or raise
    * keepLast. A fold of the log: it lives here only because the core log
    * layer cannot run the legacy refusal, which needs the table location. */
  def requireCheckpointKeepsVectors(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      keepLast: Int): Unit = {
    val updates = log.updates(table.name) // most recent first
    if (updates.size <= keepLast + 1) return // checkpoint would no-op
    val retainedIds = updates.take(keepLast + 1).map(_.id).toSet
    val states = (log.currentCommit(table.name) :: updates.take(keepLast + 1).map(_.id)).distinct
    List(
      MetadataFiles.Deletes -> ("deletion-vector sidecar", "OPTIMIZE or DeletionVectors.squashSidecars to re-anchor the vectors"),
      MetadataFiles.Appends -> ("row-overlay sidecar", "OPTIMIZE (absorbs the overlay) or RowOverlay.squash to re-anchor the rows")
    ).foreach { case (family, (what, remedy)) =>
      states.foreach { c =>
        MetadataFiles.sidecars(spark.sessionState.newHadoopConf(), log, table, family, Some(c)).foreach { case (anchor, _) =>
          if (!retainedIds.contains(anchor))
            throw new IllegalStateException(
              s"checkpoint(keepLast=$keepLast) would fold away commit ${anchor.id}, which " +
                s"anchors the $what ${MetadataFiles.sidecarDir(table, family, anchor)} " +
                s"still serving retained states; run $remedy first, or raise keepLast")
        }
      }
    }
  }

  /** Merge-on-read DELETE: hide every current row matching `cond` (SQL
    * semantics — NULL predicates don't match) behind a fresh sidecar + an
    * empty-ops commit. Writes NO data files and moves NO version pointers.
    * The sidecar carries the full pair set for ONLY the files this delete
    * touched (prior pairs for those files folded in) — per-file
    * latest-wins resolution keeps untouched files' older groups live, so
    * the write is O(deletes in touched files), never O(all deletes ever).
    * Returns the number of newly deleted row positions; a no-match delete
    * commits nothing. The sidecar is written BEFORE the commit that names
    * it — a crash in between leaves an orphaned, never-named sidecar (the
    * versioned write path's own staging posture). */
  def delete(
      ctx: VersionContext,
      log: TableVersions,
      table: TableDefinition,
      cond: Column,
      user: UserId,
      message: UpdateMessage): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    // OCC anchor, captured BEFORE the sidecar read: the delete is a
    // read-modify-write of the touched files' groups, so two racing
    // deletes reading the same previous groups would each fold in only
    // their own pairs — whichever landed second would silently UNDELETE
    // the first's rows in any shared file. commitIf against this pointer
    // resolves races to one winner and one loud, retryable refusal (the
    // engine's q57 posture).
    val expected = log.currentCommit(table.name)
    // match against the VISIBLE state (existing DVs applied) in LOGICAL
    // column names: predicates come from callers who see the mapped view
    // (SQL DELETE, feed consumers), and matching against the raw physical
    // frame would silently hit the WRONG column once renames stack (a
    // rename swap leaves the old physical name meaning a different
    // logical column). Unmapped columns — the (file, pos) pointers
    // included — pass through untouched.
    val visible = VersionedScan(
      spark, log, table, pointers = true, names = VersionedScan.Names.AtState)
    if (visible.columns.isEmpty) return 0L
    // stale-name guard: the analyzer's missing-reference fallback would
    // resolve a predicate naming a PRE-RENAME physical column straight
    // through the mapping projection into the child scan — silently
    // matching a column that now means something else. Analyzing the
    // predicate against a LINEAGE-FREE empty frame carrying only the
    // logical view's columns has no child to fall through, so any stale
    // reference fails loudly here (metadata-only, no job runs).
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), visible.schema)
      .where(cond)
    val newPairs = visible
      .where(cond)
      .select(col(VersionedScan.FileCol).as("file"), col(VersionedScan.PosCol).as("pos"))
      .persist()
    try {
      val n = newPairs.count()
      if (n == 0L) return 0L
      val id = CommitId(UUID.randomUUID().toString)
      val entry = MetadataFiles.published(spark, log, table, MetadataFiles.Deletes)
      writeSidecar(spark, table, foldedPairs(spark, log, table, newPairs), id)
      val committed = ctx.metastore.commitIf(
        table.name,
        TableUpdate(TableUpdateMetadata(id, user, message, java.time.Instant.now()), Nil)
          .withTableMetadata(entry),
        expected)
      if (committed.isEmpty) {
        // loser cleans its never-named sidecar and refuses loudly; the
        // caller retries against the new state
        removeUnnamed(spark, table, deletesDir(table, id))
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit moved ${table.name.fullyQualifiedName} past ${expected.id} " +
            "during a deletion-vector delete; retry the delete against the new state")
      }
      n
    } finally { newPairs.unpersist(); () }
  }
}
