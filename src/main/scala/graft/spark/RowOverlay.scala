package graft.spark

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation, TableUpdate, TableUpdateMetadata, UpdateMessage, UserId}

/**
 * MERGE-ON-READ row appends (the "row overlay") — the scattered-row INSERT
 * and UPDATE postimage path that copy-on-write can't afford. The engine's
 * write model is partition-replacement (a commit points a partition at a
 * whole new version dir — reference `core/.../TableVersions.scala` fold,
 * `updated(p, v)` last-wins), so appending 10 rows to a 1 TB partition
 * rewrites the partition under the copy-on-write INSERT path. Here the
 * rows land as a commit-scoped DATA SIDECAR and ZERO existing files move:
 *
 *  - a merge-on-read append writes the batch under
 *    `<table>/_appends/commit-<id>/` (Hive `k=v` subdirs for partitioned
 *    tables — one overlay file belongs to exactly ONE partition — flat
 *    for snapshots), then commits an update whose only ops are the
 *    version dirs for rows landing in partitions that did not exist yet,
 *    and NAMES the dir on its commit line (the `appends` entry of
 *    [[MetadataFiles]]). The dir is keyed by the commit id and written
 *    before that commit, never after it, so it is invisible until the
 *    commit lands — the DV-sidecar staging posture ([[DeletionVectors]]);
 *  - reads scan the overlay leaves beside the version dirs
 *    ([[VersionedScan]] does this for every state-resolving read), and deletion vectors
 *    apply uniformly on top: overlay files are ordinary immutable files,
 *    so a later DV DELETE or merge-on-read UPDATE hides overlay rows by
 *    `(file, pos)` exactly like base rows.
 *
 * ABSORPTION IS DERIVED FROM THE LOG, not written by rewriters: an
 * overlay dir anchored at commit `c` contributes partition `P`'s rows to
 * the state at `at` iff
 *
 *     versionAt(at).get(P) == versionAt(c).get(P)   (and is defined)
 *
 * (snapshots: the snapshot version is unchanged between `c` and `at`).
 * Version labels are unique per write, so equality means "P was not
 * replaced or removed in between". Any partition-replacing commit —
 * copy-on-write DML, OPTIMIZE/Z-ORDER, INSERT OVERWRITE, partition
 * DELETE, era consolidation — therefore absorbs the overlay rows it
 * re-landed (its rewrite read the overlay-inclusive state) with NO
 * bookkeeping write and NO hook to forget, and time travel, RESTORE and
 * WAP branches resolve correctly because liveness is recomputed against
 * whatever lineage the read anchors to. The one invariant the writer
 * must keep: overlay rows only ever land in partitions whose dir EXISTS
 * at the append's commit (rows for absent partitions get a real version
 * dir in the same commit) — a row in a never-present partition would be
 * dead on arrival under the rule above.
 *
 * Concurrency: pure appends COMPOSE — they commit through the declared-
 * scope rebase (`scopeOverride` = the overlay-touched partitions, with a
 * per-CAS-attempt revalidate refusing when any touched partition's
 * version moved, the scheme changed, or the identity mark advanced), so
 * two appends into the same partition and disjoint concurrent commits
 * all land without retry. PAIR-CARRYING writes (UPDATE/MERGE postimages
 * with preimage DV pairs) compose under the same rebase when the caller
 * declares `pairScope` (the preimage partitions): the revalidate
 * additionally refuses an intervening pair sidecar folding any of our
 * preimage FILES' groups (per-file resolution is latest-wins — same-file
 * folds must never interleave) and an intervening overlay squash (its
 * fold re-lands rows our pairs never reference). Blind concurrent
 * appends into a scoped update's partitions land unvetted — their rows
 * were not visible to the update's predicate (the WriteSerializable
 * posture). Callers that declare nothing keep the strict
 * compare-and-swap ([[graft.core.VersionedMetastore.commitIf]]).
 *
 * Resolution folds the cached commit lines ([[MetadataFiles.sidecars]]):
 * the named dirs at or before the addressed commit, back to the nearest
 * COMPLETE one — no file-system probe finds a dir.
 *
 * Maintenance: sidecar-dir count grows with append commits until a
 * rewrite of the touched partitions (OPTIMIZE absorbs overlay rows into
 * real dirs) or [[squash]] (folds live overlay rows into one complete dir
 * so reads open O(1) dirs — the DV-squash analogue). Vacuum keeps every
 * dir a retained state's walk names and reclaims the rest, on the
 * `_deletes` lifecycle.
 */
object RowOverlay {

  /** Test seam ([[graft.spark.MaterializedView]] discipline): runs inside
    * [[append]] after the sidecars are staged and before the commit's
    * critical section — deterministic race injection for the
    * append-compose specs. */
  private[spark] var interleaveForTest: Option[() => Unit] = None

  /** Race seam for [[squash]]: fires after the squashed dir is staged and
    * before the publish CAS — a commit injected here must make the squash
    * refuse with nothing lost. */
  private[spark] var interleaveSquashForTest: Option[() => Unit] = None

  private[spark] def appendsDir(table: TableDefinition, id: CommitId): String =
    MetadataFiles.sidecarDir(table, MetadataFiles.Appends, id)

  /** The overlay dirs the log names for the state at `at`, most recent
    * first, as (anchor, dir, complete) — behind the legacy refusal of a log
    * below format 2. */
  private def overlayDirs(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): List[(CommitId, String, Boolean)] = {
    MetadataFiles.sidecars(spark.sessionState.newHadoopConf(), log, table, MetadataFiles.Appends, at)
      .map { case (id, complete) => (id, appendsDir(table, id), complete) }
  }

  /** Whether any overlay dir contributes to the state at `at` — the cheap
    * probe the SQL scan rule uses. A contributing dir may resolve to zero
    * live rows (every partition since replaced) — the union is then a
    * no-op, still correct. */
  def hasOverlay(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Boolean =
    overlayDirs(spark, log, table, at).nonEmpty

  /** One overlay dir's live contribution: the dir, its anchor, and the
    * leaf paths to load (each with the partition its rows belong to;
    * `None` partition = snapshot table, the dir itself is the leaf). */
  private[spark] final case class Contribution(
      anchor: CommitId,
      dir: String,
      leaves: List[(Option[Partition], String)],
      squashed: Boolean = false)

  /** Parse a partitioned overlay dir's Hive `k=v` leaf tree. The dir's own
    * structure is authoritative (it was written under the scheme in force
    * at its anchor — after a partition-scheme evolution, older dirs keep
    * their own layout, exactly like old-era version dirs). */
  private def leafPartitions(fs: FileSystem, root: HPath): List[(Partition, HPath)] = {
    def walk(dir: HPath, acc: List[ColumnValue]): List[(Partition, HPath)] = {
      val subs = fs.listStatus(dir).toList
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (subs.isEmpty) {
        if (acc.isEmpty) Nil // no k=v level: not a partitioned leaf
        else List((Partition(acc.reverse), dir))
      } else
        subs.flatMap { s =>
          val name = s.getPath.getName
          val (k, v) = name.span(_ != '=')
          walk(
            s.getPath,
            ColumnValue(
              PartitionColumn(org.apache.spark.sql.GraftSqlShim.unescapePathName(k)),
              org.apache.spark.sql.GraftSqlShim.unescapePathName(v.drop(1))) :: acc)
        }
    }
    walk(root, Nil)
  }

  /** Every live overlay contribution to the state at `at`, oldest first.
    * Liveness is the log-derived rule in the class doc: a leaf survives
    * iff its partition's version is UNCHANGED between the dir's anchor
    * and `at`. Metadata-scale: one lineage walk + one `versionAt` fold +
    * one listing per contributing partitioned dir. */
  private[graft] def contributions(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): List[Contribution] = {
    val dirs = overlayDirs(spark, log, table, at)
    if (dirs.isEmpty) return Nil
    val vAt = at.map(log.versionAt(table.name, _)).getOrElse(log.currentVersion(table.name))
    resolveContributions(spark, log, table, vAt, dirs)
  }

  /** The log-derived liveness mapping shared by [[contributions]] and
    * [[contributionsAcrossSquash]]: oldest-first contributions of the
    * given (anchor, dir) list against the state `vAt`. */
  private def resolveContributions(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      vAt: TableVersion,
      dirs: List[(CommitId, String, Boolean)]): List[Contribution] = {
    lazy val fs = FileSystem.get(table.location, spark.sessionState.newHadoopConf())
    dirs.reverse.flatMap { case (anchor, dir, squashed) =>
      val vThen = log.versionAt(table.name, anchor)
      (vThen, vAt) match {
        case (SnapshotTableVersion(a), SnapshotTableVersion(b)) =>
          if (a == b && a != Version.Unversioned)
            Some(Contribution(anchor, dir, List((None, dir)), squashed))
          else None
        case (PartitionedTableVersion(pThen), PartitionedTableVersion(pAt)) =>
          val leaves = leafPartitions(fs, new HPath(dir)).collect {
            case (p, path) if pAt.get(p).exists(v => pThen.get(p).contains(v)) =>
              (Some(p): Option[Partition], path.toString)
          }
          if (leaves.isEmpty) None else Some(Contribution(anchor, dir, leaves, squashed))
        case _ => None // partitioning-shape change between anchor and at: nothing survives
      }
    }
  }

  /** RANGE resolution for the change feed ([[ChangeFeed]],
    * [[VersionedReader.readChanges]]): the contributions at `at` with the
    * dir walk SKIPPING squashed dirs anchored OUTSIDE `stopAnchors`. An
    * in-range squash re-homes older rows under its own anchor, which
    * anchor-based range attribution cannot express — but the pre-squash
    * dirs remain on disk for time travel, so the range resolves against
    * THEM (each row keeps its true append anchor) and the feed composes
    * across the squash. The walk still stops at the first squashed dir
    * anchored IN `stopAnchors` (a pre-range fold: complete from-state).
    * Refuses when a skipped squash's source dirs are gone — vacuum
    * reclaimed them once no retained state resolved through them — the
    * one case the re-anchor remediation is actually needed. Returns the
    * contributions plus the FIRST skipped squash anchor: raw-dir rows key
    * by their ORIGINAL (file, pos), so callers that apply pair sidecars
    * must verify the pair state did not move between that anchor and `at`
    * (a post-squash hide references the re-landed file; a post-squash
    * absorb tombstones the raw file's pairs — either re-keys hiding in a
    * way raw resolution cannot see). */
  private[graft] def contributionsAcrossSquash(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: CommitId,
      stopAnchors: Set[CommitId]): (List[Contribution], Option[CommitId]) = {
    val line = MetadataFiles.lineage(spark.sessionState.newHadoopConf(), log, table, Some(at))
    // a maintenance squash commit is OP-LESS (moves no pointer); a
    // shallow-clone CARRY dir is complete too but rides the clone's
    // STATE-bearing commit — it re-homes nothing (the clone's lineage has
    // no earlier overlay dirs) and must count as a plain contribution
    def opLess(anchor: CommitId): Boolean = {
      val idx = line.indexWhere(_.id == anchor)
      idx >= 0 && idx + 1 < line.length &&
        log.versionAt(table.name, anchor) == log.versionAt(table.name, line(idx + 1).id)
    }
    val named = line.iterator.flatMap(m =>
      MetadataFiles.sidecarOf(m, MetadataFiles.Appends).map(c => (m.id, appendsDir(table, m.id), c)))
    val dirs = scala.collection.mutable.ListBuffer[(CommitId, String, Boolean)]()
    val pastSkip = scala.collection.mutable.ListBuffer[String]()
    var skippedSquash: Option[CommitId] = None
    var stop = false
    while (!stop && named.hasNext) {
      val (anchor, d, squashed) = named.next()
      if (squashed && !stopAnchors.contains(anchor) && opLess(anchor)) {
        if (skippedSquash.isEmpty) skippedSquash = Some(anchor)
      } else {
        if (skippedSquash.isDefined) pastSkip += d
        dirs += ((anchor, d, squashed))
        stop = squashed
      }
    }
    // the range resolves through the pre-squash dirs, which the log names
    // but vacuum may have reclaimed once no retained state used them
    skippedSquash.foreach { s =>
      lazy val fs = FileSystem.get(table.location, spark.sessionState.newHadoopConf())
      if (pastSkip.isEmpty || !pastSkip.forall(d => fs.exists(new HPath(d))))
        throw new IllegalStateException(
          s"change-feed range on ${table.name.fullyQualifiedName} crosses the " +
            s"row-overlay squash ${s.id} and its pre-squash source dirs were " +
            "reclaimed by vacuum — re-anchor the consumer at-or-after the " +
            "squash commit")
    }
    (resolveContributions(spark, log, table, log.versionAt(table.name, at), dirs.toList),
      skippedSquash)
  }

  /** MERGE-ON-READ APPEND: land `df`'s rows into the current state of
    * `table` without rewriting any existing file. Rows whose partition
    * already has a version dir go to the overlay; rows for absent
    * partitions get ordinary new version dirs (no carry needed — nothing
    * is replaced); both ride ONE strict-OCC commit. `extraPairs`
    * (deletion-vector `(file, pos)` rows) ride the same commit — the
    * merge-on-read UPDATE writes its preimage-hiding vectors here so hide
    * + re-land are atomic. Returns the new commit id; an empty batch (and
    * no pairs) commits nothing and returns the observed head.
    *
    * The batch passes the same write gates as every versioned insert:
    * current-scheme validation, generated-column fill, CHECK constraints,
    * logical→physical column mapping. */
  def append(
      df: DataFrame,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      message: UpdateMessage,
      extraPairs: Option[DataFrame] = None,
      identity: Option[(String, Long)] = None,
      expectedOverride: Option[CommitId] = None,
      txn: Option[TableVersions.StreamTxn] = None,
      pairScope: Option[Set[Partition]] = None): CommitId = {
    val spark = df.sparkSession
    val expected = expectedOverride.getOrElse(
      ctx.metastore.tableVersions.currentCommit(table.name))
    val log = ctx.metastore.tableVersions
    PartitionEvolution.requireCurrentScheme(spark, log, table)
    // identity / row-tracking parity for DIRECT callers (streaming append
    // sink, versionedAppendInto): a declared identity column stamps here
    // unless the caller already did (SQL INSERT, merge) — rows carrying an
    // id keep it (the update-postimage/preservation contract), NULL-id
    // rows mint above the observed mark, and the advanced mark rides this
    // commit's message like every stamping write path
    val (df0, identity0) = identity match {
      case some @ Some(_) => (df, some)
      case None =>
        IdentityColumns.declared(spark, log, table) match {
          case None => (df, None)
          case Some(c) =>
            val hwm = IdentityColumns.effectiveHighWaterMark(spark, log, table, c)
            (IdentityColumns.stampedPreserving(df, c, hwm), Some((c, hwm)))
        }
    }
    val mapped = ColumnMapping.toPhysical(
      Constraints.enforced(
        GeneratedColumns.applied(
          ColumnDefaults.applied(df0, log, table), log, table), log, table),
      table, log).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the emptiness probe is folded into partitionValues for partitioned
      // tables (below) — one job instead of two; snapshots keep the probe
      if (table.isSnapshot && mapped.isEmpty && extraPairs.isEmpty) return expected
      val commitId = CommitId(UUID.randomUUID().toString)
      val dir = appendsDir(table, commitId)
      // the entries naming this commit's sidecars, derived before either is
      // written (see MetadataFiles.published)
      val overlayEntry = MetadataFiles.published(spark, log, table, MetadataFiles.Appends)
      val pairsEntry = extraPairs.fold(Map.empty[String, String])(_ =>
        MetadataFiles.published(spark, log, table, MetadataFiles.Deletes))
      var wroteOverlay = false
      // the observed state — CONSISTENT with `expected` (versionAt, not a
      // second currentVersion read): the append-compose commit's revalidate
      // compares the touched partitions' versions against exactly this
      val observed = log.versionAt(table.name, expected)
      var touchedExisting: List[Partition] = Nil
      val ops: List[TableOperation] =
        if (table.isSnapshot) {
          observed match {
            case SnapshotTableVersion(v) if v != Version.Unversioned => ()
            case _ =>
              throw new IllegalStateException(
                s"merge-on-read append needs an existing snapshot state on " +
                  s"${table.name.fullyQualifiedName}; write the first version with " +
                  "versionedInsertInto")
          }
          if (!mapped.isEmpty) {
            VersionContext.distributeForWrite(mapped, Nil)
              .write.format(table.format.name).save(dir)
            wroteOverlay = true
          }
          Nil
        } else {
          val pvs = observed match {
            case PartitionedTableVersion(m) => m
            case other => sys.error(s"unexpected table version $other")
          }
          // null/empty partition values refuse here, same as every write;
          // zero distinct partitions = empty batch (the emptiness probe)
          val parts = VersionContext.partitionValues(mapped, table.partitionSchema)
          if (parts.isEmpty && extraPairs.isEmpty) return expected
          val existing = parts.filter(pvs.contains)
          touchedExisting = existing
          val partCols = table.partitionSchema.columns.map(_.name)
          // membership split on the SAME string cast partitionValues used;
          // the existing set is #partitions rows — broadcast at any scale
          val existingDf = {
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(
              existing.map(p => org.apache.spark.sql.Row(p.columnValues.map(_.value): _*)).asJava,
              org.apache.spark.sql.types.StructType(partCols.map(n =>
                org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType))))
          }
          val keyed = mapped.withColumns(
            partCols.map(c => s"__ro_$c" -> col(c).cast("string")).toMap)
          val joinKeys = partCols.map(c => keyed(s"__ro_$c") === existingDf(c)).reduceOption(_ && _)
            .getOrElse(lit(false))
          // split-skip fast paths: the common scattered append/update hits
          // ONLY existing partitions (overlay = whole batch, no join), a
          // first-load-style batch hits only new ones
          val allExisting = existing.size == parts.size
          val overlayRows =
            if (allExisting) mapped
            else keyed.join(broadcast(existingDf), joinKeys, "left_semi")
              .drop(partCols.map(c => s"__ro_$c"): _*)
          val dirRows =
            if (existing.isEmpty) mapped
            else keyed.join(broadcast(existingDf), joinKeys, "left_anti")
              .drop(partCols.map(c => s"__ro_$c"): _*)
          if (existing.nonEmpty) {
            // optimized write (VersionContext.distributeForWrite): a cached
            // batch would otherwise land one file per cached partition per
            // partition dir — and overlay leaves are unioned into EVERY
            // subsequent read, so their file count is pure read debt
            VersionContext.distributeForWrite(overlayRows, partCols)
              .write
              .partitionBy(partCols: _*)
              .format(table.format.name)
              .save(dir)
            wroteOverlay = true
          }
          if (parts.exists(p => !pvs.contains(p)))
            VersionContext.writePartitioned(dirRows, table, ctx.newVersion())
          else Nil
        }
      // preimage-hiding vectors; the caller keeps the per-file completeness
      // contract (DeletionVectors.foldedPairs)
      extraPairs.foreach(p => DeletionVectors.writeSidecar(spark, table, p, commitId))
      // overlay-aware data skipping: stage per-file zone maps inside the
      // not-yet-visible dir so pruned reads can drop non-matching leaves;
      // no-op unless the table keeps a main stats sidecar
      if (wroteOverlay) FileStats.writeOverlayStats(spark, log, table, dir)
      // identity writes derive the advanced high-water mark from the max id
      // ACTUALLY present in the files just written (AQE-proof — the
      // [[IdentityColumns.stageAndCommit]] posture), and the mark rides the
      // same atomic commit via the message text
      val (finalMessage, stampInfo) = identity0 match {
        case None => (message, None)
        case Some((column, hwmAtStamp)) =>
          val written = (if (wroteOverlay) List(dir) else Nil) ++ ops.collect {
            case TableOperation.AddTableVersion(v) =>
              VersionPaths.pathFor(table.location, v).toString
            case TableOperation.AddPartitionVersion(p, v) =>
              SparkPaths.dirFor(table.location, p, v)
          }
          val assignedMax: Option[Long] =
            if (written.isEmpty) None
            else {
              val raw = spark.read.format(table.format.name).load(written: _*)
              val logical = ColumnMapping.applyLogical(raw, spark, log, table, None)
              val r = logical.agg(org.apache.spark.sql.functions.max(col(column))).head()
              if (r.isNullAt(0)) None else Some(r.getLong(0))
            }
          val stampBase =
            if (hwmAtStamp >= 0L) hwmAtStamp
            else IdentityColumns.effectiveHighWaterMark(spark, log, table, column)
          val newHwm = assignedMax.map(math.max(_, stampBase)).getOrElse(stampBase)
          (UpdateMessage(
            s"${message.content} ${IdentityColumns.markText(column, newHwm)}"),
            Some((column, stampBase)))
      }
      val update = TableUpdate(
        TableUpdateMetadata(commitId, user, finalMessage, java.time.Instant.now(), txn), ops)
        .withTableMetadata((if (wroteOverlay) overlayEntry else Map.empty[String, String]) ++ pairsEntry)
      // derived inside whichever commit critical section runs below
      def schemaEntry(): Map[String, String] =
        DataSchema.written(spark, log, table, mapped.schema, ops)
      def cleanupSidecars(): Unit = {
        DeletionVectors.removeUnnamed(spark, table, dir)
        DeletionVectors.removeUnnamed(spark, table, DeletionVectors.deletesDir(table, commitId))
      }
      // a concurrent identity writer advancing the mark AFTER this batch's
      // ids were stamped means the ids overlap — checked inside whichever
      // commit critical section runs below
      def requireStampStillValid(): Unit = stampInfo.foreach { case (column, stampBase) =>
        IdentityColumns.requireMarkUnmoved(
          spark, log, table, column, stampBase, "merge-on-read append")
      }
      // deterministic race injection for the append-compose specs: fires
      // between sidecar staging and the commit's critical section
      interleaveForTest.foreach(f => f())
      if ((extraPairs.isEmpty && expectedOverride.isEmpty) || pairScope.isDefined) {
        // APPEND-COMPOSE commit: pure appends rebase over concurrent
        // disjoint commits AND over each other (two appends into the same
        // partition move no pointer — both land). The ops' conflict scope
        // cannot see the overlay-touched partitions (no op for them), so
        // the revalidate hook — ordered inside every CAS attempt — refuses
        // when any touched partition's version moved since `expected`: a
        // replacement landing mid-append would silently absorb the fresh
        // rows under the log-derived liveness rule.
        //
        // PAIR-CARRYING writes (UPDATE/MERGE) compose too when the caller
        // declares `pairScope` (the preimage partitions): their extra
        // hazards are (a) an intervening pair sidecar folding any of OUR
        // preimage FILES' groups — per-file resolution is latest-wins
        // across sidecars, so same-file folds must never interleave — and
        // (b) an intervening overlay SQUASH, which re-lands overlay rows
        // under fresh files our pairs never reference. Both are vetted
        // per CAS attempt below; disjoint-file/partition writers land
        // without contention (the q72 composition the strict path lost).
        // declared scope: the overlay-touched partitions plus any real
        // ops' partitions plus the preimage partitions (an op-less update
        // would default to whole-table and serialize every concurrent
        // appender); the revalidate hook below makes the narrow
        // declaration safe
        val guardParts = touchedExisting.toSet ++ pairScope.getOrElse(Set.empty)
        val declaredScope: TableVersions.ConflictScope =
          if (table.isSnapshot) TableVersions.Partitions(Set.empty)
          else TableVersions.Partitions(
            guardParts ++ ops.collect {
              case TableOperation.AddPartitionVersion(p, _) => p
            })
        // the preimage files whose pair groups this commit folds — read
        // back from the just-staged sidecar (metadata-scale, one job)
        val pairFiles: Set[String] =
          if (extraPairs.isEmpty) Set.empty
          else spark.read.parquet(DeletionVectors.deletesDir(table, commitId))
            .select(col("file")).distinct().collect().map(_.getString(0)).toSet
        // commits that landed after `expected` naming sidecars that
        // interleave with ours: same-file pair folds or an overlay squash
        def requireInterveningSidecarsSafe(): Unit =
          if (pairScope.isDefined) {
            val intervening = log.updates(table.name)
              .takeWhile(_.id != expected).filterNot(_.id == commitId)
            intervening.foreach { m =>
              if (MetadataFiles.sidecarOf(m, MetadataFiles.Appends).contains(true))
                throw new TableVersions.ConcurrentWriteException(
                  s"a row-overlay squash (${m.id.id}) landed on " +
                    s"${table.name.fullyQualifiedName} during a merge-on-read " +
                    "update — its fold re-landed rows this write's pairs never " +
                    "reference; re-run against the new state")
              if (pairFiles.nonEmpty && MetadataFiles.sidecarOf(m, MetadataFiles.Deletes).isDefined) {
                val theirs = spark.read.parquet(DeletionVectors.deletesDir(table, m.id))
                  .select(col("file")).distinct().collect().map(_.getString(0))
                if (theirs.exists(pairFiles))
                  throw new TableVersions.ConcurrentWriteException(
                    s"concurrent commit ${m.id.id} folded deletion-vector groups " +
                      s"for files this merge-on-read update also touches on " +
                      s"${table.name.fullyQualifiedName} — same-file pair folds " +
                      "must not interleave (latest-wins resolution); re-run")
              }
            }
          }
        try {
          ctx.metastore.commitRebase(
            table.name, update, expected,
            scopeOverride = Some(declaredScope),
            metadata = () => schemaEntry(),
            revalidate = () => {
              PartitionEvolution.requireCurrentScheme(spark, log, table)
              requireStampStillValid()
              requireInterveningSidecarsSafe()
              (observed, log.currentVersion(table.name)) match {
                case (SnapshotTableVersion(a), SnapshotTableVersion(b)) =>
                  if (a != b)
                    throw new TableVersions.ConcurrentWriteException(
                      s"snapshot ${table.name.fullyQualifiedName} was replaced " +
                        "during a merge-on-read append — re-run against the new state")
                case (PartitionedTableVersion(pa), PartitionedTableVersion(pb)) =>
                  guardParts.foreach { p =>
                    if (pb.get(p) != pa.get(p))
                      throw new TableVersions.ConcurrentWriteException(
                        s"partition ${p.hivePath} of ${table.name.fullyQualifiedName} " +
                          "was replaced during a merge-on-read append (the fresh rows " +
                          "would be silently absorbed) — re-run against the new state")
                  }
                case _ =>
                  throw new TableVersions.ConcurrentWriteException(
                    s"table ${table.name.fullyQualifiedName} changed partitioning " +
                      "shape during a merge-on-read append — re-run")
              }
            })
          ()
        } catch {
          case e: TableVersions.ConcurrentWriteException =>
            cleanupSidecars(); throw e
        }
      } else {
        try requireStampStillValid()
        catch {
          // same posture as the rebase branch: the loser's staged overlay
          // and pair dirs are never-referenced — clean them, don't leave
          // them for vacuum
          case e: TableVersions.ConcurrentWriteException =>
            cleanupSidecars(); throw e
        }
        val committed = ctx.metastore.commitIf(
          table.name, update.withTableMetadata(schemaEntry()), expected)
        if (committed.isEmpty) {
          // loser cleans its never-referenced sidecars; fresh version dirs
          // stay orphaned for vacuum (the versioned write path's posture)
          cleanupSidecars()
          throw new java.util.ConcurrentModificationException(
            s"concurrent commit moved ${table.name.fullyQualifiedName} past ${expected.id} " +
              "during a merge-on-read append; retry against the new state")
        }
      }
      commitId
    } finally { mapped.unpersist(); () }
  }

  /** Overlay maintenance: fold every live overlay contribution into ONE
    * COMPLETE dir anchored at a fresh squash COMMIT — subsequent reads
    * open O(1) overlay dirs however many append commits preceded (the
    * [[DeletionVectors.squashSidecars]] analogue). Only LIVE rows are
    * carried (DV-hidden overlay rows drop physically; their pairs become
    * dead no-ops), so the squash also sheds delete debt. Old dirs stay on
    * disk for time travel and reclaim via [[Vacuum]] once their anchors
    * age out. No-op (false) when 0 or 1 dirs contribute. Refuses on a
    * mixed partition-scheme fold: re-landing old-era rows under the
    * current scheme would re-key their liveness to partitions that have
    * no dir.
    *
    * CONCURRENCY: the fold is computed at an anchor captured ON ENTRY and
    * published through a strict `commitIf` CAS against that anchor — the
    * squashed dir is keyed by the NEW commit id and named only by that
    * commit (the append-sidecar staging posture) and NO existing
    * dir is ever deleted or renamed. A concurrent append, DV delete,
    * replacement or rollback landing anywhere in the window moves the
    * pointer, the CAS loses, the never-referenced dir is removed and the
    * squash refuses loudly ([[graft.core.TableVersions.ConcurrentWriteException]])
    * — nothing is lost, re-run. A crash before the commit leaves only an
    * unreferenced dir for [[Vacuum]]. */
  def squash(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      message: UpdateMessage): Boolean = {
    val log = ctx.metastore.tableVersions
    PartitionEvolution.requireUniformFold(log, table, "row-overlay squash")
    // OCC anchor FIRST: contributions and pair resolution both resolve at
    // exactly this commit; the publish CAS below refuses if anything moved
    val anchor = log.currentCommit(table.name)
    val contribs = contributions(spark, log, table, Some(anchor))
    if (contribs.sizeIs <= 1) return false
    val live = VersionedScan(
      spark, log, table, Some(anchor), dirs = Some(VersionedScan.NoDirs), overlays = Some(contribs))
    val commitId = CommitId(UUID.randomUUID().toString)
    val dir = appendsDir(table, commitId) // invisible until the commit lands
    val entry = MetadataFiles.published(spark, log, table, MetadataFiles.Appends, complete = true)
    // optimized write: the union of many small overlay leaves would land
    // one output file per input file otherwise — the squash exists to CUT
    // read amplification, so its own output must be size-packed
    val partCols = if (table.isSnapshot) Nil
      else table.partitionSchema.columns.map(_.name)
    val writer = VersionContext.distributeForWrite(live, partCols)
      .write.format(table.format.name)
    if (table.isSnapshot) writer.save(dir)
    else writer.partitionBy(partCols: _*).save(dir)
    // the fold replaces every older dir's stats coverage with its own
    FileStats.writeOverlayStats(spark, log, table, dir)
    interleaveSquashForTest.foreach(f => f())
    val update = TableUpdate(
      TableUpdateMetadata(commitId, user, message, java.time.Instant.now(), None), Nil)
      .withTableMetadata(DataSchema.written(spark, log, table, live.schema, Nil) ++ entry)
    if (ctx.metastore.commitIf(table.name, update, anchor).isEmpty) {
      DeletionVectors.removeUnnamed(spark, table, dir)
      throw new TableVersions.ConcurrentWriteException(
        s"concurrent commit moved ${table.name.fullyQualifiedName} past ${anchor.id} " +
          "during a row-overlay squash — nothing changed, re-run")
    }
    true
  }

  /** AUTO-SQUASH — the merge-on-read analogue of
    * [[Compaction.autoCompact]]: when more than `maxDirs` overlay dirs
    * contribute to current reads (each one adds its leaves to EVERY read),
    * fold them via [[squash]]; below the
    * threshold it is a no-op, not a junk history entry. The streaming
    * append sink calls this per micro-batch so a long-running stream
    * self-maintains instead of accruing one dir per trigger until an
    * operator notices the DESCRIBE DETAIL gauge. Best-effort under
    * concurrency: a racing commit makes the underlying squash refuse —
    * callers that cannot tolerate the throw (the sink) catch it and let
    * the next trigger retry. Returns whether a squash happened. */
  def autoSquash(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      maxDirs: Int = 16): Boolean = {
    require(maxDirs >= 1, "autoSquash maxDirs must be >= 1")
    if (overlayDirs(spark, ctx.metastore.tableVersions, table, None).sizeIs <= maxDirs) false
    else squash(spark, ctx, table, user,
      UpdateMessage(s"AUTO SQUASH row overlay (>$maxDirs dirs)"))
  }

  /** SHALLOW-CLONE carry ([[ShallowClone]]): materialize the source's
    * RESOLVED overlay rows at `at` (live contributions minus DV-hidden
    * rows) as one COMPLETE dir at `cloneAnchor` — the clone `dst`'s state
    * commit, which must carry the returned entry. The clone's lineage
    * holds none of the source's anchors — commit-id-keyed dirs give fork
    * isolation by construction, exactly like the DV pair carry. Refuses
    * when a live contribution's layout is not the current scheme (clone
    * the consolidated table instead). Empty when no overlay row is live. */
  private[spark] def cloneResolvedState(
      spark: SparkSession,
      log: TableVersions,
      src: TableDefinition,
      at: CommitId,
      dst: TableDefinition,
      cloneAnchor: CommitId): Map[String, String] = {
    val contribs = contributions(spark, log, src, Some(at))
    if (contribs.isEmpty) return Map.empty
    val curSig = src.partitionSchema.columns.map(_.name)
    contribs.foreach(c => c.leaves.foreach {
      case (Some(p), _) =>
        require(p.columnValues.map(_.column.name) == curSig,
          s"shallow clone of ${src.name.fullyQualifiedName} @ ${at.id}: a live " +
            "row-overlay contribution predates the current partition scheme — " +
            "consolidate eras (or OPTIMIZE) before cloning")
      case _ => ()
    })
    val live = VersionedScan(
      spark, log, src, Some(at), dirs = Some(VersionedScan.NoDirs), overlays = Some(contribs))
    val dir = appendsDir(src, cloneAnchor) // linked tables share the location
    val entry = MetadataFiles.published(spark, log, dst, MetadataFiles.Appends, complete = true)
    val writer = VersionContext
      .distributeForWrite(live, if (src.isSnapshot) Nil else curSig)
      .write.format(src.format.name)
    if (src.isSnapshot) writer.save(dir)
    else writer.partitionBy(curSig: _*).save(dir)
    entry
  }

  /** MERGE-ON-READ UPDATE: hide every matching row's preimage behind
    * deletion vectors and land the postimages (assignments applied)
    * through [[append]] — ONE atomic commit carrying both the pair
    * sidecar and the overlay rows, so no reader ever sees the row absent
    * or doubled. Writes O(matched rows), never a partition rewrite — the
    * scattered-row UPDATE shape at 100 TB (a predicate touching one row
    * in every partition costs a full-table rewrite copy-on-write). Works
    * on MIXED partition-scheme folds too: preimages are hidden by
    * `(file, pos)` regardless of era, postimages land under the current
    * scheme — the same reason merge-on-read DELETE never needs the
    * uniform-fold guard.
    *
    * Rows moved across partitions by a SET on a partition column land in
    * their new partition (overlay, or a real dir when absent) while the
    * old copies are vector-hidden. Assignments resolve against the
    * LOGICAL view; a stale pre-rename name refuses loudly (the
    * [[DeletionVectors.delete]] empty-frame guard). Returns the number of
    * updated rows; a no-match update commits nothing. */
  /** MERGE-ON-READ selective overwrite — `INSERT INTO t REPLACE WHERE`
    * under `spark.graft.dml.mergeOnRead=true` ([[ReplaceWhere]] routes
    * here): every visible row matching `pred` hides behind deletion-vector
    * pairs and `incoming` lands as overlay rows (fresh dirs for absent
    * partitions) — ONE scoped-OCC commit, ZERO partition rewrites,
    * O(changes) written. The arbitrary-region backfill shape at 100 TB:
    * copy-on-write REPLACE WHERE pays a rewrite of every partition the
    * region touches; this pays the matched rows' pairs plus the incoming
    * rows. Scoped OCC: the preimage partitions join the conflict scope,
    * so disjoint concurrent writers compose while overlapping ones refuse.
    * Returns the number of rows hidden. */
  def replaceWhere(
      ctx: VersionContext,
      table: TableDefinition,
      pred: org.apache.spark.sql.Column,
      incoming: DataFrame,
      user: UserId,
      message: UpdateMessage): Long = {
    val spark = SparkSession.active
    val log = ctx.metastore.tableVersions
    val expected = log.currentCommit(table.name)
    val visible = VersionedScan(
      spark, log, table, pointers = true, names = VersionedScan.Names.AtState)
    val (fileCol, posCol) = (VersionedScan.FileCol, VersionedScan.PosCol)
    if (visible.columns.isEmpty) { // never-written table: nothing to hide
      if (!incoming.isEmpty) { append(incoming, ctx, table, user, message); () }
      return 0L
    }
    val matched = visible.where(pred)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = matched.count()
      if (n == 0L && incoming.isEmpty) return 0L // no region, no rows: no-op
      val sidecar =
        if (n == 0L) None
        else Some(DeletionVectors.foldedPairs(
          spark, log, table,
          matched.select(col(fileCol).as("file"), col(posCol).as("pos"))))
      val preimageParts: Set[Partition] =
        if (table.isSnapshot) Set.empty
        else VersionContext.partitionValues(matched, table.partitionSchema).toSet
      append(
        incoming, ctx, table, user, message,
        extraPairs = sidecar, expectedOverride = Some(expected),
        pairScope = Some(preimageParts))
      n
    } finally { matched.unpersist(); () }
  }

  def update(
      ctx: VersionContext,
      table: TableDefinition,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      user: UserId,
      message: UpdateMessage): Long = {
    val spark = SparkSession.active
    val log = ctx.metastore.tableVersions
    val expected = log.currentCommit(table.name)
    val visible = VersionedScan(
      spark, log, table, pointers = true, names = VersionedScan.Names.AtState)
    val (fileCol, posCol) = (VersionedScan.FileCol, VersionedScan.PosCol)
    if (visible.columns.isEmpty) return 0L
    // stale-name guard (the DV-delete posture): analyze predicate and
    // assignment expressions against a lineage-free frame of the logical
    // view so a pre-rename name fails loudly instead of resolving through
    // the mapping projection into the wrong physical column
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        visible.schema.filterNot(f => f.name == fileCol || f.name == posCol)))
    probe.where(cond)
    assignments.foreach { case (_, v) => probe.select(v) }
    val dataCols = visible.columns.filterNot(c => c == fileCol || c == posCol).toSeq
    assignments.foreach { case (n, _) =>
      require(dataCols.exists(_.equalsIgnoreCase(n)),
        s"UPDATE assignment targets unknown column $n on ${table.name.fullyQualifiedName}")
    }
    val matched = visible.where(cond)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = matched.count()
      if (n == 0L) return 0L
      val sidecar = DeletionVectors.foldedPairs(
        spark, log, table,
        matched.select(col(fileCol).as("file"), col(posCol).as("pos")))
      val byName = assignments.map { case (k, v) => k.toLowerCase -> v }.toMap
      val updated = matched.select(dataCols.map { c =>
        byName.get(c.toLowerCase).map(_.as(c)).getOrElse(col(c))
      }: _*)
      // scoped OCC (q72 composition): the preimage partitions join the
      // declared conflict scope, so disjoint concurrent writers land
      // without retry while same-partition/same-file ones refuse loudly
      val preimageParts: Set[Partition] =
        if (table.isSnapshot) Set.empty
        else VersionContext.partitionValues(matched, table.partitionSchema).toSet
      append(
        updated, ctx, table, user, message,
        extraPairs = Some(sidecar), expectedOverride = Some(expected),
        pairScope = Some(preimageParts))
      n
    } finally { matched.unpersist(); () }
  }
}
