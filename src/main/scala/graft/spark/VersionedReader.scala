package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.core.TableVersions.CommitId

/**
 * Versioned reads: resolve the commit log to concrete version-dir paths and
 * hand them to the ordinary Spark reader (SURVEY.md §7.2 step 5).
 *
 * Mirrors the reference's read model — any Spark query over the resolved
 * table "just works" (`examples/src/main/scala/com/gu/tableversions/examples/TableLoader.scala:37-38`),
 * with the Hive-catalog location indirection
 * (`spark/.../SparkHiveMetastore.scala:21-43`) replaced by an explicit path
 * list from the log. Partition pruning still applies: each partition's
 * `k=v` path segment is recovered via `basePath`, so partition-column
 * filters prune input files before the scan.
 *
 * Q26 time travel: `readAsOf` resolves the log at an arbitrary commit —
 * no state is mutated, so concurrent readers at different commits are fine.
 */
final case class VersionedReader(spark: SparkSession, log: TableVersions) {

  /** Read the table at its current version. */
  def read(table: TableDefinition): DataFrame =
    overlayUnion(table, materialize(table, log.currentVersion(table.name)), None, None)

  /** Read the table as of a specific commit (time travel). */
  def readAsOf(table: TableDefinition, commit: CommitId): DataFrame =
    overlayUnion(
      table,
      materialize(table, log.versionAt(table.name, commit), at = Some(commit)),
      Some(commit), None)

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

  /** RAW current-state scan over VERSION DIRS only — no overlay union, no
    * vector application: the zone-map writers' input ([[FileStats]]).
    * Stats sidecars key by file and must cover exactly the version-dir
    * files (overlay rows carry their OWN per-dir stats — indexing them
    * here would double-count). */
  private[spark] def readRawDirs(table: TableDefinition): DataFrame =
    materialize(table, log.currentVersion(table.name))

  /** [[readRawDirs]] scoped to a partition subset (the incremental stats
    * refresh scans only moved partitions). */
  private[spark] def readRawDirsPartitions(
      table: TableDefinition, partitions: Seq[Partition]): DataFrame =
    log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        val wanted = partitions.toSet
        val subset = pvs.filter { case (p, _) => wanted.contains(p) }
        if (subset.nonEmpty) materialize(table, PartitionedTableVersion(subset))
        else emptyLike(table, PartitionedTableVersion(pvs), None)
      case _ =>
        sys.error(
          s"readRawDirsPartitions requires a partitioned table: ${table.name.fullyQualifiedName}")
    }

  /** Read ONLY `partitions` at the table's current version — the pruned
    * input of partition-scoped operations ([[Merge.mergeInto]] reads just
    * the partitions it is about to rewrite, never the whole table).
    * Partitions the table doesn't hold yet contribute nothing; if none of
    * the requested partitions exist, the result is a zero-row frame that
    * keeps the table's schema. */
  def readPartitions(table: TableDefinition, partitions: Seq[Partition]): DataFrame =
    log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        val wanted = partitions.toSet
        val subset = pvs.filter { case (p, _) => wanted.contains(p) }
        val base =
          if (subset.nonEmpty) materialize(table, PartitionedTableVersion(subset))
          else emptyLike(table, PartitionedTableVersion(pvs), None)
        overlayUnion(table, base, None, None, only = Some(wanted))
      case _ =>
        sys.error(
          s"readPartitions requires a partitioned table: ${table.name.fullyQualifiedName}")
    }

  /** Read the current version with schema merging across version dirs —
    * the read side of ADDITIVE schema evolution: a column introduced by a
    * later write surfaces as NULL for partitions still on a version written
    * before the column existed. Merging unions the parquet/ORC footers of
    * each selected dir (metadata-only; no extra data pass). */
  def readMergedSchema(table: TableDefinition): DataFrame =
    overlayUnion(
      table,
      materialize(table, log.currentVersion(table.name), mergeSchema = true),
      None, None)

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
    * Zero cost when the table has no sidecars (a driver-side existence
    * walk, the same one every DV probe pays). */
  def readChanges(table: TableDefinition, from: CommitId, to: CommitId): DataFrame = {
    val vFrom = log.versionAt(table.name, from)
    val vTo = log.versionAt(table.name, to)
    if (PartitionEvolution.crossesBoundary(spark, log, table, Some(from), to))
      throw new IllegalStateException(
        s"readChanges(${from.id} -> ${to.id}) on ${table.name.fullyQualifiedName}: " +
          "the range crosses a partition-evolution boundary (the eras' logical " +
          "schemas differ) — re-anchor at-or-after the boundary commit")
    requireNoHiddenRows(table, from, to)
    val base = (vFrom, vTo) match {
      case (SnapshotTableVersion(a), SnapshotTableVersion(b)) =>
        if (a == b) emptyLike(table, vTo, Some(to))
        else materialize(table, vTo, at = Some(to))
      case (PartitionedTableVersion(pa), PartitionedTableVersion(pb)) =>
        val changed = pb.filter { case (p, v) => !pa.get(p).contains(v) }
        if (changed.isEmpty) emptyLike(table, vTo, Some(to))
        else materialize(table, PartitionedTableVersion(changed), at = Some(to))
      case _ =>
        sys.error(
          s"table ${table.name.fullyQualifiedName} changed partitioning shape between commits")
    }
    // merge-on-read appends ([[RowOverlay]]) land inside the range with no
    // version-pointer movement — they are NEW CONTENTS this diff must carry.
    // Dirs anchored at-or-before `from` already belonged to the from state;
    // liveness at `to` drops rows whose partition was since replaced (those
    // rows ride the replacement dir's scan above instead — no double count).
    val fromAnchors = log.updates(table.name).dropWhile(_.id != from).map(_.id).toSet
    // an overlay SQUASH anchored inside the range re-homes PRE-range rows
    // under an in-range anchor — anchor-based attribution resolves against
    // the PRE-squash dirs instead (still on disk for time travel; refuses
    // only when vacuum reclaimed them). No pair guard needed here: this
    // read already refused any in-range DV movement (requireNoHiddenRows),
    // and pre-range movement never touches in-range dirs' rows.
    val (contribs, _) =
      RowOverlay.contributionsAcrossSquash(spark, log, table, to, fromAnchors)
    overlayUnion(
      table, base, Some(to), None, excludeAnchors = fromAnchors,
      contribsOverride = Some(contribs))
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

  /** Materialize an explicit partition→version subset of the state at
    * `at` — the change feed's endpoint-scoped scans ([[ChangeFeed]]) and
    * nothing else; keeping it package-private preserves the invariant that
    * public reads always resolve through the commit log. */
  private[spark] def materializeSubset(
      table: TableDefinition, pvs: Map[Partition, Version], at: CommitId): DataFrame =
    if (pvs.isEmpty) spark.emptyDataFrame
    else materialize(table, PartitionedTableVersion(pvs), at = Some(at))

  /** Zero rows WITH the table's schema — an incremental consumer's selects
    * and aggregations must keep resolving on quiet intervals (the steady
    * state), not crash on a schema-less frame. Only a never-written table,
    * which has no schema anywhere, degrades to the schema-less empty. */
  private def emptyLike(
      table: TableDefinition, tv: TableVersion, at: Option[CommitId]): DataFrame = tv match {
    case SnapshotTableVersion(v) if v == Version.Unversioned => spark.emptyDataFrame
    case PartitionedTableVersion(m) if m.isEmpty             => spark.emptyDataFrame
    case _ => materialize(table, tv, at = at).limit(0)
  }

  private def materialize(
      table: TableDefinition,
      tv: TableVersion,
      mergeSchema: Boolean = false,
      at: Option[CommitId] = None,
      pointers: Option[(String, String)] = None): DataFrame = {
    // partition values are strings in the version model; pin Spark's
    // partition-dir parsing to strings so values round-trip verbatim
    // (SURVEY.md §2.3 Q1 note: otherwise hour="01" reads back as "1").
    // Schema resolution happens eagerly inside load(), so the conf only
    // needs to hold for this call (no per-read DataFrameReader option
    // exists for partition inference).
    SessionConf.withConf(
      spark, "spark.sql.sources.partitionColumnTypeInference.enabled", "false") {
      doMaterialize(table, tv, mergeSchema, at, pointers)
    }
  }

  /** `(file, pos)` pointer columns attached to a scan — `_metadata`
    * resolves only on the scan relation itself, never through a union,
    * so mixed-era folds attach per era scan BEFORE eras combine. */
  private def point(df: DataFrame, pointers: Option[(String, String)]): DataFrame =
    pointers.fold(df) { case (fileCol, posCol) =>
      import org.apache.spark.sql.functions.col
      df.select(
        col("*"),
        col("_metadata.file_path").as(fileCol),
        col("_metadata.row_index").as(posCol))
    }

  /** Union the live merge-on-read overlay rows ([[RowOverlay]]) into a
    * state scan. Each contributing `_appends/commit-<id>` dir loads under
    * its own layout (partition columns from its `k=v` subdirs, string-
    * pinned like every versioned read) with pointer columns attached per
    * scan — `_metadata` never resolves through a union — and type-widening
    * casts applied, then unions by name (missing columns NULL — the
    * additive-evolution posture). Zero cost when no overlay dir exists
    * (a fold of the log, no file-system call).
    *
    * `only` restricts to a wanted-partition set (partition-scoped reads);
    * `excludeAnchors` drops dirs anchored at-or-before a range start
    * ([[readChanges]]). A schema-less `base` (never-written table) skips
    * the union — overlay rows can only exist on written tables. */
  private def overlayUnion(
      table: TableDefinition,
      base: DataFrame,
      at: Option[CommitId],
      pointers: Option[(String, String)],
      only: Option[Set[Partition]] = None,
      excludeAnchors: Set[CommitId] = Set.empty,
      contribsOverride: Option[List[RowOverlay.Contribution]] = None): DataFrame = {
    if (base.columns.isEmpty) return base
    val contribs = contribsOverride
      .getOrElse(RowOverlay.contributions(spark, log, table, at))
      .filterNot(c => excludeAnchors.contains(c.anchor))
    if (contribs.isEmpty) return base
    val widened = ColumnMapping.widenedTypesAt(spark, log, table, at)
    val frames = contribs.flatMap { c =>
      val leaves = only match {
        case None       => c.leaves
        case Some(want) => c.leaves.filter { case (p, _) => p.forall(want.contains) }
      }
      if (leaves.isEmpty) None
      else Some(RowOverlay.loadLeaves(spark, log, table, c, leaves, pointers, widened))
    }
    frames.foldLeft(base)(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[read]]/[[readAsOf]] with `(file, pos)` pointers attached under the
    * given aliases — the one scan shape the deletion-vector machinery may
    * use (see [[point]] for why the attachment lives here). */
  private[spark] def readPointed(
      table: TableDefinition,
      asOf: Option[CommitId],
      fileCol: String,
      posCol: String,
      mergeSchema: Boolean = false): DataFrame = {
    val tv = asOf.map(log.versionAt(table.name, _))
      .getOrElse(log.currentVersion(table.name))
    overlayUnion(
      table,
      materialize(
        table, tv, mergeSchema = mergeSchema, at = asOf,
        pointers = Some((fileCol, posCol))),
      asOf, Some((fileCol, posCol)))
  }

  /** [[readPartitions]] with `(file, pos)` pointers attached. */
  private[spark] def readPartitionsPointed(
      table: TableDefinition,
      partitions: Seq[Partition],
      fileCol: String,
      posCol: String): DataFrame =
    log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        val wanted = partitions.toSet
        val subset = pvs.filter { case (p, _) => wanted.contains(p) }
        val ptr = Some((fileCol, posCol))
        val base =
          if (subset.nonEmpty)
            materialize(table, PartitionedTableVersion(subset), pointers = ptr)
          else if (pvs.isEmpty) spark.emptyDataFrame
          else materialize(table, PartitionedTableVersion(pvs), pointers = ptr).limit(0)
        overlayUnion(table, base, None, ptr, only = Some(wanted))
      case _ =>
        sys.error(
          s"readPartitions requires a partitioned table: ${table.name.fullyQualifiedName}")
    }

  /** TYPE WIDENING override ([[ColumnMapping.widen]]): when the state at
    * `at` widens columns, the scan must REQUEST the wide schema — files
    * from before the widen carry the narrow physical type. Base columns
    * come from the plain load; only the widened fields' types change.
    * Zero cost when nothing is widened (one fold of the cached log). */
  private def withWidening(
      table: TableDefinition,
      at: Option[CommitId],
      build: org.apache.spark.sql.types.StructType => DataFrame,
      plain: => DataFrame): DataFrame = {
    val widened = ColumnMapping.widenedTypesAt(spark, log, table, at)
    if (widened.isEmpty) plain
    else build(ColumnMapping.applyWideningToSchema(plain.schema, widened))
  }

  private def doMaterialize(
      table: TableDefinition,
      tv: TableVersion,
      mergeSchema: Boolean,
      at: Option[CommitId],
      pointers: Option[(String, String)]): DataFrame = {
    // the state's data columns; a mergeSchema read unions the footers
    lazy val record =
      if (mergeSchema) None else DataSchema.at(spark, log, table, at)
    tv match {
      case SnapshotTableVersion(v) if v == Version.Unversioned =>
        // the Unversioned sentinel maps to the BARE table location, which
        // holds the version subdirs once any write has happened — scanning
        // it would union every version's rows. A table at its init commit
        // has no contents; pre-existing unversioned data adoption is not a
        // read path this engine supports.
        spark.emptyDataFrame
      case SnapshotTableVersion(v) =>
        val path = VersionPaths.pathFor(table.location, v).toString
        // listing cached per immutable version dir ([[ListingCache]])
        def loadWith(schema: Option[org.apache.spark.sql.types.StructType]) =
          ListingCache.load(
            spark, table.format, Seq(path), Map("mergeSchema" -> mergeSchema.toString), schema)
        point(withWidening(table, at, s => loadWith(Some(s)), loadWith(record)), pointers)
      case PartitionedTableVersion(pvs) if pvs.nonEmpty =>
        // one scan per partition-column SIGNATURE: a metadata-only
        // partition evolution ([[PartitionEvolution.evolveMetadataOnly]])
        // leaves old-era dirs in the fold beside new-era ones, and one
        // load over both layouts would see conflicting partition columns.
        // Each era scans under its own layout (its partition columns from
        // dirs, everything else in-file) and the eras union by name —
        // every era carries the full logical column set. The CURRENT
        // scheme's era leads so the result keeps the table's natural
        // column order.
        val currentSig = table.partitionSchema.columns.map(_.name)
        val groups = pvs.toSeq
          .groupBy { case (p, _) => p.columnValues.map(_.column.name) }
          .toSeq
          .sortBy { case (sig, _) =>
            (if (sig == currentSig) 0 else 1, sig.mkString(","))
          }
          .map(_._2)
        // listings cached per immutable version dir ([[ListingCache]]): a
        // stock load lists every dir (one Spark job above 32 dirs), and
        // lifecycle queries re-resolve the same states dozens of times
        def loadGroup(
            entries: Seq[(Partition, Version)],
            schema: Option[org.apache.spark.sql.types.StructType]) = {
          val paths = entries
            .map { case (p, v) => SparkPaths.dirFor(table.location, p, v) }
            .sorted
          ListingCache.load(
            spark, table.format, paths,
            Map("basePath" -> table.location.toString, "mergeSchema" -> mergeSchema.toString),
            schema)
        }
        if (groups.lengthCompare(1) == 0)
          point(withWidening(
            table, at,
            s => loadGroup(groups.head, Some(s)),
            loadGroup(groups.head, record)), pointers)
        else {
          // eras hold different data columns, so each infers its own;
          // widening derives from the POINTER-FREE union schema, then every
          // era loads the same explicit wide schema
          val widened = ColumnMapping.widenedTypesAt(spark, log, table, at)
          val schemaOpt =
            if (widened.isEmpty) None
            else {
              val base = groups.map(loadGroup(_, None))
                .reduce(_.unionByName(_, allowMissingColumns = true)).schema
              Some(ColumnMapping.applyWideningToSchema(base, widened))
            }
          groups.map(g => point(
            loadGroup(g, schemaOpt), pointers))
            .reduce(_.unionByName(_, allowMissingColumns = true))
        }
      case PartitionedTableVersion(_) =>
        spark.emptyDataFrame
    }
  }
}
