package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, spark_partition_id}

import graft.core._
import graft.core.Metastore.TableChanges
import graft.core.TableVersions.{TableOperation, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * Offline compaction (the OPTIMIZE/bin-packing maintenance op): rewrite the
 * CURRENT contents of a versioned table as one fresh version whose files
 * are packed — many small files (streaming commits, frequent small inserts)
 * become few large ones, without changing a single row.
 *
 * Because it rides the ordinary versioned write path, compaction inherits
 * every safety property of [[VersionContext.DatasetVersionOps.versionedStage]]:
 * the packed files land in never-referenced staging dirs, readers flip to
 * them atomically at commit, the old (fragmented) version dirs remain on
 * disk for time travel, and [[Vacuum]] reclaims them once they age out of
 * retention. A crash mid-compaction leaves only invisible orphans. The
 * commit itself uses the COW-rewrite OCC discipline
 * ([[graft.core.TableVersions.commitRebase]], the Q72 rule): anchored at
 * the commit the read resolved, rebasing over disjoint-partition writers
 * and throwing [[graft.core.TableVersions.ConcurrentWriteException]] when
 * an intervening commit (a DV delete, an overlapping DML) touches what was
 * rewritten — OPTIMIZE can never silently resurrect concurrently deleted
 * rows or drop another writer's commit.
 *
 * Packing strategy:
 *  - snapshot tables: `coalesce(maxFiles)` — a narrow (no-shuffle) merge of
 *    input splits into at most `maxFiles` output files;
 *  - partitioned tables: `repartition(partitionCols)` — one shuffle keyed
 *    by the partition columns, so each Hive partition is written by exactly
 *    one task → one file per partition dir (the classic small-file fix).
 *    At 100 TB per-partition data can exceed one task's comfort; pass
 *    `filesPerPartition > 1` to salt the shuffle key and split each
 *    partition across that many writers.
 */
object Compaction {

  /** `partitions`: when non-empty, a PARTITION-SCOPED compaction — only
    * those partitions are read and rewritten (the 100 TB posture: OPTIMIZE
    * the hot partitions, not the table). Untouched partitions keep their
    * version pointers; the rewritten partitions' deletion vectors are shed
    * via [[DeletionVectors.stageTombstones]].
    *
    * `splitsByPartition`: BYTES-AWARE bin-packing ([[compactToSize]]'s
    * policy output) — a per-partition writer count overriding the global
    * `filesPerPartition`, so a 500 GB partition splits to ~target-sized
    * files while small partitions still merge to one. Applied as a
    * per-partition salt modulus resolved through ONE broadcast join with
    * the (metadata-sized) splits map — no extra scan, no skew on the
    * salt. */
  def compact(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      userId: UserId,
      message: UpdateMessage,
      maxFiles: Int = 1,
      filesPerPartition: Int = 1,
      partitions: Seq[Partition] = Nil,
      splitsByPartition: Map[Partition, Int] = Map.empty): (TableVersion, TableChanges) = {
    require(maxFiles > 0 && filesPerPartition > 0, "file targets must be positive")
    require(partitions.isEmpty || !table.isSnapshot,
      "partition-scoped compaction requires a partitioned table")
    val log = ctx.metastore.tableVersions
    PartitionEvolution.requireUniformFold(log, table, "OPTIMIZE")
    // OCC anchor, captured BEFORE the read resolves: the rewrite is a
    // read-modify-write of the state this commit names, so the commit below
    // REBASES over it ([[TableVersions.commitRebase]]) — an intervening
    // DV delete (empty-ops commit → whole-table scope) or an overlapping
    // DML conflicts loudly instead of being pointer-flipped away (deleted
    // rows silently resurrected); disjoint-partition writers compose.
    val readCommit = log.currentCommit(table.name)
    // read through the SAME log the commit lands in — a separately-passed
    // log could resolve a different history than the one being committed to.
    // The DV-aware read (identical to the raw scan when no deletion
    // sidecar exists) keeps OPTIMIZE from resurrecting merge-on-read
    // deleted rows into the rewritten files — compaction is exactly where
    // deletion vectors get absorbed into the physical layout.
    val current = VersionedScan(
      spark, log, table,
      at = if (partitions.isEmpty) Some(readCommit) else None,
      partitions = if (partitions.isEmpty) None else Some(partitions.toSet),
      names = VersionedScan.Names.AtHead)
    val packed =
      if (table.isSnapshot) current.coalesce(maxFiles)
      else if (splitsByPartition.exists(_._2 > 1)) {
        // bytes-aware: each partition salts over ITS OWN writer count —
        // one broadcast join against the metadata-sized splits map
        // (values travel as the commit log's string rendering, matched
        // through Spark's own CAST so typed partition columns agree)
        import org.apache.spark.sql.functions.{broadcast, coalesce => fcoalesce}
        val partCols = table.partitionSchema.columns.map(_.name)
        val splitCol = "__graft_splits"
        val splitsDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            splitsByPartition.toSeq.map { case (p, n) =>
              org.apache.spark.sql.Row.fromSeq(
                partCols.map(c => p.columnValues
                  .find(_.column.name.equalsIgnoreCase(c)).map(_.value).orNull) :+ n)
            }, 1),
          org.apache.spark.sql.types.StructType(
            partCols.map(c => org.apache.spark.sql.types.StructField(
              s"__p_$c", org.apache.spark.sql.types.StringType)) :+
              org.apache.spark.sql.types.StructField(
                splitCol, org.apache.spark.sql.types.IntegerType)))
        val joined = current.join(
          broadcast(splitsDf),
          partCols.map(c => col(c).cast("string") === col(s"__p_$c"))
            .reduce(_ && _),
          "left")
        val parts = partCols.map(col)
        // EXPLICIT shuffle-partition count: one task per requested output
        // file (the exact parallelism a sized rewrite wants at any scale),
        // and a count-less repartition would let AQE re-coalesce the salted
        // buckets back into few tasks — silently undoing the split
        val numTasks = math.max(
          spark.sessionState.conf.numShufflePartitions,
          math.min(splitsByPartition.values.map(_.toLong).sum, 200000L).toInt)
        val salted = joined.repartition(
          numTasks,
          parts :+ pmod(spark_partition_id(), fcoalesce(col(splitCol), lit(1))): _*)
        salted.drop((splitCol +: partCols.map(c => s"__p_$c")): _*)
      } else {
        val parts = table.partitionSchema.columns.map(c => col(c.name))
        val keys =
          if (filesPerPartition == 1) parts
          // deterministic salt spreads one partition's rows over N writers
          else parts :+ pmod(spark_partition_id(), lit(filesPerPartition))
        current.repartition(keys: _*)
      }
    commitRewrite(spark, ctx, table, packed, readCommit, userId, message)
  }

  /** Stage `packed` — the rewrite of state `readCommit` — as invisible
    * version dirs and commit it with the Q72 rebase discipline anchored at
    * the read state (never plain last-writer-wins: a maintenance rewrite
    * must not clobber a concurrent writer); the commit itself records the
    * deletion vectors it absorbed. Shared by OPTIMIZE and Z-ORDER. */
  private[spark] def commitRewrite(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      packed: org.apache.spark.sql.DataFrame,
      readCommit: TableVersions.CommitId,
      userId: UserId,
      message: UpdateMessage): (TableVersion, TableChanges) = {
    val log = ctx.metastore.tableVersions
    val before: Map[Partition, Version] = log.versionAt(table.name, readCommit) match {
      case PartitionedTableVersion(pvs) => pvs
      case _                            => Map.empty
    }
    val staged = packed.versionedStage(ctx, table, userId, message)
    if (staged.update.operations.isEmpty) // empty table: nothing to rewrite
      return (log.currentVersion(table.name), TableChanges(Nil))
    // when the rewrite replaces EVERY live partition (or the snapshot), the
    // old deletion vectors are fully absorbed into the new files — the
    // commit carries the `absorbed` entry so reads (and the SQL catalog
    // guard) stop resolving the stale pair sidecars for the new state. A
    // partition whose version did not move (e.g. every row DV-hidden → no
    // rows to write) still needs the old pairs, so the entry is skipped.
    // Scope is judged against the READ state and OUR staged ops: a disjoint
    // commit the rebase composes with neither adds vectors (DV commits
    // conflict) nor keeps stale ones (its own overwrite already orphaned
    // them).
    val written = staged.update.operations.collect {
      case TableOperation.AddPartitionVersion(p, _) => p
    }.toSet
    val fullRewrite = table.isSnapshot || before.keySet.subsetOf(written)
    // a PARTIAL rewrite (partition-scoped, or a partition whose rows were
    // all DV-hidden and so kept its old version) still sheds the vectors
    // of the files it DOES replace — tombstones staged under its own id
    val shed =
      if (fullRewrite) Map.empty[String, String]
      else DeletionVectors.stageTombstones(
        spark, log, table, readCommit, staged.update.operations, staged.update.metadata.id)
    try
      ctx.metastore.commitRebase(
        table.name, staged.update.withTableMetadata(shed), readCommit,
        metadata = () => staged.schemaEntry(log) ++
          (if (fullRewrite) DeletionVectors.absorbedEntry(spark, log, table) else Map.empty))
    catch {
      case e: TableVersions.ConcurrentWriteException if shed.nonEmpty =>
        // a lost rewrite removes its own unnamed tombstone dir
        DeletionVectors.removeUnnamed(
          spark, table, DeletionVectors.deletesDir(table, staged.update.metadata.id))
        throw e
    }
  }


  /** SIZE-TARGETED compaction (`OPTIMIZE t TARGET n MB`, the Delta/Iceberg
    * binpack contract): rewrite to files of roughly `targetBytes` each
    * instead of a global per-partition count — at 100 TB "one file per
    * partition" can mean 500 GB files, which no downstream scan splits
    * well. The policy layer here sizes every scoped partition with ONE
    * distributed listing (O(#partitions) driver rows, zero driver
    * filesystem walks — the [[autoCompact]] bound), derives a
    * per-partition writer count `ceil(bytes / target)`, and hands
    * [[compact]] the splits map: oversized partitions split to ~target
    * files, small partitions still merge to one, and every safety
    * property (OCC rebase, DV absorb, staging atomicity) is inherited
    * unchanged. Snapshot tables size their single version dir and
    * coalesce to `ceil(bytes / target)` files.
    *
    * Sizes are the CURRENT physical bytes; post-rewrite files can land
    * somewhat smaller (encoding/compression differences), which only errs
    * toward more parallelism — the conservative direction. */
  def compactToSize(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      userId: UserId,
      message: UpdateMessage,
      targetBytes: Long,
      partitions: Seq[Partition] = Nil): (TableVersion, TableChanges) = {
    require(targetBytes > 0, "target file size must be positive")
    val log = ctx.metastore.tableVersions
    def splitsFor(bytes: Long): Int =
      math.max(1L, math.min(Int.MaxValue.toLong,
        (bytes + targetBytes - 1) / targetBytes)).toInt
    log.currentVersion(table.name) match {
      case SnapshotTableVersion(v) =>
        val bytes =
          if (v == Version.Unversioned) 0L
          else snapshotByteSize(spark, table, v)
        compact(spark, ctx, table, userId, message, maxFiles = splitsFor(bytes))
      case PartitionedTableVersion(pvs) =>
        val scoped =
          if (partitions.isEmpty) pvs
          else pvs.view.filterKeys(partitions.toSet).toMap
        val sizes = partitionByteSizes(spark, table, scoped)
        val splits = scoped.keys.map(p => p -> splitsFor(sizes.getOrElse(p, 0L))).toMap
        compact(spark, ctx, table, userId, message,
          partitions = partitions, splitsByPartition = splits)
    }
  }

  /** Per-partition CURRENT-version byte sizes: one Spark job listing every
    * partition dir in parallel (the [[listedCounts]] shape, summing
    * lengths). */
  private[spark] def partitionByteSizes(
      spark: SparkSession,
      table: TableDefinition,
      pvs: Map[Partition, Version]): Map[Partition, Long] = {
    if (pvs.isEmpty) return Map.empty
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val dirs = pvs.toList.map { case (p, v) =>
      (SparkPaths.escapedPartitionPath(p), SparkPaths.dirFor(table.location, p, v))
    }
    val slices = math.max(1, math.min(dirs.size, spark.sparkContext.defaultParallelism))
    val sized = spark.sparkContext.parallelize(dirs, slices).map { case (key, dir) =>
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(conf.value)
      val bytes =
        if (!fs.exists(path)) 0L
        else fs.listStatus(path).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
          .map(_.getLen).sum
      (key, bytes)
    }.collect().toMap
    pvs.keys.map(p => p -> sized.getOrElse(SparkPaths.escapedPartitionPath(p), 0L)).toMap
  }

  /** A snapshot state's total data bytes (one driver listing of the single
    * version dir). */
  private[spark] def snapshotByteSize(
      spark: SparkSession,
      table: TableDefinition,
      v: Version): Long = {
    val p = new org.apache.hadoop.fs.Path(
      Partition.normalizedDir(table.location).toString + v.label)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map(_.getLen).sum
  }

  /** AUTO-COMPACTION: compact exactly the partitions under SMALL-FILE
    * PRESSURE — every partition whose current version dir holds ≥
    * `minFiles` data files rewrites (to `filesPerPartition` files);
    * everything else keeps its version pointer untouched. Detection never
    * does O(#files) work on the driver: when the current state carries a
    * [[FileStats]] `_stats` sidecar the per-partition counts come from its
    * per-file rows (a pure metadata read — no filesystem listing at all);
    * otherwise ONE Spark job lists the partition dirs in parallel and
    * returns O(#partitions) counts. Either way the very condition
    * auto-compact targets — small-file pressure at 10 000 partitions —
    * cannot make the detection pass itself the bottleneck, and a table
    * with 3 hot streaming partitions compacts 3 partitions, not 10 000.
    * Snapshot tables compact whole when their single version dir crosses
    * the threshold.
    *
    * Returns what was compacted (nothing = no commit happened — pressure
    * below threshold is a no-op, not a junk history entry). */
  final case class AutoCompactReport(partitions: Seq[Partition], snapshot: Boolean) {
    def compactedAnything: Boolean = snapshot || partitions.nonEmpty
  }

  def autoCompact(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      userId: UserId,
      minFiles: Int = 4,
      filesPerPartition: Int = 1): AutoCompactReport = {
    require(minFiles >= 2, "minFiles < 2 would rewrite partitions already at one file")
    val log = ctx.metastore.tableVersions
    PartitionEvolution.requireUniformFold(log, table, "auto-compaction")
    log.currentVersion(table.name) match {
      case SnapshotTableVersion(v) =>
        val pressured = v != Version.Unversioned && snapshotFileCount(
          spark, log, table, v) >= minFiles
        if (pressured) {
          compact(spark, ctx, table, userId,
            UpdateMessage(s"AUTO OPTIMIZE (>=$minFiles files)"), maxFiles = filesPerPartition)
          ()
        }
        AutoCompactReport(Nil, snapshot = pressured)
      case PartitionedTableVersion(pvs) =>
        val counts = partitionFileCounts(spark, log, table, pvs)
        val doomed = pvs.keys.toList.filter(p => counts.getOrElse(p, 0) >= minFiles)
        if (doomed.nonEmpty) {
          compact(spark, ctx, table, userId,
            UpdateMessage(s"AUTO OPTIMIZE ${doomed.size} partitions (>=$minFiles files)"),
            filesPerPartition = filesPerPartition, partitions = doomed)
          ()
        }
        AutoCompactReport(doomed, snapshot = false)
    }
  }

  /** Per-partition data-file counts of the CURRENT state: the `_stats`
    * sidecar's per-file rows when the state has one (metadata only),
    * else a distributed listing of the partition dirs. */
  private def partitionFileCounts(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      pvs: Map[Partition, Version]): Map[Partition, Int] =
    sidecarCounts(spark, log, table, pvs)
      .getOrElse(listedCounts(spark, table, pvs))

  /** Counts from the current state's zone-map sidecar: each row is one
    * data file, so counting rows per (partition path, version label) —
    * parsed from the tail of the recorded file path — is the whole job.
    * None when the state has no sidecar (or its rows don't cover the
    * layout) — the caller falls back to listing. */
  private def sidecarCounts(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      pvs: Map[Partition, Version]): Option[Map[Partition, Int]] =
    try {
      val zm = FileStats.loadZoneMaps(spark, log, table)
      val np = table.partitionSchema.columns.size
      // …/<k=v levels>/<label>/<file> — parse from the END of the path, no
      // assumptions about how the table location prefix is rendered
      val counted = zm
        .select(org.apache.spark.sql.functions.split(col("file"), "/").as("seg"))
        .select(
          org.apache.spark.sql.functions.concat_ws(
            "/", org.apache.spark.sql.functions.expr(s"slice(seg, -${np + 2}, $np)")).as("ppath"),
          org.apache.spark.sql.functions.expr("element_at(seg, -2)").as("label"))
        .groupBy("ppath", "label")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .collect()
      val byKey = counted.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt).toMap
      Some(pvs.map { case (p, v) =>
        p -> byKey.getOrElse((SparkPaths.escapedPartitionPath(p), v.label), 0)
      })
    } catch { case _: Exception => None }

  /** ONE Spark job listing every partition's current version dir in
    * parallel — O(#partitions) driver memory, zero driver filesystem
    * walks. */
  private def listedCounts(
      spark: SparkSession,
      table: TableDefinition,
      pvs: Map[Partition, Version]): Map[Partition, Int] = {
    if (pvs.isEmpty) return Map.empty
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val dirs = pvs.toList.map { case (p, v) =>
      (SparkPaths.escapedPartitionPath(p), SparkPaths.dirFor(table.location, p, v))
    }
    val slices = math.max(1, math.min(dirs.size, spark.sparkContext.defaultParallelism))
    val counted = spark.sparkContext.parallelize(dirs, slices).map { case (key, dir) =>
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(conf.value)
      val n =
        if (!fs.exists(path)) 0
        else fs.listStatus(path).count(st => st.isFile &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      (key, n)
    }.collect().toMap
    pvs.keys.map(p => p -> counted.getOrElse(SparkPaths.escapedPartitionPath(p), 0)).toMap
  }

  /** A snapshot state's file count: sidecar rows when present, else one
    * driver listing of the single version dir. */
  private def snapshotFileCount(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      v: Version): Int =
    (try Some(FileStats.loadZoneMaps(spark, log, table).count().toInt)
     catch { case _: Exception => None }).getOrElse {
      val p = new org.apache.hadoop.fs.Path(
        Partition.normalizedDir(table.location).toString + v.label)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    }
}
