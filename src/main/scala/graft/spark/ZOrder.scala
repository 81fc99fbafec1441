package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.Metastore.TableChanges
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * Z-order clustering compaction — the multi-dimensional OPTIMIZE: rewrite
 * the current version with rows ordered along a Z-curve (bit-interleaved)
 * key over the chosen columns, so rows close in the N-dimensional key space
 * land in the same files/row-groups. Parquet min/max footer stats then
 * prune range predicates on EVERY z-ordered dimension, where a linear sort
 * only serves its leading column (the second sort key's per-file range
 * stays full-width). This is the Delta/Iceberg `OPTIMIZE ... ZORDER BY`
 * maintenance op, expressed through the ordinary versioned write path —
 * the rewrite is row-invisible, atomic at commit, and time-travelable.
 *
 * Mechanics: each column is normalized to a `bits`-bit bucket index by
 * min/max range (two scalars per column collected to the driver — metadata,
 * not data), the indexes are bit-interleaved into one long, and the rewrite
 * range-partitions + sorts on that key. One shuffle, same cost shape as any
 * global sort; no row ever reaches the driver.
 */
object ZOrder {

  /** Bit-interleaved Z-value over `cols`, each normalized to `bits` buckets
    * by its `[lo, hi]` range: bit `j` of dimension `k` lands at position
    * `j * N + k`. Nulls sort first (bucket 0). Plain shift/mask arithmetic —
    * stays inside whole-stage codegen. */
  def zvalue(cols: Seq[(Column, Double, Double)], bits: Int = 16): Column = {
    require(cols.nonEmpty, "zorder needs at least one column")
    require(cols.size * bits <= 62, s"${cols.size} dims × $bits bits overflow a long")
    val n = cols.size
    val buckets = 1 << bits
    val normed = cols.map { case (c, lo, hi) =>
      if (hi == lo) lit(0)
      else
        least(
          lit(buckets - 1),
          greatest(
            lit(0),
            floor((coalesce(c.cast("double"), lit(lo)) - lit(lo)) /
              lit(hi - lo) * lit(buckets)).cast("int")))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, j) =>
      normed.zipWithIndex.foldLeft(acc) { case (a, (v, k)) =>
        a.bitwiseOR(shiftleft(shiftright(v, j).bitwiseAND(lit(1)).cast("long"), j * n + k))
      }
    }
  }

  /** Per-column min/max ranges in one aggregation pass (2×N scalars to the
    * driver). */
  private def ranges(df: DataFrame, zorderCols: Seq[String]): Seq[(Column, Double, Double)] = {
    val aggs = zorderCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"__min_$c"), max(col(c).cast("double")).as(s"__max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    zorderCols.zipWithIndex.map { case (c, i) =>
      val lo = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val hi = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      (col(c), lo, hi)
    }
  }

  /** Rewrite `table`'s current contents z-ordered by `zorderCols` as a
    * fresh version. Snapshot tables: `numFiles` range-partitioned output
    * files, each owning a compact Z-curve segment. Partitioned tables: one
    * writer per Hive partition (like [[Compaction.compact]]) with rows
    * z-sorted WITHIN each partition, clustering at row-group granularity. */
  /** `partitions`: when non-empty, a PARTITION-SCOPED Z-order — only those
    * partitions are read and re-clustered (OPTIMIZE the hot partitions);
    * untouched partitions keep their version pointers, and the rewritten
    * partitions' deletion vectors are shed via
    * [[DeletionVectors.stageTombstones]]. Z-value ranges are computed over the
    * SCOPED data, which is what clusters it best.
    *
    * `targetBytes`: SIZE-CAPPED Z-order (the Delta `OPTIMIZE ... ZORDER`
    * + maxFileSize contract): the writer count derives from the scoped
    * CURRENT bytes (one distributed listing, the [[Compaction.compactToSize]]
    * bound) instead of `numFiles`/one-per-partition — at 100 TB a
    * re-clustered hot partition must land as scan-sized files, not one
    * monolith. Partitioned tables range-partition on (partition cols, z),
    * so each writer owns a compact z-segment of its partition and dynamic
    * partitioning still routes rows to the right dirs; clustering quality
    * per file is unchanged. */
  def zorderCompact(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      userId: UserId,
      message: UpdateMessage,
      zorderCols: Seq[String],
      numFiles: Int = 8,
      bits: Int = 16,
      partitions: Seq[Partition] = Nil,
      targetBytes: Option[Long] = None): (TableVersion, TableChanges) = {
    require(zorderCols.nonEmpty, "zorder needs at least one column")
    require(numFiles > 0, "numFiles must be positive")
    require(partitions.isEmpty || !table.isSnapshot,
      "partition-scoped Z-order requires a partitioned table")
    val log = ctx.metastore.tableVersions
    PartitionEvolution.requireUniformFold(log, table, "Z-ORDER")
    // OCC anchor (like Compaction): the rewrite commits with the Q72 rebase
    // discipline against the state it read — a racing DV delete or
    // overlapping DML conflicts loudly instead of being silently clobbered
    val readCommit = log.currentCommit(table.name)
    // DV-aware (like Compaction): the Z-order rewrite must not resurrect
    // merge-on-read-deleted rows into the clustered files
    val current = VersionedScan(
      spark, log, table,
      at = if (partitions.isEmpty) Some(readCommit) else None,
      partitions = if (partitions.isEmpty) None else Some(partitions.toSet),
      names = VersionedScan.Names.AtHead)
    val z = zvalue(ranges(current, zorderCols), bits)
    def writersFor(bytes: Long, target: Long): Int =
      math.max(1L, math.min(Int.MaxValue.toLong, (bytes + target - 1) / target)).toInt
    val packed =
      if (table.isSnapshot) {
        val files = targetBytes match {
          case Some(t) =>
            log.versionAt(table.name, readCommit) match {
              case SnapshotTableVersion(v) if v != Version.Unversioned =>
                writersFor(Compaction.snapshotByteSize(spark, table, v), t)
              case _ => 1
            }
          case None => numFiles
        }
        current.withColumn("__z", z)
          .repartitionByRange(files, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      } else {
        val parts = table.partitionSchema.columns.map(c => col(c.name))
        targetBytes match {
          case Some(t) =>
            // size the SCOPED partitions (one distributed listing) and
            // range-bin (partition cols, z) across Σ ceil(bytes/target)
            // writers — the explicit count keeps AQE from re-coalescing
            // the split away, and the leading partition columns keep each
            // writer's rows (mostly) within one Hive partition
            val scoped = log.versionAt(table.name, readCommit) match {
              case PartitionedTableVersion(pvs) =>
                if (partitions.isEmpty) pvs
                else pvs.view.filterKeys(partitions.toSet).toMap
              case _ => Map.empty[Partition, Version]
            }
            val writers = math.max(1L, math.min(Int.MaxValue.toLong,
              Compaction.partitionByteSizes(spark, table, scoped).values
                .map(b => writersFor(b, t).toLong).sum)).toInt
            current.withColumn("__z", z)
              .repartitionByRange(writers, parts :+ col("__z"): _*)
              .sortWithinPartitions(parts :+ col("__z"): _*)
              .drop("__z")
          case None =>
            current.withColumn("__z", z)
              .repartition(parts: _*)
              .sortWithinPartitions(parts :+ col("__z"): _*)
              .drop("__z")
        }
      }
    Compaction.commitRewrite(spark, ctx, table, packed, readCommit, userId, message)
  }
}
