package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, NoopCache, PartitionSpec}
import org.apache.spark.sql.types.StructType

/**
 * Driver-side LISTING cache for IMMUTABLE versioned dirs: version and
 * overlay dirs never change once referenced (labels are mint-unique,
 * overlay dirs publish under fresh commit ids), so a dir's file list is
 * cached with no invalidation protocol. Staging dirs, sidecars and
 * [[FileStats]] file lists never enter it.
 *
 * A stock read builds a fresh `InMemoryFileIndex` with a fresh
 * `FileStatusCache` client and re-lists every dir — one Spark job above
 * 32 paths. [[fileIndex]] builds the index against ONE long-lived client
 * of Spark's shared cache (bounded by
 * `spark.sql.hive.filesourcePartitionFileCacheSize`; 0 disables it
 * through `NoopCache`), so a read lists only dirs no earlier read listed.
 * The stock existence check still runs on every build, so a vacuumed dir
 * fails analysis exactly as before. Schemas are not cached: reads pass the
 * [[DataSchema]] record. `REFRESH TABLE` on a graft table drops every
 * table's listings (the shared cache evicts per client, not per path).
 */
object ListingCache {

  // one client for the process: Spark's shared cache keys entries by
  // (client, path), so a client per read would never hit
  @volatile private var listingClient: FileStatusCache = _

  /** The long-lived listing client, or `NoopCache` when the session
    * disables Spark's file-status cache. */
  private def listings(spark: SparkSession): FileStatusCache = {
    val conf = spark.sessionState.conf
    if (!conf.manageFilesourcePartitions || conf.filesourcePartitionFileCacheSize <= 0)
      NoopCache
    else synchronized {
      if (listingClient == null) listingClient = FileStatusCache.getOrCreate(spark)
      listingClient
    }
  }

  /** `REFRESH TABLE`: forget every cached listing. */
  private[spark] def invalidateAll(): Unit = Option(listingClient).foreach(_.invalidateAll())

  /** An `InMemoryFileIndex` over published version/overlay dirs, listed
    * through the shared cache; `partitions` fixes the partition values
    * (no path discovery). The existence check of the stock path runs on
    * every build: a reclaimed dir fails here, never from the cache. */
  private[spark] def fileIndex(
      spark: SparkSession,
      paths: Seq[String],
      options: Map[String, String],
      schema: Option[StructType],
      partitions: Option[PartitionSpec] = None): InMemoryFileIndex = {
    val roots = org.apache.spark.sql.GraftSqlShim.checkedPaths(
      paths, spark.sessionState.newHadoopConfWithOptions(options))
    new InMemoryFileIndex(spark, roots, options, schema, listings(spark), partitions)
  }
}
